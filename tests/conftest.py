from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from osm_cycling_quality_index_spark.session import get_spark, wait_for_warmup

    n = len(os.sched_getaffinity(0))  # what `nproc` reports
    s = get_spark(app_name="cqi-tests", master=f"local[{n}]", shuffle_partitions=n)
    # the worker warm-up job has ended before any test counts jobs
    wait_for_warmup(s)
    yield s
    s.stop()


def last_job(spark) -> int:
    """Id of the newest Spark job, read from the status store (no job)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return jobs.apply(0).jobId() if jobs.size() else -1


@pytest.fixture
def audit_calls(spark, monkeypatch):
    """Every ``Audit.stage`` call made while the test runs, as
    ``(stage, entry, record, Spark jobs the call started)``."""
    from osm_cycling_quality_index_spark.audit import Audit

    calls = []
    stage = Audit.stage

    def counted(self, name, entry):
        before = last_job(spark)
        rec = stage(self, name, entry)
        calls.append((name, entry, rec, last_job(spark) - before))
        return rec

    monkeypatch.setattr(Audit, "stage", counted)
    return calls
