from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from osm_cycling_quality_index_spark.session import get_spark

    n = len(os.sched_getaffinity(0))  # what `nproc` reports
    s = get_spark(app_name="cqi-tests", master=f"local[{n}]", shuffle_partitions=n)
    yield s
    s.stop()
