"""The Python worker warm-up that ``session.get_spark`` starts with a new
context: it reaches the worker pool that the Arrow kernel stages use, runs
once per context and writes no output, a later ``get_spark`` does not wait
for it, and a stop or an interpreter exit while it runs prints no Python
traceback and leaves no Python worker.

Each case runs in a fresh interpreter, because the shared test session's
pool is warm already."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from perfbench.run import _session_members

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

REACHES_POOL = r"""
import json
from osm_cycling_quality_index_spark.session import WARMUP_JOB, get_spark, wait_for_warmup
from osm_cycling_quality_index_spark.statusstore import StatusStore

def passthrough(batches):
    yield from batches

def ms(text):
    # "16 ms", or "total (min, med, max (stageId: taskId))\n4.0 s (1.3 s, ...)"
    value, unit = text.split("\n")[-1].split()[:2]
    return float(value) * {"ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}[unit]

spark = get_spark(app_name="warmup-test")
wait_for_warmup(spark)
get_spark(app_name="warmup-test")
wait_for_warmup(spark)
n = spark.sparkContext.defaultParallelism
spark.range(0, n, 1, n).mapInArrow(passthrough, "id long").collect()

jsc = spark.sparkContext._jsc.sc()
jsc.listenerBus().waitUntilEmpty()
sql = spark._jsparkSession.sharedState().statusStore()
eid = sql.executionsList().last().executionId()
values, nodes = sql.executionMetrics(eid), sql.planGraph(eid).allNodes()
start = [ms(values.get(m.accumulatorId()).get())
         for node in (nodes.apply(i) for i in range(nodes.size())) if node.name() == "MapInArrow"
         for m in (node.metrics().apply(k) for k in range(node.metrics().size()))
         if m.name() == "time to start Python workers"]

store = jsc.statusStore()
jobs = store.jobsList(None)
warm = [j for j in (jobs.apply(i) for i in range(jobs.size()))
        if j.description().isDefined() and j.description().get() == WARMUP_JOB]
stage_ids = {s for j in warm for s in (j.stageIds().apply(k) for k in range(j.stageIds().size()))}
stages = store.stageList(None, False, False, spark.sparkContext._gateway.new_array(
    spark.sparkContext._jvm.double, 0), None)
written = sum(stages.apply(i).outputBytes() for i in range(stages.size())
              if stages.apply(i).stageId() in stage_ids)
try:
    StatusStore(spark).records_written(-1)
    picked = True
except RuntimeError:
    picked = False
print(json.dumps({"n": n, "start_ms": start, "warmup_jobs": len(warm),
                  "warmup_stages": len(stage_ids), "warmup_output_bytes": written,
                  "picked_as_write": picked}))
spark.stop()
"""

SECOND_CALL = r"""
import json, threading, time
from pyspark import SparkContext
from osm_cycling_quality_index_spark.session import WARMUP_JOB, get_spark, wait_for_warmup

spark = get_spark(app_name="warmup-second-call-test")
held, release = threading.Event(), threading.Event()

def hold():
    with SparkContext._lock:
        held.set()
        release.wait(10)

holder = threading.Thread(target=hold)
holder.start()
held.wait()
t0 = time.perf_counter()
get_spark(app_name="warmup-second-call-test")
second_s = time.perf_counter() - t0
release.set()
holder.join()
wait_for_warmup(spark)

jsc = spark.sparkContext._jsc.sc()
jsc.listenerBus().waitUntilEmpty()
jobs = jsc.statusStore().jobsList(None)
warm = [j for j in (jobs.apply(i) for i in range(jobs.size()))
        if j.description().isDefined() and j.description().get() == WARMUP_JOB]
print(json.dumps({"second_s": second_s, "warmup_jobs": len(warm)}))
spark.stop()
"""

#: ``now`` stops while the warm-up plan is built, ``running`` once its job
#: runs; ``exit`` leaves the interpreter then, without a stop
STOPS = r"""
import sys, time
from osm_cycling_quality_index_spark.session import WARMUP_JOB, get_spark

spark = get_spark(app_name="warmup-stop-test")
store = spark.sparkContext._jsc.sc().statusStore()

def warmup_running():
    jobs = store.jobsList(None)
    return any(str(j.status()) == "RUNNING" and j.description().isDefined()
               and j.description().get() == WARMUP_JOB
               for j in (jobs.apply(i) for i in range(jobs.size())))

if sys.argv[1] != "now":
    deadline = time.time() + 120
    while not warmup_running():
        if time.time() > deadline:
            sys.exit(3)
        time.sleep(0.05)
if sys.argv[1] != "exit":
    spark.stop()
"""


def _run(argv: list[str]) -> tuple[subprocess.CompletedProcess, list[int]]:
    """Run ``argv`` in a process session of its own; returns the result and
    the processes still in that session (the JVM, the Python daemon and its
    workers all stay in it) once they had 60 s to end."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.Popen(argv, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=600)
    finally:
        if proc.poll() is None:
            proc.kill()
    deadline = time.time() + 60
    while _session_members(proc.pid) and time.time() < deadline:
        time.sleep(0.2)
    return subprocess.CompletedProcess(argv, proc.returncode, out, err), \
        _session_members(proc.pid)


def test_warmup_reaches_the_worker_pool():
    """After the warm-up, a ``mapInArrow`` stage over every task slot starts
    its Python workers in about no time (a cold start costs ~1 s per task);
    a second ``get_spark`` on the context starts no second warm-up, and the
    warm-up's stage writes no output, so no stage audit reads it."""
    r, _ = _run([sys.executable, "-c", REACHES_POOL])
    assert r.returncode == 0, r.stderr[-3000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert len(got["start_ms"]) == 1 and got["start_ms"][0] < 300, got
    assert got["warmup_jobs"] == 1 and got["warmup_stages"] >= 1, got
    assert got["warmup_output_bytes"] == 0 and not got["picked_as_write"], got


def test_second_get_spark_does_not_wait_for_the_warmup():
    """A second ``get_spark`` on a live context returns at once, even while
    another thread holds ``SparkContext._lock`` (as the warm-up does while
    it builds its plan), and the context still runs one warm-up job."""
    r, _ = _run([sys.executable, "-c", SECOND_CALL])
    assert r.returncode == 0, r.stderr[-3000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got["second_s"] < 1.0 and got["warmup_jobs"] == 1, got


@pytest.mark.parametrize("argv,rc", [
    (["-c", STOPS, "now"], 0),
    (["-c", STOPS, "running"], 0),
    (["-c", STOPS, "exit"], 0),
    # returns 2 right after the session starts
    (["main.py", "--output", "{tmp}"], 2),
], ids=["stop_while_built", "stop_while_running", "exit_while_running", "main_usage_exit"])
def test_warmup_stop_is_quiet(tmp_path, argv, rc):
    """A stop or an interpreter exit during the warm-up prints no Python
    traceback and leaves no Python worker (nor any other process) behind."""
    r, left = _run([sys.executable, *(a.replace("{tmp}", str(tmp_path / "out")) for a in argv)])
    assert r.returncode == rc, r.stderr[-3000:]
    assert "Traceback (most recent call last)" not in r.stderr, r.stderr[-3000:]
    assert not left, f"processes left running: {left}"
