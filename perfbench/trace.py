"""Spans around calls into the program's layers, plus Spark counters read
from outside: the status stores through the JVM gateway, Janino's
``CodegenMetrics`` and a count of py4j round-trips.  Reading the counters
starts no Spark job.

A span is (name, start, end); spans do not nest.  ``overhead`` spans hold
work that an untraced pass does not do (materialising a layer's output to
time it), so their sum is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    overhead: bool = False
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    py4j_calls: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class SparkCounters:
    """Snapshots of Spark's own counters; ``diff`` covers everything that
    ran between two snapshots."""

    def __init__(self, spark, stderr_path: str):
        sc = spark.sparkContext
        self.bus = sc._jsc.sc().listenerBus()
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.compile_hist = (
            sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME())
        self.stderr_path = stderr_path
        self.py4j_calls = 0
        client = sc._gateway._gateway_client
        send = client.send_command

        @functools.wraps(send)
        def counted(*a, **k):
            self.py4j_calls += 1
            return send(*a, **k)

        client.send_command = counted

    def _max_id(self, seq, attr: str) -> int:
        return getattr(seq.apply(0), attr)() if seq.size() else -1

    def _stderr_pos(self) -> int:
        with open(self.stderr_path, "rb") as fh:
            return fh.seek(0, 2)

    def snapshot(self) -> dict:
        # the snapshot's own round-trips are not the program's
        calls = self.py4j_calls
        # the status stores are fed asynchronously by the listener bus
        self.bus.waitUntilEmpty()
        # the histogram keeps every value while it holds fewer than its
        # reservoir size (1,028), so the sum is exact for a run's compiles
        values = self.compile_hist.getSnapshot().getValues()
        snap = {
            "job": self._max_id(self.store.jobsList(None), "jobId"),
            "stage": self._max_id(
                self.store.stageList(None, False, False, self.no_quantiles, None), "stageId"),
            "sql": self.sql.executionsCount(),
            "compiles": self.compile_hist.getCount(),
            "compile_ms": sum(values),
            "stderr": self._stderr_pos(),
        }
        self.py4j_calls = calls
        return snap

    def diff(self, a: dict, b: dict, tasks: bool = False, joins: bool = False) -> dict:
        calls = self.py4j_calls
        out = {"jobs": b["job"] - a["job"], "compiles": b["compiles"] - a["compiles"],
               "compile_s": (b["compile_ms"] - a["compile_ms"]) / 1000.0,
               "failed_compiles": self._failed_compiles(a["stderr"], b["stderr"])}
        stages = self.store.stageList(None, False, False, self.no_quantiles, None)
        shuffle = spill = 0
        heaviest = None
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= a["stage"]:
                break
            if s.stageId() > b["stage"]:
                continue
            shuffle += s.shuffleWriteBytes()
            spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
            run = s.executorRunTime()
            if heaviest is None or run > heaviest[0]:
                heaviest = (run, s.stageId(), s.attemptId(), s.numTasks())
        out.update(shuffle_write_bytes=shuffle, spill_bytes=spill)
        if tasks:
            out["task_skew"] = self._task_skew(heaviest)
        if joins:
            out["join_rows"] = self._join_output_rows(a["sql"], b["sql"])
        self.py4j_calls = calls
        return out

    def _failed_compiles(self, start: int, end: int) -> int:
        if end <= start:
            return 0
        with open(self.stderr_path, "rb") as fh:
            fh.seek(start)
            text = fh.read(end - start).decode(errors="replace")
        return sum(("Failed to compile" in ln or "Whole-stage codegen disabled" in ln)
                   for ln in text.splitlines())

    def _task_skew(self, heaviest) -> float:
        """max / median task duration in the stage that ran longest."""
        if heaviest is None:
            return 0.0
        _, sid, att, n = heaviest
        tasks = self.store.taskList(sid, att, max(n, 1))
        durs = [d.get() for d in (tasks.apply(i).duration() for i in range(tasks.size()))
                if d.isDefined()]
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 0.0

    def _join_output_rows(self, first: int, end: int) -> int:
        """Sum of "number of output rows" over the join operators of the SQL
        executions in [first, end)."""
        total = 0
        if end <= first:
            return 0
        execs = self.sql.executionsList(first, end - first)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            metrics = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if "Join" not in node.name():
                    continue
                ms = node.metrics()
                for m in (ms.apply(k) for k in range(ms.size())):
                    if m.name() == "number of output rows":
                        v = metrics.get(m.accumulatorId())
                        if v.isDefined():
                            total += int(str(v.get()).replace(",", ""))
        return total


class Tracer:
    def __init__(self, counters: SparkCounters):
        self.spans: list[Span] = []
        self.counters = counters

    @contextlib.contextmanager
    def span(self, name: str, overhead: bool = False, spark: bool = False,
             tasks: bool = False, joins: bool = False):
        before = self.counters.snapshot() if spark else None
        sp = Span(name, time.perf_counter(), overhead)
        self.spans.append(sp)
        calls = self.counters.py4j_calls
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.py4j_calls = self.counters.py4j_calls - calls
            if before is not None:
                sp.counters.update(self.counters.diff(
                    before, self.counters.snapshot(), tasks=tasks, joins=joins))

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)

    def counter(self, name: str, key: str) -> float:
        return sum(s.counters.get(key, 0) for s in self.spans if s.name == name)

    def overhead_s(self) -> float:
        return sum(s.dur for s in self.spans if s.overhead)


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()
