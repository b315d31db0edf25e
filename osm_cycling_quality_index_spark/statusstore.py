"""Spark's own task metrics, read from the driver's ``AppStatusStore``.

The status store is fed by the listener bus, so a read first waits for the
bus to drain; after that every figure of a finished stage is there.  The
reads go through the JVM gateway and start no Spark job, so a stage's audit
comes from the write that produced it instead of a second pass over its
rows.
"""

from __future__ import annotations


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _stages(self):
        """Every stage the store holds, newest first."""
        self._bus.waitUntilEmpty()
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def last_stage(self) -> int:
        stages = self._stages()
        return stages.apply(0).stageId() if stages.size() else -1

    def records_written(self, after: int) -> list[int]:
        """Rows written per partition by the newest completed stage after
        stage ``after`` that wrote output: the result stage of a write.
        Index ``i`` is partition ``i``; a partition that wrote nothing
        reads 0."""
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= after:
                break
            if s.status().toString() == "COMPLETE" and s.outputBytes() > 0:
                return self._task_records(s)
        raise RuntimeError(f"no completed output stage after stage {after}")

    def _task_records(self, s) -> list[int]:
        rows = [0] * s.numTasks()
        n = s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
        tasks = self._store.taskList(s.stageId(), s.attemptId(), n)
        for k in range(tasks.size()):
            t = tasks.apply(k)
            if t.status() == "SUCCESS":
                rows[t.index()] = t.taskMetrics().get().outputMetrics().recordsWritten()
        return rows
