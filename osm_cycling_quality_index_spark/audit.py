"""Audit table: per-stage row counts, latency and partition stats
(north_rule: "row-count/latency metrics emitted to an audit table").

Rows append as JSON lines locally (and the same records can be appended to
an Iceberg audit table on a cluster).  ``stage`` records a stage from the
entry of the one write that produced it
(:meth:`~osm_cycling_quality_index_spark.checkpoint.SnapshotTable.write`),
whose figures come from Spark's task metrics, so auditing starts no Spark
job; each record is keyed by the entry's snapshot id.
"""

from __future__ import annotations

import json
import os
import time


class Audit:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def record(self, **fields) -> dict:
        rec = {"ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()), **fields}
        with open(self.path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        return rec

    def stage(self, name: str, entry: dict) -> dict:
        """Record a stage's write: rows, wall time, bytes, data files and
        the per-partition row distribution.  Max/mean partition size is the
        skew signal: a high ratio tells an operator to re-bucket BEFORE a
        straggler kills the job at scale."""
        rows, wall, parts = entry["rows"], entry["wall_sec"], entry["partitions"]
        max_rows = entry["max_partition_rows"]
        # skew denominator is rows / TOTAL partitions (empty ones
        # included): all-rows-in-one-of-200-partitions must read as skew
        # 200, not 1.0 — the empty partitions ARE the imbalance
        mean_rows = rows / parts if parts else 0
        return self.record(
            stage=name, snapshot=entry["id"], rows=rows, wall_sec=wall,
            partitions=parts,
            nonempty_partitions=entry["nonempty_partitions"],
            max_partition_rows=max_rows,
            partition_skew=round(max_rows / mean_rows, 2) if mean_rows else None,
            rows_per_sec=round(rows / wall, 1) if wall > 0 else None,
            bytes=entry["bytes"], files=len(entry["files"]),
        )
