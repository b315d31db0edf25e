"""Snapshot checkpoints: one parquet write per stage, committed by a manifest
entry that carries its lineage (north_rule: "resumable from Iceberg
snapshot checkpoints").

No Iceberg runtime ships in this container, so this implements the same
semantics on plain parquet.  A table root holds a manifest; each committed
entry names a stage, its snapshot id, the directory of its data and the
data files with their sizes, plus the write's row count and per-partition
figures taken from Spark's task metrics (:mod:`.statusstore`).  The rows
themselves carry no lineage columns: the stage and snapshot id live in the
entry, the partition id in each part-file name.

The data go to ``<data_root>/<stage>`` when the table has a data root (so a
stage's snapshot can be the output a caller asked for), else to a fresh
``<root>/snap-<id>``.  A commit is an atomic manifest replace made after the
data write, so a run killed mid-write leaves no entry; an entry is trusted
only while its directory holds exactly its recorded files at their recorded
sizes, so damaged or overwritten data is recomputed rather than read.  A
table without a root writes the same way and commits nothing.

Every snapshot is zstd-compressed parquet at parquet-mr's default level.
The codec belongs to the table, as Iceberg's
``write.parquet.compression-codec`` does, so it holds whichever session
wrote the snapshot; zstd is Iceberg's default since 1.4.  Spark's session
default, snappy, leaves the coordinate and distance doubles that fill the
stages uncompressed.  Parquet records the codec per column chunk, so a
snapshot committed with another codec still resumes.  On a cluster
with Iceberg jars ``write`` maps 1:1 to ``writeTo(...).createOrReplace()``
and ``read_latest`` to snapshot selection — the pipeline code is agnostic.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from .statusstore import StatusStore


def data_files(path: str) -> dict[str, int]:
    """name -> size of the data files in ``path``: everything but the
    ``_``/``.``-prefixed markers and checksums, as parquet readers see it."""
    return {f: os.path.getsize(os.path.join(path, f)) for f in sorted(os.listdir(path))
            if not f.startswith(("_", "."))}


def write_parquet(df: DataFrame, path: str) -> dict:
    """Write ``df`` to ``path`` (overwriting it) as zstd parquet, the
    table's codec and Iceberg's default, and describe the write: its data
    files, row count, wall time and per-partition row counts, all read
    without another Spark job."""
    store = StatusStore(df.sparkSession)
    before = store.last_stage()
    t0 = time.perf_counter()
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)
    wall = time.perf_counter() - t0
    per_part = store.records_written(before)
    files = data_files(path)
    return {
        "path": path, "rows": sum(per_part), "bytes": sum(files.values()), "files": files,
        "wall_sec": round(wall, 3), "partitions": len(per_part),
        "nonempty_partitions": sum(1 for n in per_part if n),
        "max_partition_rows": max(per_part, default=0),
    }


class SnapshotTable:
    def __init__(self, root: str | None, data_root: str | None = None):
        self.root = root
        self.data_root = data_root
        if root is not None:
            os.makedirs(root, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def _read_manifest(self) -> dict:
        if self.root is None or not os.path.exists(self._manifest_path):
            return {"snapshots": []}
        with open(self._manifest_path) as fh:
            return json.load(fh)

    def latest(self) -> dict | None:
        snaps = self._read_manifest()["snapshots"]
        return snaps[-1] if snaps else None

    def write(self, df: DataFrame, stage: str) -> dict:
        """Write a stage's snapshot and commit it; returns its manifest
        entry (committed only when the table has a root)."""
        snap_id = f"{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
        path = (os.path.join(self.data_root, stage) if self.data_root
                else os.path.join(self.root, f"snap-{snap_id}"))
        entry = {"id": snap_id, "stage": stage, **write_parquet(df, path)}
        if self.root is not None:
            self._commit(entry)
        return entry

    def _commit(self, entry: dict) -> None:
        manifest = self._read_manifest()
        entry["committed_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        manifest["snapshots"].append(entry)
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic commit

    def committed(self, stage: str | None = None) -> dict | None:
        """The newest entry (optionally of a given stage) if its data are
        intact: its directory holds exactly the recorded files at the
        recorded sizes.  Otherwise ``None``, and the stage is recomputed."""
        for snap in reversed(self._read_manifest()["snapshots"]):
            if stage is None or snap["stage"] == stage:
                path = snap["path"]
                ok = "files" in snap and os.path.isdir(path) and data_files(path) == snap["files"]
                return snap if ok else None
        return None

    def read_latest(self, spark: SparkSession, stage: str | None = None) -> DataFrame | None:
        """Resume: the most recent intact snapshot (optionally of a given
        stage), or ``None``."""
        snap = self.committed(stage)
        return spark.read.parquet(snap["path"]) if snap else None
