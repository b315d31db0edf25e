"""Traced run: wrap the program's layer entry points in spans.

Each wrapper replaces a module attribute the program looks up at call time,
so no program file changes.  A wrapper times the call (plan build for lazy
layers) and then, as tracing overhead, materialises the returned frame to
time its execution with Spark's counters diffed around it.
"""

from __future__ import annotations

import functools

from osm_cycling_quality_index_spark import audit, checkpoint
from osm_cycling_quality_index_spark.operators import images, pipeline

from .inputs import dir_bytes
from .trace import Tracer, materialize

#: (owner, attribute, span name, what to do with the output)
_PIPELINE = [
    (pipeline, "conform_ways", "conform", "exec"),
    (pipeline, "sidepath_stage", "sidepath", "exec"),
    (pipeline, "offset_stage", "offset", "fanout"),
    (pipeline, "classify", "waytype", None),
    (pipeline, "derive_attributes", "derive", None),
    (pipeline, "score", "scoring", None),
    (pipeline, "retain_final", "scalar_chain", "exec"),
    (images, "geotag_join", "images.geotag", "geotag"),
    (images, "way_tile_assignment", "images.tiles", "exec"),
    (images, "verify_payloads", "imaging.verify", "exec"),
]


class LayerTrace:
    """Installs the wrappers, which record their spans in ``tracer``."""

    def __init__(self, counters):
        self.tracer = Tracer(counters)
        self._saved = []

    def install(self) -> None:
        for owner, attr, name, post in _PIPELINE:
            self._patch(owner, attr, self._layer(getattr(owner, attr), name, post))
        self._patch(checkpoint.SnapshotTable, "write",
                    self._ckpt_write(checkpoint.SnapshotTable.write))
        self._patch(checkpoint.SnapshotTable, "read_latest",
                    self._ckpt_read(checkpoint.SnapshotTable.read_latest))
        self._patch(audit.Audit, "stage", self._audit(audit.Audit.stage))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _patch(self, owner, attr, fn) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def _layer(self, fn, name, post):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t = self.tracer
            with t.span(f"{name}.build"):
                out = fn(*args, **kwargs)
            if post == "exec":
                with t.span(f"{name}.exec", overhead=True, spark=True):
                    materialize(out)
            elif post == "geotag":
                with t.span(f"{name}.exec", overhead=True, spark=True, tasks=True,
                            joins=True):
                    materialize(out)
                with t.span(f"{name}.points", overhead=True, spark=True) as sp:
                    sp.counters["rows"] = args[0].count()
            elif post == "fanout":
                with t.span(f"{name}.rows_in", overhead=True, spark=True) as sp:
                    sp.counters["rows"] = args[0].count()
                with t.span(f"{name}.exec", overhead=True, spark=True):
                    materialize(out)
                with t.span(f"{name}.rows_out", overhead=True, spark=True) as sp:
                    sp.counters["rows"] = out.count()
            return out

        return wrapper

    def _ckpt_write(self, fn):
        @functools.wraps(fn)
        def wrapper(table, df, stage):
            with self.tracer.span("checkpoint.write", spark=True) as sp:
                entry = fn(table, df, stage)
            sp.counters["bytes"] = dir_bytes(entry["path"])
            return entry

        return wrapper

    def _ckpt_read(self, fn):
        @functools.wraps(fn)
        def wrapper(table, spark, stage=None):
            t = self.tracer
            with t.span("checkpoint.read.build"):
                out = fn(table, spark, stage)
            if out is not None:
                with t.span("checkpoint.read.exec", overhead=True, spark=True):
                    materialize(out)
            return out

        return wrapper

    def _audit(self, fn):
        @functools.wraps(fn)
        def wrapper(audit_table, name, df):
            with self.tracer.span("audit.stage", spark=True):
                return fn(audit_table, name, df)

        return wrapper
