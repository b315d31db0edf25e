"""Benchmark child process: one Spark session, one workload.

Started by ``perfbench/run.py``, which sizes the session through the
environment, captures this process's stderr and, in a traced run, samples
the memory of its process tree.  Writes one JSON record to ``--result``.

Each workload is measured as its job is launched: one pass, the first in
a fresh session, so JVM start-up work (class loading, JIT, code generation,
Python UDF workers) falls inside the pass.  One client runs it; the cache
is cleared and pinned frames are released after it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

sys.path.insert(0, os.getcwd())

from osm_cycling_quality_index_spark.geo import cells as C  # noqa: E402

from perfbench import checks, inputs  # noqa: E402
from perfbench.trace import SparkCounters  # noqa: E402

#: input sizes per workload
SIZES = {
    "city_job": {"bulk_roads": 2000},
    "geotag_hotcell": {"n_roads": 2000, "n_points": 20_000, "hot_frac": 0.25,
                       "hot_ways": 40, "n_images": 100},
}
ORACLE_SAMPLE = 400
SETUP_REPEATS = 3


class Failure(Exception):
    pass


class CityJob:
    """``main.main`` end to end on a parquet way network, with fresh
    ``--output`` and ``--checkpoint`` directories."""

    def __init__(self, spark, work, seed):
        self.spark, self.work, self.seed = spark, work, seed

    def prepare(self, k: int) -> dict:
        self.inp = inputs.write_city_job(os.path.join(self.work, f"in{k}"), self.seed,
                                         **SIZES["city_job"])
        return self.inp

    def rows(self) -> int:
        return self.inp["n_ways"]

    def points(self):
        return None

    def _main(self, out: str, ckpt: str) -> None:
        import main

        rc = main.main(["--ways", self.inp["ways"], "--output", out, "--checkpoint", ckpt])
        if rc != 0:
            raise Failure(f"main.main returned {rc}")

    def run_pass(self) -> tuple[str, str]:
        out, ckpt = (os.path.join(self.work, d) for d in ("out", "ckpt"))
        self._main(out, ckpt)
        return out, ckpt

    def resume(self) -> str:
        out = os.path.join(self.work, "resume")
        self._main(out, os.path.join(self.work, "ckpt"))
        return out

    def digest(self, out: str, ckpt: str | None = None) -> dict:
        return {"scored": checks.table_hash(pd.read_parquet(os.path.join(out, "scored")))}

    def check_once(self, out: str, ckpt: str) -> list[str]:
        return checks.golden_mismatches(pd.read_parquet(os.path.join(out, "scored")))


class GeotagHotcell:
    """The image stages of ``main.py`` on a skewed point cloud:
    ``images.geotag_join`` of payload-free points to ways, committed as a
    checkpoint snapshot; way tiles joined with point tiles and counted per
    way; ``images.verify_payloads`` over a payload image set.  The resume
    pass re-runs the count from the committed snapshot."""

    def __init__(self, spark, work, seed):
        self.spark, self.work, self.seed = spark, work, seed

    def prepare(self, k) -> dict:
        self.inp = inputs.write_geotag_hotcell(
            os.path.join(self.work, f"in{k}"), self.seed, **SIZES["geotag_hotcell"])
        return self.inp

    def rows(self) -> int:
        return self.inp["n_points"]

    def points(self):
        df = pd.read_parquet(self.inp["points"])
        return df["lon"].to_numpy(), df["lat"].to_numpy()

    def _count(self, table, out: str) -> None:
        from pyspark.sql import functions as F

        from osm_cycling_quality_index_spark.operators import images as I

        ways = self.spark.read.parquet(self.inp["ways"])
        snap = table.read_latest(self.spark, "geotag")
        counts = (I.image_tile_assignment(snap)
                  .join(I.way_tile_assignment(ways), "tile_id")
                  .groupBy("way_id").agg(F.count(F.lit(1)).alias("n")))
        counts.write.mode("overwrite").parquet(os.path.join(out, "counts"))

    def run_pass(self) -> tuple[str, str]:
        from osm_cycling_quality_index_spark.checkpoint import SnapshotTable
        from osm_cycling_quality_index_spark.operators import images as I

        out, ckpt = (os.path.join(self.work, d) for d in ("out", "ckpt"))
        table = SnapshotTable(ckpt)
        ways = self.spark.read.parquet(self.inp["ways"])
        points = self.spark.read.parquet(self.inp["points"])
        table.write(I.geotag_join(points, ways), "geotag")
        self._count(table, out)
        verified = I.verify_payloads(self.spark.read.parquet(self.inp["images"]))
        verified.write.mode("overwrite").parquet(os.path.join(out, "verified"))
        return out, ckpt

    def resume(self) -> str:
        from osm_cycling_quality_index_spark.checkpoint import SnapshotTable

        out = os.path.join(self.work, "resume")
        self._count(SnapshotTable(os.path.join(self.work, "ckpt")), out)
        return out

    def _snapshot(self, ckpt: str):
        from osm_cycling_quality_index_spark.checkpoint import SnapshotTable

        return pd.read_parquet(SnapshotTable(ckpt).latest()["path"])

    def digest(self, out: str, ckpt: str | None = None) -> dict:
        d = {"counts": checks.table_hash(pd.read_parquet(os.path.join(out, "counts")))}
        if ckpt is not None:
            d["geotag"] = checks.table_hash(self._snapshot(ckpt))
            d["verified"] = checks.table_hash(
                pd.read_parquet(os.path.join(out, "verified")))
        return d

    def check_once(self, out: str, ckpt: str) -> list[str]:
        tagged = self._snapshot(ckpt)
        bad = []
        if len(tagged) != self.inp["n_points"] or tagged["way_id"].isna().any():
            bad.append(f"geotag rows {len(tagged)} != {self.inp['n_points']} or unmatched")
        cell = C.hex_encode(tagged["lon"].to_numpy(), tagged["lat"].to_numpy(),
                            inputs.HOT_RES)
        hot = np.flatnonzero(cell == self.inp["hot_cell"])
        if len(hot) < 0.2 * len(tagged):
            bad.append(f"hot cell holds {len(hot)} of {len(tagged)} points")
        rng = np.random.default_rng(self.seed)
        sample = np.concatenate([
            rng.choice(hot, ORACLE_SAMPLE // 4, replace=False),
            rng.choice(len(tagged), ORACLE_SAMPLE - ORACLE_SAMPLE // 4, replace=False)])
        bad += checks.nearest_way_mismatches(
            pd.read_parquet(self.inp["ways"]), tagged, sample)
        verified = pd.read_parquet(os.path.join(out, "verified"))
        failed = ~verified["ok"] | ~verified["caption_ok"]
        if len(verified) != self.inp["n_images"] or failed.any():
            bad.append(f"payloads: {int(failed.sum())} of {len(verified)} failed verification")
        return bad


WORKLOADS = {"city_job": CityJob, "geotag_hotcell": GeotagHotcell}


def isolate(spark) -> int:
    """Drop every cache and pinned frame; returns the persisted RDDs left."""
    from osm_cycling_quality_index_spark.operators.dedup import release_session_pinned

    release_session_pinned(spark)
    spark.catalog.clearCache()
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def hex_encode_rate(lon: np.ndarray, lat: np.ndarray, min_s: float = 0.5) -> float:
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < min_s:
        C.hex_encode(lon, lat, inputs.HOT_RES)
        n += len(lon)
    return n / (time.perf_counter() - t0)


class Run:
    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.errors: list[str] = []
        self.rec: dict = {"windows": [], "persisted": []}

    def attempt(self, what: str, fn, *a):
        """One operation: an exception or a failed check counts it failed."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:  # the run reports failures instead of stopping
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def check(self, what: str, msgs: list[str]) -> None:
        """One output check, counted as an operation of its own."""
        self.attempted += 1
        if msgs:
            self.errors.append(f"{what}: " + "; ".join(msgs[:5]))

    def verify(self, what: str, fn, *a) -> None:
        """An output check that may itself raise; an exception fails it."""
        try:
            msgs = fn(*a)
        except Exception:  # a crashed check is a failed check
            msgs = [traceback.format_exc(limit=3)]
        self.check(what, msgs)

    def timed_pass(self, wl):
        w0, p0 = time.time(), time.perf_counter()
        got = self.attempt("pass", wl.run_pass)
        wall = time.perf_counter() - p0
        self.rec["windows"].append([w0, time.time()])
        return got, wall

    def execute(self) -> dict:
        a = self.args
        t0 = time.perf_counter()
        from osm_cycling_quality_index_spark.session import get_spark

        self.spark = spark = get_spark(app_name=f"perfbench-{a.workload}")
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[a.workload](spark, a.work, a.seed)
        gen = []
        for k in range(SETUP_REPEATS):
            g0 = time.perf_counter()
            wl.prepare(k)
            gen.append(time.perf_counter() - g0)
        self.rec["setup_s"] = session_s + statistics.median(gen)
        if a.trace:
            return self.traced(spark, wl, SparkCounters(spark, a.stderr))
        self.untraced(spark, wl)
        return self.rec

    def untraced(self, spark, wl) -> None:
        got, wall = self.timed_pass(wl)
        self.rec["persisted"].append(isolate(spark))
        if got is not None:
            self.rec["wall"] = wall
            self.rec["written"] = inputs.dir_bytes(got[0]) + inputs.dir_bytes(got[1])
            self.verify("output check", wl.check_once, *got)
        self.check("persisted RDDs after pass", [str(n) for n in self.rec["persisted"] if n])
        self.rec["rows"] = wl.rows()
        self.rec["input_bytes"] = wl.inp["input_bytes"]

    def resume(self, spark, wl, digest: dict) -> None:
        """Rerun over the pass's committed checkpoint; its output must hash
        like the pass's."""
        r0 = time.perf_counter()
        res = self.attempt("resume", wl.resume)
        self.rec["resume_s"] = time.perf_counter() - r0
        self.rec["persisted"].append(isolate(spark))
        if res is not None:
            self.check("resume output", _diff_digest(digest, wl.digest(res)))

    def traced(self, spark, wl, counters) -> dict:
        """One traced pass.  Pass-level Spark counters are the traced pass's,
        net of the tracing-only materialisations."""
        from perfbench.layers import LayerTrace

        layers = LayerTrace(counters)
        layers.install()
        try:
            before = counters.snapshot()
            got, wall = self.timed_pass(wl)
            traced = counters.diff(before, counters.snapshot())
        finally:
            layers.uninstall()
        self.rec["persisted"].append(isolate(spark))
        if got is not None:
            self.verify("output check", wl.check_once, *got)
            self.resume(spark, wl, wl.digest(*got))
        self.check("persisted RDDs after pass", [str(n) for n in self.rec["persisted"] if n])
        pts = wl.points()
        self.rec["layer"], self.rec["na"] = layer_metrics(
            layers.tracer, traced, wall, max(self.rec["persisted"]),
            hex_encode_rate(*pts) if pts else 0.0, wl.inp.get("n_images", 0))
        self.rec["layer"]["resume_s"] = self.rec.get("resume_s", 0.0)
        return self.rec


def _diff_digest(a: dict, b: dict) -> list[str]:
    return [f"{t}: {a[t]} != {b.get(t)}" for t in a if t in b and a[t] != b[t]]


def layer_metrics(t, traced, wall, persisted, hex_rate, images):
    """Per-layer metrics of one traced pass, and the names of those whose
    layer did no work."""
    over = [s for s in t.spans if s.overhead]

    def net(key):
        return traced[key] - sum(s.counters.get(key, 0) for s in over)

    def exec_s(name):
        return t.total(f"{name}.exec")

    geo = next((s.counters for s in t.spans if s.name == "images.geotag.exec"), {})
    points = t.counter("images.geotag.points", "rows")
    rows_in = t.counter("offset.rows_in", "rows")
    verify_s = exec_s("imaging.verify")
    m = {
        "conform.build_s": t.total("conform.build"),
        "waytype.build_s": t.total("waytype.build"),
        "derive.build_s": t.total("derive.build"),
        "scoring.build_s": t.total("scoring.build"),
        "scalar_chain.py4j_calls": sum(
            s.py4j_calls for s in t.spans
            if s.name in ("conform.build", "waytype.build", "derive.build", "scoring.build")),
        "conform.exec_s": exec_s("conform"),
        "sidepath.exec_s": exec_s("sidepath"),
        "offset.exec_s": exec_s("offset"),
        "offset.fanout": t.counter("offset.rows_out", "rows") / rows_in if rows_in else 0.0,
        "scalar_chain.exec_s": exec_s("scalar_chain"),
        "codegen.failed_compiles": net("failed_compiles"),
        "codegen.compile_s": net("compile_s"),
        "checkpoint.write_s": t.total("checkpoint.write"),
        "checkpoint.bytes": t.counter("checkpoint.write", "bytes"),
        "checkpoint.read_s": t.total("checkpoint.read.build")
        + t.total("checkpoint.read.exec"),
        "audit.stage_s": t.total("audit.stage"),
        "audit.extra_jobs": t.counter("audit.stage", "jobs"),
        "imaging.verify_s": verify_s,
        "imaging.verify_rows_per_s": images / verify_s if verify_s else 0.0,
        "images.geotag_s": exec_s("images.geotag"),
        "images.geotag.build_s": t.total("images.geotag.build"),
        "images.geotag.candidates_per_point": geo.get("join_rows", 0) / points if points else 0.0,
        "images.geotag.shuffle_write_bytes": geo.get("shuffle_write_bytes", 0),
        "images.geotag.spill_bytes": geo.get("spill_bytes", 0),
        "images.geotag.task_skew": geo.get("task_skew", 0.0),
        "images.tiles_s": exec_s("images.tiles"),
        "geo.hex_encode_pts_per_s": hex_rate,
        "spark.jobs": net("jobs"),
        "spark.shuffle_write_bytes": net("shuffle_write_bytes"),
        "spark.spill_bytes": net("spill_bytes"),
        "spark.persisted_rdds_after_pass": persisted,
        "trace.pass_s": wall,
        "trace.span_self_s": sum(s.dur for s in t.spans),
        "trace.overhead_s": t.overhead_s(),
    }
    ran = {s.name.split(".build")[0].split(".exec")[0] for s in t.spans}
    na = [k for k, layer in _LAYER_OF.items() if layer not in ran]
    return m, na


#: per-layer metrics and the span whose absence makes them not applicable
_LAYER_OF = {
    **{f"{n}.build_s": n for n in ("conform", "waytype", "derive", "scoring")},
    "scalar_chain.py4j_calls": "conform",
    **{f"{n}.exec_s": n for n in ("conform", "sidepath", "offset", "scalar_chain")},
    "offset.fanout": "offset",
    "audit.stage_s": "audit.stage", "audit.extra_jobs": "audit.stage",
    "imaging.verify_s": "imaging.verify", "imaging.verify_rows_per_s": "imaging.verify",
    **{k: "images.geotag" for k in (
        "images.geotag_s", "images.geotag.build_s", "images.geotag.candidates_per_point",
        "images.geotag.shuffle_write_bytes", "images.geotag.spill_bytes",
        "images.geotag.task_skew")},
    "images.tiles_s": "images.tiles", "geo.hex_encode_pts_per_s": "images.geotag",
}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--stderr", required=True)
    run = Run(p.parse_args())
    rec = run.execute()
    run.spark.stop()
    rec.update(attempted=run.attempted, failed=len(run.errors), errors=run.errors)
    with open(run.args.result, "w") as fh:
        json.dump(rec, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
