"""Extra benchmarks for optimization work (guide §1.4) — NOT the driver's
bench.  Isolates each query with the noop sink and splits the per-pass cost
into:

- ``build``  : Python-side DataFrame construction (queries[name](spark, sf))
               — py4j round-trips + eager analysis
- ``exec``   : noop-sink materialization (optimize + codegen + run)

Usage:
    python bench_extra.py [query ...]        # default: the slowest set
    python bench_extra.py --all              # every registered query
    python bench_extra.py --passes 3 q1 q2

Reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and
$SPARK_GRAFT_CPUS (default: the CPUs this process may run on, as
``session.get_spark`` counts them).  Prints one JSON line per query and a
closing summary line.  A query that raises prints ``{"query", "error"}``
instead, the run goes on, and the process exits 1; an unknown query name
exits 1 before any session starts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SET = [
    "cqi_score_ways", "corpus_curate", "geo_knn_broadcast",
    "dedup_groups_jaccard", "geo_pip_join", "dedup_groups_text_collapsed",
    "dedup_groups_collapsed", "geo_sidepath_vote", "geo_knn",
    "jaccard_pairs", "minhash_lsh_pairs", "geo_hex_cells",
    "embedding_topk", "text_stats", "events_sessions",
]


def _error(exc: Exception) -> str:
    lines = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {lines[0] if lines else ''}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--passes", type=int, default=2)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

    import __spark_entry__ as E
    from osm_cycling_quality_index_spark.operators.dedup import (
        release_session_pinned,
    )
    from osm_cycling_quality_index_spark.session import get_spark

    queries = E.queries()
    names = (list(queries) if args.all
             else (args.queries or DEFAULT_SET))
    unknown = sorted(set(names) - set(queries))
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 1

    spark = get_spark(app_name="cqi-bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)

    # steady-state warm-up at the smallest sf, mirroring bench.py
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    spark.range(1000).count()
    if os.path.isdir(warm_dir):
        from pyspark.sql import functions as _F
        (spark.range(32_000).repartition(cpus)
         .select(_F.pandas_udf(lambda s: s, "long")(_F.col("id")))
         .write.format("noop").mode("overwrite").save())
        for name in names:
            try:
                spark.sparkContext.setJobDescription(f"warmup:{name}")
                (queries[name](spark, warm_dir)
                 .write.format("noop").mode("overwrite").save())
            except Exception as exc:  # noqa: BLE001
                # a table missing at the tiny sf is expected: report, skip
                print(json.dumps({"warmup": name, "error": _error(exc)}),
                      flush=True)
        release_session_pinned(spark)
        spark.catalog.clearCache()

    out, failed = {}, []
    for name in names:
        rec = {"build": [], "exec": []}
        try:
            for _ in range(args.passes):
                spark.catalog.clearCache()
                spark.sparkContext.setJobDescription(f"bench_extra:{name}")
                t0 = time.perf_counter()
                df = queries[name](spark, sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                rec["build"].append(round(t1 - t0, 2))
                rec["exec"].append(round(t2 - t1, 2))
                release_session_pinned(spark)
        except Exception as exc:  # noqa: BLE001
            release_session_pinned(spark)
            spark.catalog.clearCache()
            failed.append(name)
            print(json.dumps({"query": name, "error": _error(exc)}), flush=True)
            continue
        spark.catalog.clearCache()
        rec["best_total"] = round(
            min(b + e for b, e in zip(rec["build"], rec["exec"])), 2)
        out[name] = rec
        print(json.dumps({"query": name, **rec}), flush=True)
    print(json.dumps({
        "metric": "bench_extra_total",
        "value": round(sum(r["best_total"] for r in out.values()), 2),
        "unit": "sec",
        "queries": {k: v["best_total"] for k, v in out.items()},
        "sf": os.path.basename(sf_dir.rstrip("/")).lstrip("sf"),
        "failed": failed,
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
