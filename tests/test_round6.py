"""Round-6 additions: driver-artifact contracts (registry window, bench
tail capture) and the new operators of the round."""

import json
import subprocess
import sys

import pytest

SF = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# driver-artifact contracts (r5 VERDICT items 1 + 2)
# ---------------------------------------------------------------------------

def test_query_registry_fits_driver_window():
    """The driver's correctness check covers only the FIRST 50 queries()
    entries (r5 evidence: geo_s2_cells/geo_sidepath_vote registered
    51st/52nd had no CORRECTNESS_r05 row).  Pin: <= 50 entries, the 11
    reference-critical geo/CQI queries first, and oracle_sql() keyed
    identically."""
    import __spark_entry__ as E
    from osm_cycling_quality_index_spark.plans import geo_queries as G

    q = E.queries()
    o = E.oracle_sql()
    assert len(q) <= 50, len(q)
    assert list(q)[: len(G.QUERIES)] == list(G.QUERIES)
    assert set(q) == set(o)
    # the two r5-dropped geo rows are back inside the window
    names = list(q)[:50]
    assert "geo_s2_cells" in names and "geo_sidepath_vote" in names


def test_bench_compact_stdout_line():
    """bench.py's stdout must be ONE JSON line small enough that a
    2000-char tail capture keeps it whole, with the driver-required keys
    (r5 evidence: BENCH_r04/r05 stored a truncated tail, parsed null).
    Checked statically by reproducing the compact dict with a synthetic
    report the size of the real one."""
    queries = {f"headline_query_{i}": 12.34 for i in range(8)}
    sweep = {f"some_query_name_{i:02d}": float(i) for i in range(50)}
    slowest = dict(sorted(sweep.items(), key=lambda kv: -kv[1])[:10])
    compact = {
        "metric": "headline_queries_wall",
        "value": 123.45,
        "unit": "sec",
        "queries": queries,
        "noisy_queries": ["a_fairly_long_query_name"] * 3,
        "sweep_total": round(sum(sweep.values()), 2),
        "sweep_n": len(sweep),
        "sweep_slowest10": slowest,
        "sweep_noisy": ["another_fairly_long_name"] * 3,
        "session_best_bw_gbps": 12.34,
        "sf": "0.1",
        "cpus": 32,
        "full_report": "BENCH/last_run.json",
    }
    line = json.dumps(compact)
    assert len(line) < 1500, len(line)
    assert "\n" not in line


# ---------------------------------------------------------------------------
# exact repeated-span dedup (Lee et al. ExactSubstr pass)
# ---------------------------------------------------------------------------

def _py_spans(rows, k, min_count):
    """Brute-force reference: count every k-gram, flag intervals of
    duplicated grams, merge overlapping-or-adjacent per doc."""
    from collections import Counter

    toks = {d: [w for w in t.lower().split(" ") if w] for d, t in rows}
    counts = Counter()
    for d, ws in toks.items():
        for i in range(len(ws) - k + 1):
            counts[" ".join(ws[i:i + k])] += 1
    out = []
    for d, ws in sorted(toks.items()):
        ivs = [(i, i + k - 1) for i in range(len(ws) - k + 1)
               if counts[" ".join(ws[i:i + k])] >= min_count]
        merged = []
        for s, e in ivs:
            if merged and s - merged[-1][-1][0] <= k:
                merged[-1].append((s, e))
            else:
                merged.append([(s, e)])
        for grp in merged:
            s = min(x for x, _ in grp)
            e = max(y for _, y in grp)
            out.append((d, s, e, e - s + 1))
    return sorted(out)


def test_repeated_spans_matches_brute_force(spark):
    """repeated_spans == the python reference on an adversarial corpus:
    cross-doc repeats at different offsets, WITHIN-doc repetition (counts
    toward min_count), adjacent repeats that must merge, repeated spaces
    (dense positions over non-empty tokens), docs shorter than k, and an
    entirely-duplicated doc."""
    from osm_cycling_quality_index_spark.operators.dedup import (
        repeated_spans, release_session_pinned,
    )

    boiler = "this article is licensed under creative commons attribution share alike terms apply"
    rows = [
        (0, f"alpha beta {boiler} gamma delta"),
        (1, f"{boiler} unrelated tail words here for padding"),
        (2, f"intro words {boiler} middle {boiler} outro"),          # 2 repeats, bridge < k apart?
        (3, "self self self self self self self self self self self self"),  # within-doc repeats
        (4, "too short"),
        (5, ""),
        (6, f"spaced   out    {boiler}   with   extra    whitespace"),  # empty tokens dropped
        (7, boiler),                                                   # doc == the span
        (8, "completely fresh sentence nothing repeated anywhere in this corpus today ok"),
    ]
    for k, mc in ((8, 2), (5, 2), (8, 3)):
        want = _py_spans(rows, k, mc)
        sdf = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
        got = sorted(
            (r.doc_id, r.span_start, r.span_end, r.n_tokens)
            for r in repeated_spans(sdf, k=k, min_count=mc).collect()
        )
        assert got == want, (k, mc, got, want)
    release_session_pinned(spark)
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# snapshot-resume on the curate pipeline (r5 VERDICT item 6)
# ---------------------------------------------------------------------------

def test_curate_pipeline_kill_and_resume(spark, tmp_path, audit_calls):
    """A curate run killed between stages resumes from the committed
    snapshot: the expensive stage is NOT recomputed (snapshot count stays
    1, audit records resumed=True), and the resumed output is bit-equal
    to an uninterrupted single run AND to the driver's un-checkpointed
    corpus_curate plan — restartability never changes the answer."""
    import os

    from osm_cycling_quality_index_spark.operators.curate import (
        StageKilled, curate_pipeline,
    )

    docs = spark.read.parquet(f"{SF01}/documents.parquet").select(
        "doc_id", "text", "source")
    ck_killed = str(tmp_path / "ck_killed")
    ck_single = str(tmp_path / "ck_single")

    with pytest.raises(StageKilled):
        curate_pipeline(docs, ck_killed, fail_after="keep_ids")
    out_resumed = curate_pipeline(docs, ck_killed)

    with open(f"{ck_killed}/_manifest.json") as fh:
        entries = json.load(fh)["snapshots"]
    stages = [s["stage"] for s in entries]
    assert stages.count("keep_ids") == 1  # resumed, didn't rewrite
    assert stages.count("curated") == 1
    with open(f"{ck_killed}/_audit.jsonl") as fh:
        audits = [json.loads(line) for line in fh]
    keep = next(s for s in entries if s["stage"] == "keep_ids")
    assert any(a.get("resumed") and a["snapshot"] == keep["id"]
               for a in audits if a["stage"] == "keep_ids")
    # the manifest entry carries the lineage: stage, snapshot id, rows and
    # the data files with their sizes; the rows carry none of it
    curated = next(s for s in entries if s["stage"] == "curated")
    assert keep["id"] != curated["id"]
    assert curated["rows"] == out_resumed.count() > 0
    for s in (keep, curated):
        assert s["files"] and all(
            os.path.getsize(os.path.join(s["path"], f)) == n for f, n in s["files"].items())
    assert spark.read.parquet(keep["path"]).columns == ["doc_id"]
    assert out_resumed.columns == ["doc_id", "source", "split"]

    def rows(df):
        return sorted((r.doc_id, r.source, r.split) for r in df.collect())

    # each stage's audit reads the metrics of the write that committed it
    # and starts no Spark job of its own
    del audit_calls[:]
    out_single = curate_pipeline(docs, ck_single)
    assert [(n, jobs) for n, _, _, jobs in audit_calls] == [("keep_ids", 0), ("curated", 0)]
    got = rows(out_resumed)
    assert got == rows(out_single)

    import __spark_entry__ as e
    assert got == rows(e.queries()["corpus_curate"](spark, SF01))
    assert len(got) > 0
    from osm_cycling_quality_index_spark.operators.dedup import (
        release_session_pinned,
    )
    release_session_pinned(spark)
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# fan_out width contract (the r6 regression class: a draft that skipped
# shuffled plans let AQE byte-coalescing serialize the hyperplane stage)
# ---------------------------------------------------------------------------

def test_fan_out_width_contract(spark):
    from pyspark.sql import functions as F

    from osm_cycling_quality_index_spark.operators.dedup import fan_out

    n = spark.sparkContext.defaultParallelism

    # scan-only narrow plan -> widened to the cluster
    raw = spark.read.parquet(f"{SF01}/documents.parquet")
    assert raw.rdd.getNumPartitions() < n  # single-row-group fixture
    assert fan_out(raw).rdd.getNumPartitions() == n

    # narrow scan + filter (still scan-only) -> widened
    assert fan_out(raw.where(F.col("doc_id") % 7 == 0)) \
        .rdd.getNumPartitions() == n

    # plan containing a shuffle -> explicit repartition pins the width
    # (AQE byte-coalescing must NOT be able to shrink the expensive map
    # stage downstream of it)
    agg = raw.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    out = fan_out(agg)
    assert out.rdd.getNumPartitions() == n

    # already explicitly width-pinned on top -> returned untouched (no
    # second exchange)
    pinned = raw.repartition(n)
    assert fan_out(pinned) is pinned


def test_fan_out_reads_operators_not_column_names(spark):
    """A column named like a shuffling operator (``window``) is not one:
    a scan already as wide as the cluster comes back untouched."""
    from pyspark.sql import functions as F

    from osm_cycling_quality_index_spark.operators.dedup import fan_out

    n = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 100, 1, n).withColumn("window", F.col("id") % 3)
    assert fan_out(wide) is wide
