"""Round-4 hardening tests: dedup storage release, foreign pair endpoints,
BPE learner validation gate, xxhash word-id mode parity."""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"
REPO = pathlib.Path(__file__).resolve().parents[1]


def _registry_size(spark) -> int:
    return len(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )


# ---------------------------------------------------------------------------
# connected-components / dedup_groups storage release
# ---------------------------------------------------------------------------

def test_dedup_groups_releases_storage(spark):
    """After a dedup_groups run's output is collected and its cleanup
    callable invoked, the JVM persistent-RDD registry is back to its
    pre-call size (localCheckpoint blocks freed, labelled persist gone)."""
    from osm_cycling_quality_index_spark.operators.dedup import dedup_groups

    corpus = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "doc_a long, doc_b long")
    before = _registry_size(spark)
    release: list = []
    out = dedup_groups(corpus, pairs, release=release)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 8 and rows[2]["group_id"] == 0
    assert _registry_size(spark) > before  # run really pinned storage
    for fn in release:
        fn()
    assert _registry_size(spark) == before


def test_release_session_pinned(spark):
    """Calls without an explicit release list register with the module-level
    registry; release_session_pinned(spark) frees everything."""
    from osm_cycling_quality_index_spark.operators.dedup import (
        connected_components, dedup_groups, release_session_pinned,
    )

    release_session_pinned(spark)  # drain pins left by earlier tests
    before = _registry_size(spark)
    corpus = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (3, 4)], "doc_a long, doc_b long")
    dedup_groups(corpus, pairs).collect()
    connected_components(pairs, "doc_a", "doc_b").collect()
    assert _registry_size(spark) > before
    release_session_pinned(spark)
    assert _registry_size(spark) == before


def test_dedup_groups_foreign_pair_endpoints(spark):
    """Non-corpus pair endpoints neither produce keeper-less groups
    (ADVICE r3: a foreign component minimum must not become a group_id)
    NOR sever transitivity: corpus rows bridged only through a foreign id
    still collapse into one group, remapped to the minimum CORPUS member."""
    from osm_cycling_quality_index_spark.operators.dedup import dedup_groups

    corpus = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5)], "doc_id long")
    # 0 is NOT in the corpus, is the minimum of its component, AND bridges
    # corpus rows 2 and 4 that were never compared directly
    pairs = spark.createDataFrame(
        [(0, 2), (0, 4), (3, 4)], "doc_a long, doc_b long")
    release: list = []
    rows = {r["doc_id"]: r for r in
            dedup_groups(corpus, pairs, release=release).collect()}
    for fn in release:
        fn()
    assert {d: r["group_id"] for d, r in rows.items()} == {
        1: 1, 2: 2, 3: 2, 4: 2, 5: 5}
    # every group has exactly one keeper, and it is a corpus row
    keepers = [d for d, r in rows.items() if r["is_keeper"]]
    assert sorted(keepers) == [1, 2, 5]
    assert rows[3]["n_members"] == 3


def test_weakest_surface_duplicate_order_entry(spark):
    """SURFACE_VALUE_ORDER lists paving_stones twice (reference
    parameter.py duplicate, kept verbatim); .index()/array_position
    resolve to the FIRST occurrence, so values between the two
    occurrences must outrank it (r4 self-review finding)."""
    from pyspark.sql import functions as F

    from osm_cycling_quality_index_spark import params as P
    from osm_cycling_quality_index_spark.functions.tags import (
        weakest_surface_value,
    )

    order = P.SURFACE_VALUE_ORDER
    assert order.count("paving_stones") == 2  # the reference's duplicate
    first = order.index("paving_stones")
    between = [v for v in order[first + 1:] if v != "paving_stones"
               and order.index(v) < len(order) - 1 - order[::-1].index("paving_stones")]
    assert between, "values exist between the duplicate occurrences"
    df = spark.createDataFrame(
        [(i, ["paving_stones", v]) for i, v in enumerate(between)],
        "i long, arr array<string>")
    got = {r["i"]: r["w"] for r in
           df.select("i", weakest_surface_value(F.col("arr")).alias("w")).collect()}
    assert got == dict(enumerate(between))


# ---------------------------------------------------------------------------
# BPE learner validation gate (_REPEAT under-merge bound)
# ---------------------------------------------------------------------------

def _learn_bpe_module():
    spec = importlib.util.spec_from_file_location(
        "learn_bpe", REPO / "tools" / "learn_bpe.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_learn_bpe_validates_committed_table():
    """The committed merges table passes the learner-time under-merge gate
    on its own training corpus (replace-chain == greedy for every word)."""
    import duckdb

    from osm_cycling_quality_index_spark.functions.bpe_merges import MERGES

    mod = _learn_bpe_module()
    rows = duckdb.connect().execute(
        f"SELECT text FROM '{SF}/documents.parquet'").fetchall()
    words = {w for (t,) in rows for w in t.lower().split()}
    mod.validate_merges(MERGES, words)  # must not raise


def test_learn_bpe_rejects_undermerge():
    """Same-symbol rules trip the learner gate (they strand symbols under
    non-overlapping replace on runs >= 4 at any repeat count); distinct-
    symbol rules are exhaustive for runs of any length."""
    mod = _learn_bpe_module()
    # structural rejection of (x, x)
    with pytest.raises(ValueError, match="same-symbol"):
        mod.validate_merges([("a", "a")], ["aaaaaa"])
    # the empirical under-merge it guards against is real: chain 4 != greedy 3
    assert mod.simulate_column_count("aaaaaa", [("a", "a")], 3) == 4
    assert mod.greedy_count("aaaaaa", [("a", "a")]) == 3
    # distinct-symbol rule: exhaustive even on a 128-symbol run
    mod.validate_merges([("e", "r")], ["er" * 64, "erer", "banana"])


# ---------------------------------------------------------------------------
# xxhash word-id mode parity (the declared 100-TB production path)
# ---------------------------------------------------------------------------

def test_xxhash_mode_minhash_parity(spark):
    """minhash_lsh_pairs produces the SAME near-dup pair set under
    mode='xxhash' (the declared 100-TB production path) and
    mode='dictionary' (the oracle path) on the sf0.01 corpus: the
    exact-Jaccard verify is mode-independent, so any divergence would mean
    the banding misses a true pair under one hash family."""
    from osm_cycling_quality_index_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    d = spark.read.parquet(f"{SF01}/documents.parquet")
    by_mode = {}
    for mode in ("dictionary", "xxhash"):
        by_mode[mode] = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in minhash_lsh_pairs(d, mode=mode, verify="exact").collect()
        }
        spark.catalog.clearCache()
    assert by_mode["dictionary"] == by_mode["xxhash"]
    assert by_mode["dictionary"]  # non-vacuous: corpus has near-dups


def test_xxhash_mode_simhash_exhaustive(spark):
    """SimHash pair SETS are intrinsically hash-family-dependent (the
    word->bit map IS the random-projection family), so cross-mode equality
    is the wrong invariant — measured on sf0.01: 3,126 pairs (dictionary)
    vs 16,880 (xxhash) at hamming<=3/32, both mid-distribution on this
    template-generated, tiny-vocabulary corpus; recall of shingle-Jaccard
    >=0.5 truth pairs is 8/25 vs 17/25.  The mode-independent property
    worth pinning is EXHAUSTIVENESS: for each mode, the block-pigeonhole
    candidate generation loses nothing — the operator's output equals the
    brute-force all-pairs hamming filter over that mode's own signatures.
    This is the first coverage of the production xxhash path end-to-end."""
    from osm_cycling_quality_index_spark.operators.dedup import (
        hamming_near_pairs, simhash,
    )

    d = spark.read.parquet(f"{SF01}/documents.parquet")
    for mode in ("dictionary", "xxhash"):
        sigs = {r["doc_id"]: r["simhash"]
                for r in simhash(d, mode=mode).collect()}
        spark.catalog.clearCache()
        ids = sorted(sigs)
        brute = {
            (a, b)
            for i, a in enumerate(ids) for b in ids[i + 1:]
            if bin(sigs[a] ^ sigs[b]).count("1") <= 3
        }
        got = {(r["doc_a"], r["doc_b"])
               for r in hamming_near_pairs(simhash(d, mode=mode)).collect()}
        spark.catalog.clearCache()
        assert got == brute, (mode, len(got), len(brute))
        assert brute  # non-vacuous


# ---------------------------------------------------------------------------
# build-time folding of absent tags (functions/fold.py)
# ---------------------------------------------------------------------------

def _widen(df):
    """``df`` with every allow-listed column it lacks as a real NULL column
    (tags as strings, pipeline columns as their types): the same input with
    nothing absent, so nothing folds."""
    from pyspark.sql import functions as F

    from osm_cycling_quality_index_spark import params as P

    have = set(df.columns)
    add = {n: F.lit(None).cast("string") for n in P.ATTRIBUTES_LIST if n not in have}
    add.update({n: F.lit(None).cast(t)
                for n, t in P.NEW_ATTRIBUTES_TYPES.items() if n not in have})
    return df.withColumns(add)


def _assert_folds_exactly(build, ways):
    """The build over ``ways`` equals the build over the widened input:
    names, order and types of the columns, and every row bit for bit
    (floats compare by repr, so -0.0 != 0.0)."""
    narrow, wide = build(ways), build(_widen(ways))
    assert narrow.dtypes == wide.dtypes
    rows = [sorted(tuple(map(repr, r)) for r in d.collect()) for d in (narrow, wide)]
    assert rows[0] == rows[1]
    return rows[0]


def test_cqi_fold_bit_equal(spark):
    """Registry inputs and the synthetic city through the full pipeline:
    the narrow build folds most of the chain away and changes no bit."""
    from osm_cycling_quality_index_spark.operators.conform import conform_ways
    from osm_cycling_quality_index_spark.operators.pipeline import cqi_pipeline
    from osm_cycling_quality_index_spark.plans import cqi_query, cqi_roads_query
    from osm_cycling_quality_index_spark.sources.synth import ways_df

    for build, ways in [
        (cqi_query.score_ways, cqi_query._ways_df(spark, SF)),
        (cqi_roads_query.score_roads, cqi_roads_query._ways_df(spark, SF)),
        (cqi_pipeline, ways_df(spark, n_roads=24)),
    ]:
        # non-vacuous: most tags are absent from the input
        assert len(conform_ways(ways).columns) < 60
        assert len(_assert_folds_exactly(build, ways)) > 40


def test_fold_three_valued_logic(spark):
    """Every fold equals SQL on the same operands as columns: NOT, AND, OR,
    coalesce and when over {NULL, TRUE, FALSE}, and NULL through the
    comparisons, IN, <=>, contains and arithmetic."""
    from pyspark.sql import functions as F

    from osm_cycling_quality_index_spark.functions import fold

    row = spark.createDataFrame(
        [(None, True, False, None, "x", None)],
        "n boolean, t boolean, f boolean, s string, x string, d double")
    t = fold.Tags(row)
    k = {"n": fold.NULL_BOOL, "t": fold.TRUE, "f": fold.FALSE}
    pairs = []  # (folded, the same on real columns)
    for a in k:
        pairs.append((~k[a], ~F.col(a)))
        pairs.append((fold.when(k[a], 1).otherwise(0), F.when(F.col(a), 1).otherwise(0)))
        for b in k:
            pairs += [
                (k[a] & k[b], F.col(a) & F.col(b)),
                (k[a] | k[b], F.col(a) | F.col(b)),
                (~(k[a] | k[b]), ~(F.col(a) | F.col(b))),
                (fold.coalesce(k[a], k[b]), F.coalesce(F.col(a), F.col(b))),
                (fold.when(k[a], "a").when(k[b], "b").otherwise("c"),
                 F.when(F.col(a), "a").when(F.col(b), "b").otherwise("c")),
            ]
    s, col_s = fold.null("string"), F.col("s")
    pairs += [
        (s == "x", col_s == "x"), (s != "x", col_s != "x"),
        (~(s == "x"), ~(col_s == "x")), (s.isin(["x", "y"]), col_s.isin(["x", "y"])),
        (s.eqNullSafe("x"), col_s.eqNullSafe("x")), (s.eqNullSafe(None), col_s.eqNullSafe(None)),
        (s.contains("x"), col_s.contains("x")), (s.isNull(), col_s.isNull()),
        (fold.coalesce(s, t("x")), F.coalesce(col_s, F.col("x"))),
        (s.try_cast("double") + 1.0, F.col("d") + 1.0),
        (t("x") == s, F.col("x") == col_s),
    ]
    folded = [p for p, _ in pairs]
    # really folded, except the coalesce that keeps its present column
    assert [i for i, p in enumerate(folded) if fold.known(p) is None] == [len(pairs) - 3]
    got = row.select(*[p.alias(f"k{i}") for i, p in enumerate(folded)]).first()
    want = row.select(*[q.alias(f"k{i}") for i, (_, q) in enumerate(pairs)]).first()
    assert list(got) == list(want)


def test_cqi_fold_hostile_frames(spark):
    """Bare ways (id, highway, geometry), ways whose every tag is NULL, and
    no ways at all fold exactly too."""
    from pyspark.sql import functions as F

    from osm_cycling_quality_index_spark.operators.pipeline import cqi_pipeline

    def line(lon, lat):
        return [{"x": lon, "y": lat}, {"x": lon + 0.002, "y": lat}]

    schema = "id string, highway string, geometry array<struct<x:double,y:double>>"
    bare = spark.createDataFrame([
        ("r1", "residential", line(13.40, 52.5)),
        ("p1", "path", line(13.40, 52.50005)),
        ("c1", "cycleway", line(13.41, 52.5)),
        ("f1", "footway", line(13.41, 52.50005)),
        ("n1", None, line(13.42, 52.5)),
    ], schema)
    all_null = bare.withColumns({t: F.lit(None).cast("string") for t in [
        "highway", "cycleway", "cycleway:both", "sidewalk:bicycle", "width",
        "oneway", "surface", "maxspeed", "bicycle", "is_sidepath", "lit",
    ]})
    empty = spark.createDataFrame([], schema)
    # the footway without a bicycle tag is deleted (restricted access)
    assert len(_assert_folds_exactly(cqi_pipeline, bare)) == 4
    assert len(_assert_folds_exactly(cqi_pipeline, all_null)) == 5
    assert _assert_folds_exactly(cqi_pipeline, empty) == []


def _codegen_layout(df):
    """Run ``df``; return, for each Project and Filter of its final plan,
    (node, inside whole-stage codegen, holds the per-operator mark), and
    the largest method of each whole-stage span as compiled (-1 when the
    compile fails)."""
    df.collect()
    qe = df._jdf.queryExecution()
    nodes = []

    def walk(n, fused):
        name = n.nodeName()
        if name.startswith("WholeStageCodegen"):
            fused = True
        elif name == "InputAdapter":
            fused = False
        if name in ("Project", "Filter"):
            nodes.append((name, fused, "transform(" in n.simpleString(1 << 20)))
        if name == "AdaptiveSparkPlan":
            return walk(n.executedPlan(), False)
        if name.endswith("QueryStage"):
            return walk(n.plan(), False)
        kids = n.children()
        for i in range(kids.size()):
            walk(kids.apply(i), fused)

    walk(qe.executedPlan(), False)
    spans = qe.debug().codegenToSeq()
    sizes = [spans.apply(i)._3().maxMethodCodeSize() for i in range(spans.size())]
    return nodes, sizes


def test_cqi_stages_run_per_operator(spark):
    """The scalar stages' projections and the access filter stay out of
    whole-stage codegen (fold.per_operator), and every span that is fused
    compiles; in the registry queries, whose spans are all CQI stages, into
    methods the JIT takes (at most 8,000 bytes).  A lost mark fuses the
    stages into spans whose compile fails or whose methods run
    interpreted."""
    from osm_cycling_quality_index_spark.operators.pipeline import cqi_pipeline
    from osm_cycling_quality_index_spark.plans import cqi_query, cqi_roads_query
    from osm_cycling_quality_index_spark.sources.synth import ways_df

    for df, jit_sized in [
        (cqi_query.q_cqi_score_ways(spark, SF), True),
        (cqi_roads_query.q_cqi_score_roads_full(spark, SF), True),
        # the sidepath vote's spans are not part of the scalar chain
        (cqi_pipeline(ways_df(spark, n_roads=24)), False),
    ]:
        nodes, sizes = _codegen_layout(df)
        marked = [(name, fused) for name, fused, mark in nodes if mark]
        # conform, classify, derive, score: each leaves a marked projection
        assert sum(name == "Project" for name, _ in marked) >= 4, nodes
        assert ("Filter", False) in marked, nodes
        assert not any(fused for _, fused in marked), nodes
        assert sizes and all(s >= 0 for s in sizes), sizes
        assert not jit_sized or max(sizes) <= 8000, sizes


# ---------------------------------------------------------------------------
# PII scrubbing + deterministic sampling (round-4 additions)
# ---------------------------------------------------------------------------

def test_pii_scrub_hand_cases(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from osm_cycling_quality_index_spark.operators.quality import pii_scrub

    df = spark.createDataFrame([
        (0, "mail a@b.co and c.d+x@e-f.org end"),
        (1, "ip 10.0.0.1 then 192.168.255.3"),
        (2, "call +4915112345678 now"),
        (3, "clean text with no pii at all"),
        (4, "a@b.co 10.0.0.1 +12345678 all three"),
        (5, None),
    ], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert (rows[0]["n_emails"], rows[0]["n_ips"], rows[0]["n_phones"]) == (2, 0, 0)
    assert (rows[1]["n_emails"], rows[1]["n_ips"], rows[1]["n_phones"]) == (0, 2, 0)
    assert (rows[2]["n_emails"], rows[2]["n_ips"], rows[2]["n_phones"]) == (0, 0, 1)
    assert (rows[3]["n_emails"], rows[3]["n_ips"], rows[3]["n_phones"]) == (0, 0, 0)
    assert (rows[4]["n_emails"], rows[4]["n_ips"], rows[4]["n_phones"]) == (1, 1, 1)
    assert rows[5]["scrub_md5"] is None
    # the scrub really removed the PII: same md5 as the hand-redacted text
    import hashlib
    want = hashlib.md5(b"<EMAIL> <IP> <PHONE> all three").hexdigest()
    assert rows[4]["scrub_md5"] == want


def test_sampling_deterministic_and_exhaustive(spark):
    from pyspark.sql import functions as F

    from osm_cycling_quality_index_spark.operators.sampling import (
        hash_split, stratified_sample,
    )

    d = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    rates = {"s0": 1.0, "s1": 0.5, "s2": 0.0}
    a = {r["doc_id"] for r in stratified_sample(d, rates).collect()}
    # identical under a different physical layout (no RNG, no layout term)
    b = {r["doc_id"] for r in
         stratified_sample(d.repartition(7), rates).collect()}
    assert a == b
    per = {s: sum(1 for i in a if i % 3 == int(s[1])) for s in rates}
    assert per["s0"] == 667 and per["s2"] == 0   # rate 1.0 keeps all, 0.0 none
    assert 233 <= per["s1"] <= 433               # ~0.5 of 666
    # split: exhaustive, disjoint, stable, roughly proportioned
    sp = d.select("doc_id", hash_split(F.col("doc_id")).alias("split"))
    counts = {r["split"]: r["n"] for r in
              sp.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 2000
    assert counts["train"] > 1900 and set(counts) <= {"train", "val", "test"}
