"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CQI pipeline over ways synthesized
deterministically from the sf0.001 driver tables.  ``queries()`` exposes one
entry per implemented operator (SURVEY.md §2 + the training-data component
set); ``oracle_sql()`` carries the matching DuckDB mirrors (built in
``osm_cycling_quality_index_spark/plans/oracles.py``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osm_cycling_quality_index_spark.functions import text as T
from osm_cycling_quality_index_spark.functions.bpe import (
    bpe_query_sql as _bpe_query_sql,
    bpe_token_ids_sql as _bpe_token_ids_sql,
    bpe_vocab_sql as _bpe_vocab_sql,
)
from osm_cycling_quality_index_spark.operators import ann, dedup
from osm_cycling_quality_index_spark.plans import oracles as O
from osm_cycling_quality_index_spark.plans import geo_queries as G
from osm_cycling_quality_index_spark.streaming import sessions as S


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# relational coverage (scans, filters, joins, aggs, windows, set ops)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.sum("l_extendedprice").cast("double").alias("sum_base_price"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("double").alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


def q_orders_per_nation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").cast("double").alias("total_price"),
        )
    )


def q_topk_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 2)
        .select("o_custkey", "o_orderkey", "rnk")
    )


def q_vote_threshold(spark, sf_dir):
    """The reference's 2/3-majority vote pattern (A6,
    reference/cycling_quality_index.py:317-341) over the orders table."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("checks"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("hits"),
    )
    flag = F.when(F.col("checks") <= 2, F.col("hits") == F.col("checks")).otherwise(
        F.col("hits") >= F.col("checks") * 0.66
    )
    return per.select("o_custkey", "checks", flag.cast("int").alias("vote_yes"))


def q_semi_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_o = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("with_orders"))
    )
    without_o = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("without_orders"))
    )
    return with_o.crossJoin(without_o)


def q_distinct_parts(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.countDistinct("p_type").alias("n_types"), F.count(F.lit(1)).alias("n_parts")
    )


# ---------------------------------------------------------------------------
# events
# ---------------------------------------------------------------------------

def q_events_sessions(spark, sf_dir):
    return S.sessionize(_t(spark, sf_dir, "events"))


def q_events_tumbling(spark, sf_dir):
    return S.tumbling_counts(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# documents: dedup family + text analysis
# ---------------------------------------------------------------------------

def q_events_json(spark, sf_dir):
    """JSON-function coverage (SURVEY §2.10): parse the props payload,
    extract a typed field, aggregate per event type."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_events_asof(spark, sf_dir):
    """As-of join (operators/asof.py): each click event matched to the
    latest view event at-or-before it per user — single keyed shuffle via
    the union-sort-carry composition; DuckDB mirrors it with its native
    ASOF LEFT JOIN."""
    from osm_cycling_quality_index_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    l = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    r = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("event_id"))
    )
    return asof_join(l, r, by="user_id", ts="ts", payload=("event_id",))


def q_range_join_count(spark, sf_dir):
    """Range join (operators/ranges.py): per interval, how many point
    values fall inside it — interval side binned to an equi-join, never a
    theta-join.  Points from customer keys, intervals from supplier keys,
    both deterministic."""
    from osm_cycling_quality_index_spark.operators.ranges import range_join

    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    pts = c.select(
        F.col("c_custkey").alias("point_id"),
        ((F.col("c_custkey") * 37) % 10000).cast("double").alias("v"),
    )
    iv = s.select(
        F.col("s_suppkey").alias("interval_id"),
        ((F.col("s_suppkey") * 13) % 9000).cast("double").alias("lo"),
        (((F.col("s_suppkey") * 13) % 9000) + 120 + (F.col("s_suppkey") % 7) * 260)
        .cast("double").alias("hi"),
    )
    return (
        range_join(pts, iv, bin_size=500.0)
        .groupBy("interval_id")
        .agg(F.count(F.lit(1)).alias("n_points"), F.min("v").alias("min_v"))
    )


def q_events_rollup(spark, sf_dir):
    """Hypertable-style rollup: daily aggregates composed from hourly
    algebraic partials (streaming/sessions.py), never rescanning the fact
    table — equal to a direct daily aggregate by construction."""
    e = _t(spark, sf_dir, "events").withColumn(
        "value_cents", F.round(F.col("value") * 100, 0).cast("long")
    )
    # fixed-point partials: integer sums are exact in any order and any
    # engine, which is what makes the composed rollup == the direct one
    return S.rollup_daily(
        S.hourly_partials(e, "value_cents"), scale=100.0
    ).select("day", "event_type", "n", "avg_value")


def q_distinct_sketch(spark, sf_dir):
    """KMV distinct sketch (operators/sketch.py): per event type, estimated
    distinct users from the k smallest hash values, next to the exact
    count — deterministic affine hash, so DuckDB mirrors it exactly."""
    from osm_cycling_quality_index_spark.operators.sketch import (
        kmv_estimate, kmv_sketch,
    )

    e = _t(spark, sf_dir, "events")
    est = kmv_estimate(kmv_sketch(e, "user_id", "event_type", k=64), k=64)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"))
    return est.join(exact, "event_type")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan for the compute-bound dedup family: the test parquet
    is single-row-group, so without a round-robin exchange the tokenize /
    shingle pass runs at parallelism 1 (see plans/cqi_query.py _ways_df for
    the same trade; on real multi-row-group input AQE coalesces this away)."""
    return _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )


def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_dups")
    ).select("keeper_doc_id", "n_dups")


def q_jaccard_pairs(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


def q_dedup_groups_jaccard(spark, sf_dir):
    """Group resolution composed with the NGRAM-JACCARD pair source (the
    PPJoin prefix-filter pipeline) — the fourth pair source feeding the
    same connected-components resolver, each one directly oracled."""
    d = _docs(spark, sf_dir).persist()
    dedup.pin_session(spark, d.unpersist)
    pairs = dedup.ngram_jaccard_pairs(d, threshold=0.5)
    return dedup.dedup_groups(d, pairs, id_col="doc_id", a="doc_a", b="doc_b")


def q_minhash_lsh(spark, sf_dir):
    # dictionary/exact pinned: the only DuckDB-mirrorable configuration
    # (the operator's own defaults are the xxhash+sketch production path)
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir),
                                   mode="dictionary", verify="exact")


def q_minhash_sketch(spark, sf_dir):
    """Scale-path minhash verify (dedup.minhash_lsh_pairs with
    verify='sketch'): jaccard estimated as the signature
    matching-component fraction, so only the fixed-width signature rides
    to the candidates — verify cost independent of document length.
    Deterministic for the fixed hash family, hence exactly oracled."""
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir),
                                   mode="dictionary", verify="sketch")


def q_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir))


def q_text_stats(spark, sf_dir):
    return T.text_stats(_docs(spark, sf_dir))


def q_bpe_tokens(spark, sf_dir):
    """Real BPE subword counts over the committed merges table
    (functions/bpe.py): the pure-column replace-chain encoder, mirrored
    rule-for-rule in DuckDB; the Arrow-batched twin is pytest-gated equal."""
    from osm_cycling_quality_index_spark.functions.bpe import bpe_token_count

    d = _docs(spark, sf_dir)
    return d.select("doc_id", bpe_token_count(F.col("text")).alias("n_bpe_tokens"))


def q_lang_quality(spark, sf_dir):
    """Dedicated lang_id / quality_score boundary row (they otherwise ride
    text_stats, where a marker-table regression only surfaces as an opaque
    hash flip): customer keys cycle through functions/text.py's
    LANG_BOUNDARY_CASES — texts sitting exactly on the length / punctuation
    / stopword-density thresholds and the marker argmax tie — and the
    per-language scores are emitted alongside the verdicts so a mismatch
    localizes itself."""
    from osm_cycling_quality_index_spark.functions.text import (
        LANG_BOUNDARY_CASES, lang_id, lang_scores, quality_score,
    )

    # every row's text is one of the n boundary cases or '' BY
    # CONSTRUCTION (t is a pure function of c_custkey % n), so the heavy
    # scoring expressions — repeat() literals up to tens of KB + marker
    # scans per language — are evaluated once per DISTINCT case on an
    # (n + 1)-row dimension and attached by broadcast join, the same
    # value-collapse move the dedup resolvers use.  Same lang_scores/
    # lang_id/quality_score expressions, same values per row (measured at
    # sf0.1: 3.9-5.2 s of per-row scoring collapses to the n-row
    # evaluation).
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    n = len(LANG_BOUNDARY_CASES)
    cid = F.col("case_id")
    t = None
    for i, case in enumerate(LANG_BOUNDARY_CASES):
        lit = (F.repeat(F.lit(case[1]), case[2]) if isinstance(case, tuple)
               else F.lit(case))
        t = F.when(cid == i, lit) if t is None else t.when(cid == i, lit)
    t = t.otherwise(F.lit(""))
    scores = lang_scores(t)
    # case -1 takes the keys whose ``% n`` is negative or NULL (the
    # oracle's ELSE '' arm); the chain's otherwise("") gives it ''
    dim = spark.range(-1, n).select(
        F.col("id").alias("case_id"),
        *[scores[lang].cast("int").alias(f"s_{lang}") for lang in sorted(scores)],
        lang_id(t).alias("lang"),
        quality_score(t).alias("quality"),
    )
    return (
        c.select(k.alias("doc_id"),
                 F.when(k % n >= 0, k % n).otherwise(-1).alias("case_id"))
        .join(F.broadcast(dim), "case_id")
        .select(
            "doc_id",
            *[f"s_{lang}" for lang in sorted(scores)],
            "lang", "quality",
        )
    )


def q_bpe_vocab(spark, sf_dir):
    """Corpus BPE vocabulary histogram over the subword SEQUENCES
    (functions/bpe.bpe_pieces — the split-to-array step the replace-chain
    string already contains): per piece, total occurrences and distinct
    docs.  This is the output a tokenizing stage actually ships; per-doc
    token ids are one broadcast vocab-join away from the same array."""
    from osm_cycling_quality_index_spark.functions.bpe import bpe_pieces

    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id", F.explode(bpe_pieces(F.col("text"))).alias("piece"))
        .groupBy("piece")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


def q_bpe_token_ids(spark, sf_dir):
    """Per-doc BPE token-ID sequences — the final output a tokenizing
    stage ships: the piece array exploded with position, each piece mapped
    to a dense corpus-vocab id by a broadcast join.  The BPE vocabulary is
    bounded by construction (base alphabet + one entry per committed
    merge), so the dense_rank window over the distinct pieces is a
    dimension-sized single partition, never a corpus-sized one.  Output:
    (doc_id, pos, token_id) — exploded scalars rather than an array column
    so the oracle hash covers every id positionally."""
    from osm_cycling_quality_index_spark.functions.bpe import bpe_pieces

    from osm_cycling_quality_index_spark.operators import dedup

    d = _docs(spark, sf_dir)
    # fan-out persist: the 3x64 replace-chain below feeds BOTH the vocab
    # distinct and the join probe side — without the persist the most
    # expensive expression in the family evaluates twice per run
    pieces = d.select(
        "doc_id", F.posexplode(bpe_pieces(F.col("text"))).alias("pos", "piece")
    ).persist()
    dedup.pin_session(spark, pieces.unpersist)
    vocab = (
        pieces.select("piece").distinct()
        .withColumn(
            "token_id",
            # dimension-sized single-partition window (vocab is bounded by
            # base alphabet + committed merges); partition by a
            # value-derived constant so the spec survives the optimizer
            # and WindowExec does not WARN like a corpus-sized global
            # window would (see operators/dedup.word_ids)
            F.dense_rank().over(
                Window.partitionBy(F.substring("piece", 1, 0)).orderBy("piece")
            ).cast("int"),
        )
    )
    return (
        pieces.join(F.broadcast(vocab), "piece")
        .select("doc_id", F.col("pos").cast("int").alias("pos"), "token_id")
    )


def q_span_dedup(spark, sf_dir):
    """Exact repeated-span detection (Lee et al. ExactSubstr; see
    operators/dedup.repeated_spans): maximal token intervals covered by
    corpus-duplicated 8-grams.  Positions cast to BIGINT to match the
    oracle's range()-derived types."""
    spans = dedup.repeated_spans(_docs(spark, sf_dir), k=8, min_count=2)
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


def q_fingerprint(spark, sf_dir):
    return T.fingerprint(_t(spark, sf_dir, "documents"))


def q_repetition_stats(spark, sf_dir):
    """Gopher/C4-style repetition quality features per doc
    (operators/quality.repetition_stats)."""
    from osm_cycling_quality_index_spark.operators.quality import (
        repetition_stats,
    )

    return repetition_stats(_docs(spark, sf_dir))


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/quality.decontaminate):
    5-gram overlap against a deterministic benchmark subset
    (doc_id % 97 == 0) flags leaked evaluation passages; corpus side is
    linear, benchmark shingle set broadcast."""
    from osm_cycling_quality_index_spark.operators.quality import decontaminate

    # three consumers of the docs scan (corpus shingles, benchmark
    # shingles, the corpus-side output join) — persist at the fan-out,
    # registered for release_session_pinned (a library consumer composing
    # these functions must be able to return the session to baseline)
    d = _docs(spark, sf_dir).persist()
    dedup.pin_session(spark, d.unpersist)
    bench = d.where(F.col("doc_id") % 97 == 0)
    return decontaminate(d, bench, n=5)


def q_pii_scrub(spark, sf_dir):
    """PII redaction (operators/quality.pii_scrub) over deterministically
    PII-augmented documents (the synth corpus carries no PII, so emails /
    IPv4s / phone numbers are planted as pure functions of doc_id —
    mirrored expression-for-expression in the oracle)."""
    from osm_cycling_quality_index_spark.operators.quality import pii_scrub

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(did % 3 == 0, F.concat(
            F.lit(" contact user"), did.cast("string"),
            F.lit("@ex-ample.org now"))).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.concat(
            F.lit(" from 10.0."), (did % 256).cast("string"),
            F.lit(".77"))).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.concat(
            F.lit(" call +4930"), (did + 1000000).cast("string"),
            F.lit(" ok"))).otherwise(F.lit("")),
    )
    return pii_scrub(d.select("doc_id", aug.alias("text")))


def q_sample_split(spark, sf_dir):
    """Deterministic data mixing (operators/sampling): per-source
    stratified keep rates + hash-based train/val/test split — both pure
    affine-hash functions of doc_id, reproducible across engines,
    partitionings and re-runs (no RNG, no shuffle)."""
    from osm_cycling_quality_index_spark.operators.sampling import (
        hash_split, stratified_sample,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = stratified_sample(
        d, {"src0": 1.0, "src1": 0.5, "src2": 0.25}, default_rate=0.125)
    return s.select(
        "doc_id", "source",
        hash_split(F.col("doc_id"), train=0.8, val=0.1).alias("split"),
    )


def q_corpus_curate(spark, sf_dir):
    """End-to-end corpus curation — the composition a production
    pretraining pipeline actually runs, as ONE declarative plan:
    near-dup keepers (minhash-LSH pairs -> connected components -> one
    keeper per cluster) ∩ repetition-quality pass (dup_word_frac <= 0.6)
    ∩ not benchmark-contaminated, then per-source stratified sampling and
    a hash train/val/test split.  Every stage is an operator already
    oracled on its own; this row proves they compose (and the oracle
    composes their SQL mirrors the same way)."""
    from osm_cycling_quality_index_spark.operators.quality import (
        decontaminate, dup_word_frac_col,
    )
    from osm_cycling_quality_index_spark.operators.sampling import (
        hash_split, stratified_sample,
    )

    # the docs scan fans out to four consumers (pair pipeline, group
    # resolver, repetition stats, decontamination x2) — persist at the
    # boundary, per the repo fan-out rule; registered for release
    d = _docs(spark, sf_dir).persist()
    dedup.pin_session(spark, d.unpersist)
    # value-collapsed resolver + sketch verify (r5 VERDICT item 5): the
    # dedup stage dominated this composition's cost; the collapsed
    # resolver pays O(distinct texts) and the sketch verify carries only
    # fixed-width signatures.  Bit-identical to the pair path (pinned),
    # so the oracle's recursive-CTE closure is unchanged apart from the
    # pairs CTE swapping to the sketch mirror.
    groups = dedup.minhash_groups(d, mode="dictionary", verify="sketch")
    keep = groups.where(F.col("is_keeper") == 1).select("doc_id")
    # the repetition pass here filters on dup_word_frac ALONE — use the
    # shared map-only column instead of the full repetition_stats frame,
    # whose bigram branch (explode + two aggregates + a join) would
    # execute for a discarded column (Catalyst cannot eliminate the
    # left join without uniqueness metadata)
    rep = d.where(dup_word_frac_col() <= 0.6).select("doc_id")
    dec = decontaminate(d, d.where(F.col("doc_id") % 97 == 0), n=5).where(
        F.col("contaminated") == 0).select("doc_id")
    # the sample stage reads only (doc_id, source) — reuse the persisted
    # docs frame instead of a second parquet scan
    kept = (
        d.join(keep, "doc_id", "left_semi")
        .join(rep, "doc_id", "left_semi")
        .join(dec, "doc_id", "left_semi")
    )
    s = stratified_sample(
        kept, {"src0": 1.0, "src1": 0.5, "src2": 0.25}, default_rate=0.5)
    return s.select(
        "doc_id", "source",
        hash_split(F.col("doc_id"), train=0.9, val=0.05).alias("split"),
    )


# ---------------------------------------------------------------------------
# images: pHash near-dup (third dedup modality after text + embeddings)
# ---------------------------------------------------------------------------

def _images_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image table (image_id, phash) synthesized deterministically from
    customer, mirroring the input_hint's ``phash:int64`` column: a 62-bit
    cluster base (image_id % 256 — the "same photo" group) XOR up to 7
    single-bit flips at id-derived positions ("re-encode noise"), so
    same-cluster members sit at small controlled hamming distances and
    cross-cluster hashes are ~31 bits apart.  POWER(2, p) is exact in IEEE
    double for p <= 62, so the BIGINT cast matches DuckDB bit-for-bit.  (On
    real data this column comes from imaging/phash.py over the decoded
    pixels; the synthesized variant is what makes the query oracle-able.)"""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    cl = k % 256
    ph = ((cl * 2654435761) % F.lit(1 << 30)) * F.lit(1 << 32) \
        + (cl * 40503 + 17) % F.lit(1 << 31)
    for i in range(7):
        bit = F.pow(F.lit(2.0), ((k * (7 + 6 * i)) % 62).cast("double")).cast("long")
        ph = ph.bitwiseXOR(F.when(k % 8 > i, bit).otherwise(F.lit(0)))
    return c.select(k.alias("image_id"), ph.alias("phash"))


def q_phash_near_dups(spark, sf_dir):
    """Image near-duplicate pairs by pHash hamming distance
    (dedup.hamming_near_pairs): block-pigeonhole candidate generation over
    7 disjoint bit-blocks (an equi-join, never all-pairs), exact
    bit_count(xor) verify at hamming <= 6."""
    img = _images_phash(spark, sf_dir)
    return dedup.hamming_near_pairs(
        img, "image_id", "phash", bits=64, max_hamming=6,
        out_a="img_a", out_b="img_b",
    )


def q_dedup_groups_images(spark, sf_dir):
    """Image dedup groups via the value-collapsed resolver
    (dedup.hamming_groups): distinct pHash values -> block-pigeonhole
    pairs + connected components on the VALUE graph -> expand back to
    members.  Bit-identical to dedup_groups over hamming_near_pairs
    (pinned in tests/test_round5.py), but exact-duplicate families
    (re-encodes — the common image case) collapse before the quadratic
    pair enumeration: 78x on a 150k-row corpus with ~20x value
    repetition, break-even-or-better when values are all distinct."""
    return dedup.hamming_groups(
        _images_phash(spark, sf_dir), "image_id", "phash",
        bits=64, max_hamming=6,
    )


# ---------------------------------------------------------------------------
# embeddings: similarity search + near-dup
# ---------------------------------------------------------------------------

def _queries_frame(emb: DataFrame) -> DataFrame:
    return emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_emb")
    )


def q_embedding_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return ann.brute_force_topk(emb, _queries_frame(emb), k=5)


def q_ann_buckets(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return ann.hyperplane_buckets(emb).select("vec_id", "bucket")


def q_embedding_near_dups(spark, sf_dir):
    # 0.35 sits at the ~99.9th percentile of pair cosines in the synthetic
    # embeddings — high enough to mean "near-dup", low enough to be non-empty
    return dedup.embedding_near_dups(_t(spark, sf_dir, "embeddings"), threshold=0.35)


def q_dedup_groups(spark, sf_dir):
    """Pair->cluster resolution (operators/dedup.dedup_groups): near-dup
    pairs at cosine>=0.3 resolved into connected components with one keeper
    per group; singletons keep themselves.  0.3 gives multi-hop transitive
    chains in the synthetic embeddings (components up to size 6), so the
    label-propagation loop genuinely iterates."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_near_dups(emb, threshold=0.3)
    return dedup.dedup_groups(emb, pairs, id_col="vec_id", a="vec_a", b="vec_b")


def q_dedup_groups_collapsed(spark, sf_dir):
    """Embedding dedup groups via the exact-duplicate-collapse resolver
    (dedup.embedding_groups): distinct vectors -> sign-LSH pairs +
    connected components on representatives -> ids-only expand.
    Bit-identical to q_dedup_groups (pinned in tests/test_round5.py;
    same recursive-CTE oracle); duplicate rows — identical upstream
    content producing identical embeddings — stop multiplying the
    O(r^2) LSH-bucket candidate work."""
    return dedup.embedding_groups(
        _t(spark, sf_dir, "embeddings"), threshold=0.3
    )


def q_dedup_groups_text(spark, sf_dir):
    """Group resolution composed with the TEXT pair source: minhash-LSH
    near-dup pairs on documents -> connected components -> one keeper per
    cluster (same resolver as the embedding variant, different pair
    pipeline feeding it)."""
    # two consumers of the docs scan (pair pipeline + group-resolver
    # corpus side) — persist at the fan-out, registered for release
    d = _docs(spark, sf_dir).persist()
    dedup.pin_session(spark, d.unpersist)
    pairs = dedup.minhash_lsh_pairs(d, mode="dictionary", verify="exact")
    return dedup.dedup_groups(d, pairs, id_col="doc_id", a="doc_a", b="doc_b")


def q_dedup_groups_text_collapsed(spark, sf_dir):
    """Text dedup groups via the exact-duplicate-collapse resolver
    (dedup.minhash_groups): distinct texts -> minhash-LSH pairs +
    connected components on representatives -> expand through the
    (id, rep) mapping.  Bit-identical to q_dedup_groups_text (pinned in
    tests/test_round5.py; same recursive-CTE oracle), but a corpus whose
    duplication is exact copies — the dominant web-crawl case — does
    (1/r^2) of the shingle/band/verify work for repetition factor r:
    12x on a 50k-doc corpus with 100 copies per text.  Sketch verify
    (fixed-width signature payload) + dictionary ids: the fastest
    DuckDB-mirrorable configuration; xxhash parity is pinned in pytest."""
    return dedup.minhash_groups(_docs(spark, sf_dir),
                                mode="dictionary", verify="sketch")


def q_ivf_topk(spark, sf_dir):
    """IVF-flat approximate top-k (inverted-file scale path); deterministic
    seed centroids keep it exactly SQL-mirrorable."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann.ivf_topk(emb, _queries_frame(emb), k=5)


def q_ann_lsh_topk(spark, sf_dir):
    """Approximate top-k (scale path).  The bucketing is deterministic
    (fixed hyperplanes + Hamming-1 probes), so it carries an exact SQL
    mirror (O.ann_lsh_topk_sql); recall vs brute force is gated in pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann.lsh_topk(emb, _queries_frame(emb), k=5)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CQI-score ways synthesized from sf0.001 lineitem."""
    return G.q_cqi_score_ways(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness check covers the FIRST 50
    # entries, so the reference's §2-critical geo queries (J1 spatial
    # join + A1-A9 votes, S2/H3 encoders, CQI pipeline) come first —
    # in r5 geo_s2_cells/geo_sidepath_vote were registered 51st/52nd and
    # silently fell outside the artifact.  A pytest pins len(q) <= 50
    # and geo-first.  Consolidated rows (still implemented + oracled in
    # pytest, parity-pinned bit-identical to a registered row):
    # dedup_groups / dedup_groups_text pair paths (collapsed variants
    # registered; CC pair path witnessed by dedup_groups_jaccard and
    # dedup_groups_images) and bpe_token_counts (superseded by the
    # strictly stronger bpe_token_ids, 49k rows positional).
    q = dict(G.QUERIES)
    q.update({
        "pricing_summary": q_pricing_summary,
        "orders_per_nation": q_orders_per_nation,
        "topk_orders": q_topk_orders,
        "vote_threshold": q_vote_threshold,
        "semi_anti_counts": q_semi_anti,
        "distinct_parts": q_distinct_parts,
        "events_sessions": q_events_sessions,
        "events_tumbling": q_events_tumbling,
        "events_json": q_events_json,
        "events_asof": q_events_asof,
        "range_join_count": q_range_join_count,
        "events_rollup": q_events_rollup,
        "distinct_sketch": q_distinct_sketch,
        "dedup_exact": q_dedup_exact,
        "jaccard_pairs": q_jaccard_pairs,
        "dedup_groups_jaccard": q_dedup_groups_jaccard,
        "minhash_lsh_pairs": q_minhash_lsh,
        "minhash_sketch_pairs": q_minhash_sketch,
        "simhash": q_simhash,
        "text_stats": q_text_stats,
        "lang_quality": q_lang_quality,
        "bpe_vocab_counts": q_bpe_vocab,
        "bpe_token_ids": q_bpe_token_ids,
        "span_dedup": q_span_dedup,
        "doc_fingerprint": q_fingerprint,
        "repetition_stats": q_repetition_stats,
        "decontaminate": q_decontaminate,
        "pii_scrub": q_pii_scrub,
        "sample_split": q_sample_split,
        "corpus_curate": q_corpus_curate,
        "embedding_topk": q_embedding_topk,
        "ann_buckets": q_ann_buckets,
        "embedding_near_dups": q_embedding_near_dups,
        "dedup_groups_collapsed": q_dedup_groups_collapsed,
        "dedup_groups_text_collapsed": q_dedup_groups_text_collapsed,
        "phash_near_dups": q_phash_near_dups,
        "dedup_groups_images": q_dedup_groups_images,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ivf_topk": q_ivf_topk,
    })
    return q


def oracle_sql() -> dict[str, str]:
    # same ordering contract as queries(): geo oracles first
    sql = dict(G.ORACLES)
    sql.update({
        "pricing_summary": O.PRICING_SUMMARY,
        "orders_per_nation": O.ORDERS_PER_NATION,
        "topk_orders": O.TOPK_ORDERS,
        "vote_threshold": O.VOTE_THRESHOLD,
        "semi_anti_counts": O.SEMI_ANTI_COUNTS,
        "distinct_parts": O.DISTINCT_PARTS,
        "events_sessions": O.EVENTS_SESSIONS,
        "events_tumbling": O.EVENTS_TUMBLING,
        "events_json": O.EVENTS_JSON,
        "events_asof": O.EVENTS_ASOF,
        "range_join_count": O.RANGE_JOIN_COUNT,
        "events_rollup": O.EVENTS_ROLLUP,
        "distinct_sketch": O.DISTINCT_SKETCH,
        "dedup_exact": O.DEDUP_EXACT,
        "jaccard_pairs": O.JACCARD_PAIRS.format(threshold=0.5),
        "dedup_groups_jaccard": O.dedup_groups_jaccard_sql(threshold=0.5),
        "minhash_lsh_pairs": O.minhash_lsh_sql(),
        "minhash_sketch_pairs": O.minhash_sketch_sql(),
        "simhash": O.simhash_sql(),
        "text_stats": O.text_stats_sql(),
        "lang_quality": O.lang_quality_sql(),
        "bpe_vocab_counts": _bpe_vocab_sql(),
        "bpe_token_ids": _bpe_token_ids_sql(),
        "span_dedup": O.span_dedup_sql(k=8, min_count=2),
        "doc_fingerprint": O.FINGERPRINT,
        "repetition_stats": O.REPETITION_STATS,
        "decontaminate": O.decontaminate_sql(),
        "pii_scrub": O.pii_scrub_sql(),
        "sample_split": O.sample_split_sql(),
        "corpus_curate": O.corpus_curate_sql(),
        "embedding_topk": O.embedding_topk_sql(),
        "ann_buckets": O.ann_buckets_sql(),
        "embedding_near_dups": O.embedding_near_dups_sql(threshold=0.35),
        "dedup_groups_collapsed": O.dedup_groups_sql(threshold=0.3),
        "dedup_groups_text_collapsed": O.dedup_groups_text_sql(verify="sketch"),
        "phash_near_dups": O.phash_near_dups_sql(),
        "dedup_groups_images": O.dedup_groups_images_sql(),
        # the LSH approximation is deterministic (fixed hyperplanes), so it
        # mirrors exactly; recall vs brute force is gated in pytest
        "ann_lsh_topk": O.ann_lsh_topk_sql(),
        "ivf_topk": O.ivf_topk_sql(),
    })
    return sql
