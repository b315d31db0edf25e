"""Deduplication operators for large-scale training-data pipelines
(driver-required component set: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup).

All operators are pure DataFrame compositions (shuffle-conscious: candidate
generation is always an equi-join on a bucket key, never a cross join) and
deterministic, so each has an exact DuckDB oracle in ``__spark_entry__``.

Hashing note: the MinHash/SimHash family supports two word->int mappings:
``dictionary`` (dense_rank over the corpus vocabulary — deterministic and
SQL-mirrorable, used by the correctness gate) and ``xxhash`` (xxhash64 — the
production path at 100 TB scale where a vocabulary join is unnecessary).
"""

from __future__ import annotations

import os as _os
import re as _re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_P = 2147483647  # Mersenne prime 2^31-1 for the affine hash family

#: localCheckpoint RDD ids pinned by connected_components calls whose caller
#: did not pass a ``release_ids`` list (plus cleanup callables from
#: dedup_groups and other operators with session-lifetime state).  Neither
#: DataFrame.unpersist, Python GC nor catalog.clearCache frees a
#: localCheckpoint (verified empirically, see connected_components
#: docstring) — a long-lived session that runs many dedup passes calls
#: :func:`release_session_pinned` between them.  Entries are
#: ``(applicationId, rdd_id_or_callable)``: raw JVM RDD ids are only
#: meaningful within the SparkContext that created them, so a stale entry
#: from a stopped-and-recreated session must never unpersist a colliding id
#: of the new context.
_SESSION_PINNED: list = []


def pin_session(spark, item) -> None:
    """Register an RDD id (int) or a zero-arg cleanup callable for
    :func:`release_session_pinned`, tagged with the owning context's
    applicationId."""
    _SESSION_PINNED.append((spark.sparkContext.applicationId, item))


def release_checkpoint_ids(spark, ids) -> None:
    """Free localCheckpoint blocks by RDD id through the JVM persistent-RDD
    registry.  After this the owning DataFrame is NOT recomputable (a
    localCheckpoint truncates lineage); only call once its consumers are
    done."""
    reg = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        if reg.containsKey(rid):
            reg.get(rid).unpersist(False)


def release_session_pinned(spark) -> None:
    """Free every checkpoint block / persist / broadcast pinned by prior
    operator calls in this session (see :data:`_SESSION_PINNED`).  Safe to
    call between queries; the frames those calls returned must no longer be
    in use.  Entries owned by a different (stopped) SparkContext are
    discarded without touching the current context — RDD ids restart from 0
    in a new context, so acting on them would unpersist an unrelated RDD."""
    cur = spark.sparkContext.applicationId
    for app_id, item in _SESSION_PINNED:
        if app_id != cur:
            continue
        if callable(item):
            item()
        else:
            release_checkpoint_ids(spark, [item])
    _SESSION_PINNED.clear()


#: operator name heading a line of ``queryExecution().sparkPlan()``'s tree
#: string, after the tree-drawing prefix (``:``, ``+-``, spaces)
_PLAN_OP = _re.compile(r"[\s:+-]*([A-Za-z]+)")
#: operators that are, or need, a shuffle.  sparkPlan() precedes
#: EnsureRequirements, so the exchanges a join/aggregate/window REQUIRES
#: are not printed yet — those operators count as shuffled too, or their
#: frames would fall through to the rdd probe, which under AQE executes the
#: entire upstream subtree to materialize the final RDD (the exact probe
#: cost this classification exists to avoid)
_SHUFFLING_OPS = frozenset({
    "Exchange", "HashAggregate", "ObjectHashAggregate", "SortAggregate",
    "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
    "BroadcastNestedLoopJoin", "Window", "WindowGroupLimit",
    "ArrowWindowPython",
})


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the cluster's defaultParallelism when its
    current layout is narrower — the guard every operator whose per-row
    expressions dominate its cost puts in front of that work.  A compact
    input (one parquet row group: every local fixture, many small-file
    corpora) otherwise pins the expensive map stage at the scan's
    parallelism; profiled at sf1, minhash shingling ran 71 s on 2 cores
    and 5 s after the fan-out.  The shuffled payload is the input as-is
    (paid once, before any row inflation); inputs already at least as wide
    as the cluster — the 100-TB case — are returned untouched, so this
    never adds a shuffle at scale.  Only safe for consumers whose results
    are layout-independent (aggregates, value-derived buckets — true for
    every caller in this repo)."""
    if df.isStreaming:
        # a streaming plan has no batch physical plan or RDD to classify
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    # Probing width with ``df.rdd.getNumPartitions()`` is only cheap on a
    # scan-only plan (metadata: the file split count).  On a plan
    # containing a shuffle, AQE EXECUTES the upstream query stages to
    # materialize the final RDD, so the old unconditional probe ran the
    # whole subtree once and threw the result away (measured: decontaminate
    # over a repartitioned input paid ~4x at sf1).  And a shuffled plan's
    # width cannot be assumed cluster-wide either: AQE byte-size coalescing
    # collapses a small post-shuffle frame to 1-2 partitions, which
    # serialized the hyperplane-projection stage for a whole 70 s at sf1
    # when a draft of this function skipped shuffled plans outright.  The
    # pre-execution sparkPlan is pure planning — classify from the operator
    # name heading each of its lines (never from raw substrings: a column
    # named ``window`` is not a window operator).
    lines = df._jdf.queryExecution().sparkPlan().toString().splitlines()
    ops = {m.group(1) for m in map(_PLAN_OP.match, lines) if m}
    if ops & _SHUFFLING_OPS:
        # already explicitly width-pinned on top (repartition(k>=n) is the
        # repo's anti-coalescing idiom; AQE honours explicit numPartitions)?
        # then adding another exchange buys nothing.
        m = _re.match(r"Exchange RoundRobinPartitioning\((\d+)\)", lines[0])
        if m and int(m.group(1)) >= n:
            return df
        # one explicit exchange of the (post-shuffle, usually already
        # reduced) frame guarantees the expensive map stage's width in BOTH
        # regimes — no probe, no extra pass over the base data
        return df.repartition(n)
    # scan-only plan: the probe is metadata (file split count), no job
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def tokenize(df: DataFrame, text_col: str = "text", kind: str = "word") -> DataFrame:
    """(doc_id, word) distinct — lowercase whitespace tokens, or 3-word
    shingles (``kind='shingle'``).  Shingles are the scale path: a tiny
    vocabulary makes word-set similarity degenerate (every pair overlaps),
    while the shingle space stays sparse.

    The shingle transform is the most expensive per-row expression in the
    dedup family, and a compact input (one parquet row group — the shape
    every local fixture and many small-file corpora have) would run it at
    the scan's parallelism: profiled at sf1, the WHOLE minhash pipeline
    was 72 s of which 71 s was shingling on 2 cores.  When the input has
    fewer partitions than the cluster has slots, fan it out first — the
    shuffled payload is the raw text (paid once, before the ~50x shingle
    row inflation), and every downstream consumer is an aggregate or a
    value-derived bucket, so layout never affects results.  Inputs already
    wider than the cluster (the 100-TB case) are left untouched."""
    df = fan_out(df)
    # NOTE: empty tokens from repeated spaces are kept inside shingles
    # (the oracles mirror this); operators/quality._shingles is the
    # filtered-words variant — see its docstring before unifying them
    ws = F.split(F.lower(F.col(text_col)), " ")
    if kind == "shingle":
        tok = F.when(
            F.size(ws) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(ws, (i + 1).cast("int")),
                    F.element_at(ws, (i + 2).cast("int")),
                    F.element_at(ws, (i + 3).cast("int")),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    else:
        tok = ws
    # per-doc dedup BEFORE the explode: the distinct key is (doc_id, word),
    # so array_distinct inside the row is equivalent to a global
    # .distinct() — minus the full shuffle of every exploded token the
    # global form costs.  tokenize is map-only.
    return (
        df.select("doc_id", F.explode(F.array_distinct(tok)).alias("word"))
        .where(F.col("word") != "")
    )


def word_ids(tokens: DataFrame, mode: str = "dictionary") -> DataFrame:
    """Attach an integer id per word (see module docstring).

    Dictionary ids are the global 1-based rank of the word — computed
    WITHOUT a global window (which would single-partition the vocabulary):
    rank within a *deterministic* bucket (the word's 3-char prefix — a pure
    function of the value, never of physical layout), then add cumulative
    bucket offsets.  The offset table is one row per occupied prefix
    (bounded by alphabet³, tiny), folded through a 1-row-group window.  The
    result is identical to ``dense_rank() OVER (ORDER BY word)``.

    An earlier variant bucketed by ``spark_partition_id()`` after
    ``repartitionByRange``; AQE re-layout (coalesce/skew-split of the range
    exchange) can break the partition↔key-range correspondence and made ids
    nondeterministic between plans.  Value-derived buckets cannot drift.
    """
    if mode == "xxhash":
        return tokens.withColumn("word_id", F.pmod(F.xxhash64("word"), F.lit(_P)))
    vocab = tokens.select("word").distinct().withColumn(
        "_bkt", F.substring("word", 1, 3)
    )
    local = vocab.withColumn(
        "_local",
        F.row_number().over(Window.partitionBy("_bkt").orderBy("word")),
    )
    # bucket sizes come straight from the vocab (no rank needed), keeping
    # the two consumers' subtrees identical up to the distinct's exchange
    counts = vocab.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_cnt"))
    # the cumulative fold runs over the bounded per-prefix count table
    # (<= alphabet^3 rows), so a single-partition window is safe BY SIZE —
    # but a foldable partition spec (lit) is erased by the optimizer and
    # WindowExec then WARNs "No Partition Defined", indistinguishable in
    # logs from a real corpus-sized global window.  Partition by a
    # value-derived constant (the empty prefix of _bkt): same single
    # partition, same result, not foldable, no warning.
    offsets = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_cnt").over(
                Window.partitionBy(F.substring("_bkt", 1, 0)).orderBy("_bkt")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_bkt", "_off")
    vocab_ids = (
        local.join(F.broadcast(offsets), "_bkt")
        .select("word", (F.col("_local") + F.col("_off")).alias("word_id"))
    )
    # vocabulary is tiny relative to the corpus -> broadcast-joined
    return tokens.join(F.broadcast(vocab_ids), "word")


def dedup_exact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicates by full-text equality: one keeper per group.
    Output: (text_hash, n_dups, keeper_doc_id)."""
    return (
        df.groupBy(F.col(text_col))
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper_doc_id"))
        .select(
            F.xxhash64(text_col).alias("text_hash"), "n_dups", "keeper_doc_id"
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame, threshold: float = 0.5, text_col: str = "text",
    mode: str = "dictionary", kind: str = "shingle",
) -> DataFrame:
    """Near-duplicate pairs by Jaccard similarity over distinct 3-word
    shingle sets (word sets with ``kind='word'``), with PREFIX FILTERING
    (Chaudhuri et al. SSJoin / Bayardo et al. "Scaling Up All Pairs")
    for candidate generation.

    A naive inverted-index self-join enumerates every pair sharing ANY
    token and counts per pair — at sf1 that is 138M joined rows
    collapsing to 113M pairs with near-zero map-side reduction, all for
    250k survivors (profiled; see BENCH/SF1.md).  Prefix filtering uses
    the exact containment property instead: order each doc's tokens by a
    global total order (ascending document frequency, ties by value —
    rarest first), keep only the first ``n - ceil(threshold*n) + 1`` as
    its PREFIX; two sets with Jaccard >= threshold MUST share a prefix
    token, so the equi-join over prefixes alone is candidate-complete.
    Common/high-df boilerplate tokens never generate candidates.  The
    surviving candidates are then verified exactly on the full shingle-id
    sets — output is IDENTICAL to the naive plan: (doc_a, doc_b, common,
    jaccard) with doc_a < doc_b, jaccard >= threshold.  PPJoin's length
    and position filters (Xiao et al.) prune further, also exactly.
    (``mode`` is accepted for signature stability but verification always
    uses dictionary word ids — they are exactly unique per word, which the
    count semantics require.)
    """
    n_part = df.sparkSession.sparkContext.defaultParallelism
    # tokenize fans out (document-frequency aggregate, the word-id
    # vocabulary, the ranked frame); persist at the boundary so the
    # scan+shingle pass runs once
    toks = tokenize(df, text_col, kind).persist()
    pin_session(df.sparkSession, toks.unpersist)
    # verify runs on integer word ids, not strings: the candidate set is
    # millions of rows on clustered corpora, and int-array intersection is
    # several times cheaper to ship and compute than string arrays.
    # Dictionary ids are exactly unique per word, so counts are identical
    # to counting the strings themselves.
    #
    # ONE vocabulary aggregate serves both the id dictionary and the
    # document frequencies (word_ids + a separate dfreq groupBy scanned
    # the token stream twice and attached by two joins), and the per-doc
    # df-order position comes from an IN-ARRAY sort after the groupBy
    # rather than a row_number window — the window cost a full extra
    # sort-shuffle of the token stream for an ordering the ~prefix-sized
    # per-doc arrays can establish map-side (struct sort by (_df, word)
    # == the window's orderBy: word is unique per doc, so the order is
    # total either way).  Ids are identical to word_ids(toks,
    # 'dictionary'): rank within the 3-char-prefix bucket + cumulative
    # bucket offsets, independent of _df.
    vocab = toks.groupBy("word").agg(
        F.count(F.lit(1)).alias("_df")
    ).withColumn("_bkt", F.substring("word", 1, 3))
    local = vocab.withColumn(
        "_local",
        F.row_number().over(Window.partitionBy("_bkt").orderBy("word")),
    )
    counts = vocab.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_cnt"))
    offsets = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_cnt").over(
                Window.partitionBy(F.substring("_bkt", 1, 0)).orderBy("_bkt")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_bkt", "_off")
    vocab_ids = (
        local.join(F.broadcast(offsets), "_bkt")
        .select("word", (F.col("_local") + F.col("_off")).alias("word_id"),
                "_df")
    )
    idtoks = toks.join(F.broadcast(vocab_ids), "word")
    # full id sets (in ascending-df prefix order) + sizes for the exact
    # verify, straight off the groupBy's hash partitioning
    per_doc = idtoks.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_df", "word", "word_id"))),
            lambda s: s["word_id"],
        ).alias("wids"),
        F.count(F.lit(1)).alias("n"),
    ).persist()  # feeds the prefix explode and both verify sides
    pin_session(df.sparkSession, per_doc.unpersist)
    # same 1e-9 rounding slack as the length/alpha bounds below: for
    # thresholds whose double sits above the decimal (0.8*5 =
    # 4.0000000000000002) a bare ceil lands one high and silently
    # shortens the prefix, dropping true pairs.  A too-long prefix only
    # admits extra candidates — verify is exact — so slack is safe.
    prefix_len = (
        F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)) + 1
    )
    pref = (
        per_doc.select(
            "doc_id", "n",
            F.posexplode(
                F.slice(F.col("wids"), 1, prefix_len.cast("int"))
            ).alias("i", "wid"),
        )
        # explicit-N keyed repartition: satisfies the self-join on both
        # sides, replacing the byte-sized exchange AQE would otherwise
        # shrink under the join's fan-out (the hamming_near_pairs lesson)
        .repartition(n_part, "wid")
    )
    a = pref.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"),
        F.col("i").alias("ia"), "wid",
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"),
        F.col("i").alias("ib"), "wid",
    )
    # PPJoin-style pruning (Xiao et al.), all exact-complete for Jaccard:
    # length filter (sizes must satisfy t*na <= nb and vice versa) and
    # position filter (the tokens remaining at/after the matched prefix
    # position must be able to reach the required overlap
    # alpha = ceil(t/(1+t) * (na+nb))).  ia/ib are 0-based positions, so
    # remaining-including-current is n - i.
    # the 1e-9 slack keeps double rounding from ever pushing a bound ABOVE
    # its exact rational value: a too-small bound only admits an extra
    # candidate (harmless — verify is exact), a too-large one would drop a
    # true pair
    alpha = F.ceil(
        F.lit(threshold / (1 + threshold)) * (F.col("na") + F.col("nb")) - 1e-9
    )
    cand = (
        a.join(b, "wid")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(F.col("nb") >= F.ceil(F.lit(threshold) * F.col("na") - 1e-9))
        .where(F.col("na") >= F.ceil(F.lit(threshold) * F.col("nb") - 1e-9))
        .where(
            F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("ib")) >= alpha
        )
        .select("doc_a", "doc_b")
        .distinct()
        # pin the verify Project's width (see minhash_lsh_pairs)
        .repartition(n_part, "doc_a")
    )
    sa = per_doc.select(
        F.col("doc_id").alias("doc_a"), F.col("wids").alias("wa"),
        F.col("n").alias("na"),
    )
    sb = per_doc.select(
        F.col("doc_id").alias("doc_b"), F.col("wids").alias("wb"),
        F.col("n").alias("nb"),
    )
    common = F.size(F.array_intersect(F.col("wa"), F.col("wb"))).cast("long")
    jac = (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("common", common)
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return jac.select("doc_a", "doc_b", "common", F.round("jaccard", 6).alias("jaccard"))


def minhash_lsh_pairs(
    df: DataFrame, n_hashes: int = 16, bands: int = 4,
    threshold: float = 0.5, text_col: str = "text", mode: str = "xxhash",
    verify: str = "sketch",
) -> DataFrame:
    """MinHash + banded LSH near-dup candidates, verified to >= threshold.

    Signatures are split into ``bands`` bands of n_hashes/bands rows; docs
    sharing any full band become candidates (equi-join on the band value).
    Output: (doc_a, doc_b, jaccard).

    Defaults are the 100-TB production configuration — ``mode='xxhash'``
    (no vocabulary join) + ``verify='sketch'`` (fixed-width payload); the
    driver's correctness gate pins ``mode='dictionary'`` explicitly
    because only the dictionary ids are DuckDB-mirrorable, and parity
    between the modes is pinned in pytest (tests/test_round4.py,
    test_round5.py).

    ``verify`` picks the post-candidate filter:

    - ``'exact'``: true Jaccard over the distinct shingle sets,
      attached to each candidate side by equi-join.  Exact, but the shingle
      arrays scale with document length — at very large scale (or with
      near-dup families so big the candidate set is huge) those arrays are
      the dominant verify payload.
    - ``'sketch'``: the unbiased MinHash estimate — the fraction of the
      n_hashes signature components the two docs agree on.  Only the
      fixed-width signature (n_hashes longs) rides to the candidates, so
      verify cost is independent of document length: this is the 100-TB
      path (combine with mode='xxhash' to also drop the vocabulary join).
      Deterministic for a fixed hash family, hence still exactly
      SQL-mirrorable; accuracy vs exact is gated in pytest
      (tests/test_round5.py).
    """
    rows = n_hashes // bands
    # tokenize fans out to >=2 consumers (word-id vocabulary, the word-id
    # join input); persist at the boundary.  An earlier round dropped this
    # persist on the theory that a map-only stage is cheap to recompute —
    # but recompute cost multiplies by consumer count, and on
    # single-row-group input the shingling pass runs at parallelism 1, so
    # the recompute was the plan's scale-killer (the r2 bench paid ~4x for
    # it).  Fan-out boundaries get persisted; that is the repo rule.
    toks = tokenize(df, text_col, "shingle").persist()
    pin_session(df.sparkSession, toks.unpersist)
    # ONE grouped pass computes BOTH the n_hashes signature minima and the
    # exact-verify shingle set per doc: a separate signature groupBy + a
    # separate collect_set groupBy shuffled the full token
    # stream twice for two aggregates over the same key — the merged
    # aggregate halves the token shuffle volume and drops a whole stage.
    idtoks = word_ids(toks, mode)
    aggs = [
        F.min((F.col("word_id") * (2 * i + 1) + (31 * i + 7)) % _P).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    # the shingle-set payload is only aggregated when the exact verify
    # needs it — the sketch verify reads nothing but the h columns
    if verify == "exact":
        aggs.append(F.collect_set("word").alias("words"))
    per_doc = idtoks.groupBy("doc_id").agg(
        *aggs
    ).persist()  # fans out to the banded self-join (x2) and both verify sides
    pin_session(df.sparkSession, per_doc.unpersist)
    banded = per_doc.select(
        "doc_id",
        F.posexplode(
            F.array(*[
                F.concat_ws("_", *[F.col(f"h{b * rows + r}") for r in range(rows)])
                for b in range(bands)
            ])
        ).alias("band", "band_val"),
    )
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "band_val")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "band_val")
    cand = (
        a.join(b, ["band", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        # explicit-N ids-only repartition: AQE coalesces the two-long
        # candidate rows to a few byte-sized partitions, and the verify
        # Project downstream (array_intersect over shingle sets — the
        # expensive stage of the exact path) inherits that width when the
        # per-doc side attaches by broadcast (same cliff as
        # embedding_near_dups; see SF1.md).  Keyed on doc_a so a
        # sort-merge attach can reuse the layout.
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "doc_a")
    )
    if verify == "sketch":
        # signature-agreement estimate: fixed-width payload (n_hashes
        # longs per side), candidate verify cost independent of doc length
        ha = per_doc.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(f"h{i}").alias(f"ha{i}") for i in range(n_hashes)],
        )
        hb = per_doc.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(f"h{i}").alias(f"hb{i}") for i in range(n_hashes)],
        )
        matches = sum(
            F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
            for i in range(n_hashes)
        )
        return (
            cand.join(ha, "doc_a").join(hb, "doc_b")
            .withColumn("jaccard", F.round(matches / F.lit(float(n_hashes)), 6))
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
    # exact-Jaccard verify ONLY the LSH candidates (not every overlapping
    # pair): attach each side's shingle set by equi-join and intersect the
    # arrays per pair — candidate volume post-LSH is tiny, so the arrays
    # never ride through a wide shuffle
    sa = per_doc.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("wa"))
    sb = per_doc.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("wb"))
    common = F.size(F.array_intersect(F.col("wa"), F.col("wb")))
    jaccard = common / (F.size("wa") + F.size("wb") - common)
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", F.round(jaccard, 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(df: DataFrame, bits: int = 32, text_col: str = "text",
            mode: str = "dictionary") -> DataFrame:
    """SimHash per doc: bit_j = majority over words of bit_j(word_hash),
    word_hash = (word_id * 2654435761) mod 2^31.  Output: (doc_id, simhash)."""
    # persist the token stream: word_ids consumes it twice (vocabulary
    # distinct + the id-attach join input)
    toks_src = tokenize(df, text_col).persist()
    pin_session(df.sparkSession, toks_src.unpersist)
    toks = word_ids(toks_src, mode)
    h = (F.col("word_id") * F.lit(2654435761)) % F.lit(2147483648)
    cols = [
        F.sum(F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*cols)
    out = F.lit(0).cast("long")
    for j in range(bits):
        out = out + F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return agg.select("doc_id", out.alias("simhash"))


def hamming_near_pairs(
    sig: DataFrame, id_col: str = "doc_id", hash_col: str = "simhash",
    bits: int = 32, max_hamming: int = 3,
    out_a: str = "doc_a", out_b: str = "doc_b",
) -> DataFrame:
    """Near-dup pairs over ANY precomputed <=64-bit signature column
    (simhash, image pHash, ...) by hamming distance.

    Candidate generation buckets on max_hamming+1 disjoint bit-blocks that
    COVER all ``bits`` positions (the last block absorbs the remainder when
    the division isn't even), so by pigeonhole distance <= max_hamming
    implies at least one block is identical — candidates come from an
    equi-join on (block, block_val), never an all-pairs comparison; the
    exact ``bit_count(xor)`` verify then makes the result independent of
    the blocking scheme.  Arithmetic shiftright sign-extension on bit-63
    signatures is masked off, so full 64-bit hashes are safe.  Output:
    ``(out_a, out_b, hamming)`` with out_a < out_b.
    """
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    widths = [block_bits] * (n_blocks - 1) + [bits - block_bits * (n_blocks - 1)]
    h = F.col(hash_col)
    blocks = sig.select(
        id_col, hash_col,
        F.posexplode(
            F.array(*[
                F.shiftright(h, i * block_bits)
                .bitwiseAND(F.lit((1 << w) - 1))
                for i, w in enumerate(widths)
            ])
        ).alias("block", "block_val"),
    )
    # explicit-N repartition on the join key: the block frames are a few
    # small columns, so AQE coalesces their shuffles to a couple of
    # partitions — and the self-join's fan-out (for near-dup CLUSTERS the
    # output is quadratic per bucket: the sf1 image fixture emits 45M
    # candidates) lands AFTER that coalescing, running the verify on ~2
    # cores.  HashPartitioning(block, block_val, N) satisfies the join's
    # requirement on both sides, so this adds no extra exchange — it only
    # pins the width AQE would otherwise shrink.  sf1: 484 s -> see SF1.md.
    n_part = sig.sparkSession.sparkContext.defaultParallelism
    blocks = blocks.repartition(n_part, "block", "block_val")
    a = blocks.select(F.col(id_col).alias(out_a), h.alias("sh_a"), "block", "block_val")
    b = blocks.select(F.col(id_col).alias(out_b), h.alias("sh_b"), "block", "block_val")
    # verify BEFORE the dedup shuffle: the hamming test is map-side row
    # math, so candidates that fail it (the bulk, in a corpus with large
    # near-dup families where a pair can co-bucket in up to all
    # max_hamming+1 blocks) never enter the distinct's exchange, and the
    # distinct carries (ids, hamming) — hamming is functionally determined
    # by the pair, so no payload rides beyond the verdict itself.
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["block", "block_val"])
        .where(F.col(out_a) < F.col(out_b))
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select(out_a, out_b, "hamming")
        .distinct()
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25,
    release_ids: list | None = None, dedup_edges: bool = False,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    hash-min label propagation WITH pointer doubling: every node starts
    labelled with its own id, and each round (a) relaxes — takes the min
    over its own and its neighbours' labels (one BFS hop), then (b) jumps —
    adopts its current label's OWN label (``labels ⋈ labels`` on
    component = node), which doubles the distance a minimum has travelled.
    Round 0 is FUSED with initialization: over identity labels the jump is
    a no-op and the relax reduces to one aggregate straight over the
    symmetrized edges, so the loop starts with a single job instead of an
    eager init-labels checkpoint plus a round job.
    Relax alone needs O(component diameter) rounds; with the jump the loop
    converges in O(log diameter) — a 59-hop path closes in 7 rounds (the
    union-find property test exercises exactly that).  All per-round work
    is equi-joins + a min-aggregate on the node id: no driver-side
    union-find, no cartesian anything, AQE handles hub-node skew.

    Each round materializes its label frame with ``localCheckpoint`` —
    persist alone is NOT enough for an iterative algorithm: the logical
    plan of round n+1 embeds multiple copies of round n's plan (union,
    join and self-join branches), so without lineage truncation Catalyst
    analysis cost compounds per round and a diameter-10 graph hangs the
    driver before any execution.  Superseded rounds' checkpoint blocks
    are explicitly unpersisted through the JVM persistent-RDD registry:
    neither ``DataFrame.unpersist`` nor Python GC frees a localCheckpoint
    (verified empirically), so without this the loop pins O(rounds x
    nodes) storage.  (On a cluster where executor loss must be
    survivable, swap ``localCheckpoint`` for a reliable ``checkpoint``
    dir — same shape.)  Output: ``(node, component)`` for every node that
    appears in an edge.

    The RETURNED frame's own checkpoint blocks cannot be freed through any
    DataFrame API either.  If ``release_ids`` is a list, the final block
    ids are appended to it so the caller can free them with
    :func:`release_checkpoint_ids` once the result is consumed (after
    which the frame is dead — do not reuse it).  With ``release_ids=None``
    the ids go to the module registry instead and
    :func:`release_session_pinned` frees them later.
    """
    if max_iter < 1:
        # labels are only assigned inside the loop; entering with
        # max_iter <= 0 would return None at the label bookkeeping below
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    sc = edges.sparkSession.sparkContext

    def _ckpt(df, eager=True):
        """localCheckpoint df; return (checkpointed df, ids created).

        ``eager=False`` defers materialization to the frame's first action —
        the loop uses it to fold the convergence witness into the
        materialization job (the persist mark registers the RDD id
        immediately either way, so the registry diff is unaffected)."""
        before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        out = df.localCheckpoint(eager=eager)
        created = set(sc._jsc.getPersistentRDDs().keySet().toArray()) - before
        return out, created

    def _drop(ids):
        reg = sc._jsc.getPersistentRDDs()
        for rid in ids:
            if reg.containsKey(rid):
                reg.get(rid).unpersist(False)
    # symmetrize map-side (explode both directions from one row) so the
    # upstream pair pipeline — often an expensive LSH join — is scanned
    # once, not once per union branch.  NO distinct: hash-min is
    # idempotent under duplicate edges (the min-aggregate absorbs them),
    # every pair source in this repo emits distinct a<b pairs, and at
    # scale the distinct is a full shuffle of the edge list bought for
    # nothing.  Pass ``dedup_edges=True`` for a caller-supplied edge list
    # with heavy duplication (dups multiply per-round join volume).
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .where(F.col("a") != F.col("b"))
    )
    if dedup_edges:
        sym = sym.distinct()
    # materialize the edge frame as its OWN localCheckpoint leaf, NOT a
    # cache-manager persist: every round's plan embeds sym, and with a
    # persist that means (a) Catalyst re-analyzes the whole upstream pair
    # pipeline — often the deepest plan in the job — once per round, and
    # (b) the _ckpt registry diff around round 0 would attribute sym's
    # cache RDD (which only registers at first materialization, inside
    # round 0's job) to that round's label blocks, so the round-1 cleanup
    # unpersisted it and rounds 2+ re-executed the entire pair pipeline
    # (measured: 10x wall on a 10-round sf1 graph).  A checkpoint leaf is
    # immune to both: rounds reference the materialized RDD directly, and
    # its ids are tracked separately and dropped at function exit.
    sym, sym_ids = _ckpt(sym, eager=False)
    labels, label_ids = None, set()
    comp_type = sym.schema["a"].dataType
    # size-adaptive small-graph path: the first loop action materializes
    # the (checkpointed) edge frame anyway, so its row count is one cheap
    # job away — and when the graph is dimension-sized, label propagation
    # pays max_iter x (2 joins + an aggregate + a checkpoint + an action)
    # of pure per-job latency for work a driver union-find does in
    # milliseconds (measured at sf0.1: the 10-round embedding value graph
    # spent ~4.5 s on a few hundred edges).  The bound is on the
    # SYMMETRIZED row count (2 rows/edge, ids only — ~MBs at the default),
    # the same bounded-collect class as the pip-ring / CSR / IVF dimension
    # builds; a corpus whose pair graph exceeds it takes the distributed
    # loop unchanged.  Labels are identical by construction: hash-min
    # converges to each component's minimum, and the union-find below
    # picks the same minimum (strings compared as UTF-8 bytes, matching
    # Spark's binary string ordering).
    local_limit = int(_os.environ.get("CC_LOCAL_EDGES", "100000"))
    n_sym = sym.count()
    if n_sym <= local_limit:
        rows = sym.collect()
        is_str = isinstance(rows[0][0], str) if rows else False
        key = (lambda v: v.encode("utf-8")) if is_str else (lambda v: v)
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in rows:
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                if key(rb) < key(ra):
                    ra, rb = rb, ra
                parent[rb] = ra
        # second pass: each root's label must be the component MINIMUM
        # (union-by-min above already guarantees it, since the surviving
        # root of every union is the smaller of the two roots)
        out_rows = [(n, find(n)) for n in parent]
        spark = edges.sparkSession
        from pyspark.sql.types import StructField, StructType

        schema = StructType([StructField("node", comp_type),
                             StructField("component", comp_type)])
        if out_rows:
            import pandas as _pd

            # pandas + Arrow path: a plain list of tuples pickles row by
            # row through py4j, ~5x slower at the 100k-row bound
            labels = spark.createDataFrame(
                _pd.DataFrame(out_rows, columns=["node", "component"]),
                schema=schema,
            )
        else:
            labels = spark.createDataFrame([], schema)
        _drop(sym_ids)
        return labels
    for it in range(max_iter):
        # jump: adopt the label OF the label (pointer doubling) — a
        # self-join on the materialized label frame, so nothing upstream
        # recomputes.  Left join + least because a representative's label
        # is itself; least skips the NULL of a right-side miss.  Round 0
        # skips it: labels are the identity there, so the jump is a no-op
        # join (one shuffle saved per invocation).  Each branch also
        # carries the node's PRE-ROUND label as ``_old`` (null on the
        # neighbour branch), so the post-aggregate frame can decide
        # convergence without a second join-against-previous job.
        if it == 0:
            # FUSED init + round 0: with identity labels the jump is a
            # no-op and the relax is one aggregate straight over sym —
            # new label = min(self, neighbours), changed = any neighbour
            # below self.  Folding this in removes the separate eager
            # init-labels checkpoint job (a whole barrier job per
            # invocation; at sf0.1 that job alone was ~40% of CC's wall
            # time, and at scale it was one full pass over the node set).
            new, new_ids = _ckpt(
                sym.groupBy(F.col("a").alias("node"))
                .agg(F.min("b").alias("_nbr"))
                .select(
                    "node",
                    F.least(F.col("node"), F.col("_nbr")).alias("component"),
                    (F.col("_nbr") < F.col("node")).alias("_changed"),
                ),
                eager=False,
            )
        else:
            # exactly ONE jump per materialized round: chaining a second
            # label(label(x)) lookup in the same round plan was tried
            # (both joins against the checkpointed frame — no lineage
            # blowup) and did NOT reduce the measured round count on the
            # sf1 giant-component fixture (still 10 rounds); the min-
            # aggregate relax, not pointer depth, binds convergence there,
            # so the extra equi-join per round was pure cost.
            jumped = (
                labels.alias("l")
                .join(
                    labels.select(
                        F.col("node").alias("c_node"),
                        F.col("component").alias("c_comp"),
                    ).alias("m"),
                    F.col("l.component") == F.col("m.c_node"),
                    "left",
                )
                .select(
                    F.col("l.node").alias("node"),
                    F.least(
                        F.col("l.component"), F.col("m.c_comp")
                    ).alias("component"),
                    F.col("l.component").alias("_old"),
                )
            )
            # relax: min over self and neighbours (one hop)
            nbr_min = sym.join(
                jumped, sym["b"] == jumped["node"]
            ).select(
                F.col("a").alias("node"), "component",
                F.lit(None).cast(comp_type).alias("_old"),
            )
            # materialize AND truncate lineage; exactly one non-null _old
            # per node (the self branch), so max() recovers it, and labels
            # only ever decrease, so "min < old somewhere" == not
            # converged.  The witness is carried as a column and reduced
            # by the SAME action that materializes the lazy checkpoint —
            # one job per round where the eager-checkpoint + join/count
            # shape cost two (at small scale the per-round fixed overhead
            # dominated the whole query).
            new, new_ids = _ckpt(
                jumped.union(nbr_min)
                .groupBy("node")
                .agg(
                    F.min("component").alias("component"),
                    (F.min("component") < F.max("_old")).alias("_changed"),
                ),
                eager=False,
            )
        changed = new.agg(F.max("_changed")).first()[0]
        # the superseded round's blocks are only safe to drop AFTER the
        # action that read them
        _drop(label_ids)
        labels, label_ids = new, new_ids
        if not changed:
            break
    _drop(sym_ids)
    pinned = release_ids if release_ids is not None else None
    if pinned is not None:
        pinned.extend(label_ids)
    else:
        for rid in label_ids:
            pin_session(edges.sparkSession, rid)
    return labels.select("node", "component")


def _finish_groups(
    members: DataFrame, id_col: str, cc_ids: list,
    extra_frames: tuple = (), release: list | None = None,
) -> DataFrame:
    """Shared tail of every group resolver: remap each component label to
    its minimum corpus member, attach group sizes, emit
    ``(id_col, group_id, n_members, is_keeper)`` and register one cleanup
    for the persisted frames + CC checkpoint blocks.  ``members`` is one
    row per corpus row with its raw component label in ``_comp``.

    group_id and n_members are BOTH per-component statistics (group_id ↔
    _comp is a bijection over corpus components), so one hash aggregate
    on ``_comp`` computes the remap AND the sizes — partial-agg
    (map-side) and skew-safe, unlike a window over the component, whose
    unbounded frame buffers a whole component in one partition; a
    degenerate giant cluster (the empty-document component of a real
    crawl) must not be able to OOM the resolver.  The component frame is
    small and re-attaches by one equi-join AQE can broadcast."""
    spark = members.sparkSession
    # members feeds the component aggregate AND the output join (and when
    # per_comp attaches by broadcast there is no shared exchange for
    # ReuseExchange to dedup) — persist at the fan-out, per the repo rule
    members = members.persist()
    per_comp = members.groupBy("_comp").agg(
        F.min(id_col).alias("group_id"),
        F.count(F.lit(1)).alias("n_members"),
    )

    def _cleanup(spark=spark, ids=cc_ids, frames=(members,) + tuple(extra_frames)):
        for fr in frames:
            fr.unpersist()
        release_checkpoint_ids(spark, ids)

    if release is not None:
        release.append(_cleanup)
    else:
        pin_session(spark, _cleanup)
    return (
        members.join(per_comp, "_comp")
        .select(
            id_col,
            "group_id",
            "n_members",
            (F.col(id_col) == F.col("group_id")).cast("int").alias("is_keeper"),
        )
    )


def dedup_groups(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    a: str = "doc_a", b: str = "doc_b", max_iter: int = 25,
    release: list | None = None,
) -> DataFrame:
    """Resolve near-dup PAIRS into dedup GROUPS with one keeper per group —
    the step every production dedup pipeline needs after LSH: transitive
    chains (A~B, B~C with A,C never compared) must collapse to ONE cluster.

    ``df`` is the full corpus (so singletons keep themselves), ``pairs`` any
    near-dup pair frame (minhash_lsh_pairs / hamming_near_pairs /
    embedding_near_dups output).  Pair endpoints need NOT be corpus ids:
    components are computed over the full pair graph (so two corpus rows
    bridged only through a foreign id still collapse into one group), then
    every component's label is REMAPPED to the minimum CORPUS member —
    without the remap, a non-corpus id that is a component's minimum would
    become a group_id no corpus row carries and the group would get no
    keeper.  group_id is that corpus minimum (stable and order-free); the
    keeper is the group_id row itself.  Output:
    ``(id_col, group_id, n_members, is_keeper)``, one row per corpus row.

    Storage: the run pins the component labels' localCheckpoint blocks
    (the CC edge frame's own blocks are dropped before it returns).  If
    ``release`` is a list, a zero-arg cleanup
    callable is appended — call it once the output is consumed (the frame
    is not reusable afterwards); otherwise the cleanup is registered for
    :func:`release_session_pinned`.
    """
    cc_ids: list = []
    cc = connected_components(pairs, a, b, max_iter, release_ids=cc_ids)
    corpus_comp = (
        df.select(F.col(id_col).alias("node"))
        .join(cc, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("_comp"))
    )
    # remap each component label to its minimum CORPUS member (the raw CC
    # label may be a non-corpus pair endpoint); components with no corpus
    # member simply vanish with the join
    members = corpus_comp.select(F.col("node").alias(id_col), "_comp")
    return _finish_groups(members, id_col, cc_ids, release=release)


def hamming_groups(
    sig: DataFrame, id_col: str = "image_id", hash_col: str = "phash",
    bits: int = 64, max_hamming: int = 6, max_iter: int = 25,
    release: list | None = None,
) -> DataFrame:
    """Dedup GROUPS over a signature column WITHOUT enumerating member-level
    pairs: the value-collapsed scale path for corpora with exact-duplicate
    families (re-encodes, mirrored uploads — the common image case).

    Hamming adjacency is a function of the signature VALUES alone, so rows
    sharing a value are interchangeable graph vertices.  This resolver
    therefore (1) collapses the corpus to its DISTINCT signature values,
    (2) enumerates near-dup pairs and runs connected components on that
    value graph, and (3) expands each value's component back to the member
    rows with one equi-join, remapping labels to the minimum corpus member
    exactly like :func:`dedup_groups`.  The result is bit-identical to
    ``dedup_groups(sig, hamming_near_pairs(sig, ...))`` — image components
    are precisely the preimages of value components, because same-value
    rows are pairwise at distance 0 and cross-value edges depend only on
    the two values — but the quadratic pair enumeration now runs on
    ``|distinct values|`` vertices instead of ``|rows|``: a corpus where
    the average value repeats r times does (1/r^2) of the candidate work
    and CC sees (1/r^2) of the edges.  With all-distinct values it
    degrades gracefully to the pair path plus one ids-only distinct.

    Output and storage contract match :func:`dedup_groups`:
    ``(id_col, group_id, n_members, is_keeper)``, one row per corpus row;
    one cleanup callable is appended to ``release`` (or registered for
    :func:`release_session_pinned`).
    """
    spark = sig.sparkSession
    # the input feeds the NULL branch, the distinct-value frame and the
    # member expand join — persist at the fan-out, per the repo rule (for
    # real data the signature column sits on top of the decode+pHash
    # pipeline, the most expensive stage; re-persisting an
    # already-persisted plan is a Spark no-op)
    sig = sig.persist()
    # NULL signatures can never pair (the block equi-join drops the NULL
    # key), so the pair path leaves each such row its own singleton; the
    # collapse must do the same — routed around the value join below
    # (an equi-join would DROP them; a coalesce-to-NULL _comp would merge
    # them into one bogus group).  The component label is TAGGED with its
    # namespace: value-graph labels live in signature-value space while
    # the NULL branch only has row ids — untagged, a row id that happens
    # to equal some component's signature value would merge a NULL-sig
    # row into an unrelated group (pinned in the parity test).
    sig_null = sig.where(F.col(hash_col).isNull()).select(
        id_col,
        F.struct(F.lit(1).alias("ns"),
                 F.col(id_col).alias("v")).alias("_comp"),
    )
    nn = sig.where(F.col(hash_col).isNotNull())
    # the distinct-value frame feeds both block-join sides AND the
    # component map
    vals = nn.select(hash_col).distinct().persist()
    vpairs = hamming_near_pairs(
        vals.select(F.col(hash_col).alias("_vid"), hash_col),
        "_vid", hash_col, bits, max_hamming,
        out_a="val_a", out_b="val_b",
    )
    cc_ids: list = []
    cc = connected_components(vpairs, "val_a", "val_b", max_iter,
                              release_ids=cc_ids)
    # values with no near neighbour keep themselves as component; members
    # sharing such a value still land in one group through the expand join
    comp = (
        vals.join(cc.withColumnRenamed("node", hash_col), hash_col, "left")
        .select(
            hash_col,
            F.struct(
                F.lit(0).alias("ns"),
                F.coalesce("component", F.col(hash_col)).alias("v"),
            ).alias("_comp"),
        )
    )
    members = nn.select(id_col, hash_col).join(comp, hash_col) \
        .select(id_col, "_comp").unionByName(sig_null)
    return _finish_groups(members, id_col, cc_ids,
                          extra_frames=(vals, sig), release=release)


def minhash_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_hashes: int = 16, bands: int = 4, threshold: float = 0.5,
    mode: str = "xxhash", verify: str = "sketch", max_iter: int = 25,
    release: list | None = None,
) -> DataFrame:
    """Text dedup GROUPS with exact-duplicate collapse — the value-level
    resolver for text corpora, analogous to :func:`hamming_groups`.
    Defaults follow :func:`minhash_lsh_pairs` (xxhash + sketch-verify,
    the production path); the correctness gate pins the dictionary mode.

    Web-scale corpora are dominated by EXACT duplicates (mirrors,
    boilerplate, re-crawls); running the minhash pipeline over every copy
    shingles, signs and band-joins the same text r times and grinds
    O(r^2) candidate pairs per duplicated text.  Both the LSH banding and
    the Jaccard verify are functions of the TEXT value alone, so this
    resolver (1) collapses each distinct text to its minimum-id
    representative with one skew-safe hash aggregate, (2) runs
    :func:`minhash_lsh_pairs` + connected components on representatives
    only, and (3) expands components back through the (id, rep) mapping —
    ids-only from there on.

    Bit-identical to ``dedup_groups(df, minhash_lsh_pairs(df))`` (pinned
    in tests/test_round5.py): same-text docs are always pairwise near-dups
    in the pair path (identical shingle sets share every band and verify
    at Jaccard 1), and cross-text edges depend only on the two texts.
    The ONE caveat is docs that produce no shingles (fewer than 3
    whitespace tokens, or NULL) — the pair pipeline leaves every such doc
    a singleton even when texts are equal, so the collapse must exclude
    them: eligibility below mirrors ``tokenize``'s participation rule
    exactly (``size(split(lower(text), ' ')) >= 3``; any 3-window over a
    >=3-token split emits a non-empty shingle, since ``concat_ws`` keeps
    empty strings).

    Output and storage contract match :func:`dedup_groups`."""
    ws = F.split(F.lower(F.col(text_col)), " ")
    # null-safe: size(NULL) is NULL under non-legacy semantics, and both
    # where(eligible) and where(~eligible) drop NULL predicates — without
    # the coalesce a NULL-text row would vanish from BOTH branches
    eligible = F.coalesce(F.size(ws) >= 3, F.lit(False))
    # the input feeds the representative aggregate and both mapping
    # branches — persist at the fan-out, per the repo rule
    df = df.select(id_col, text_col).persist()
    # representative per distinct ELIGIBLE text via a hash aggregate, NOT
    # a window over the text partition: min(id) partial-aggregates
    # map-side, so an r-million-copy boilerplate text collapses inside
    # each map task and the shuffle carries ~distinct texts — a window's
    # unbounded frame would buffer the whole duplicate family (full text
    # payload included) in one straggler task, the exact workload the
    # collapse exists for.  Same shape as dedup_exact.  Persisted: reps
    # feed the minhash pipeline AND the mapping join-back.
    reps = (
        df.where(eligible)
        .groupBy(text_col).agg(F.min(id_col).alias("_rep"))
        .persist()
    )
    pairs = minhash_lsh_pairs(
        reps.select(F.col("_rep").alias("doc_id"), text_col),
        n_hashes, bands, threshold, text_col, mode, verify,
    )
    cc_ids: list = []
    cc = connected_components(pairs, "doc_a", "doc_b", max_iter,
                              release_ids=cc_ids)
    # join-back by text value: the hot probe side (all copies of one
    # duplicated text) is AQE skew-split, the build side is one row per
    # distinct text (broadcast when small); ineligible docs bypass it and
    # keep themselves.  Reps absent from the pair graph keep themselves
    # through the coalesce.
    mapping = (
        df.where(eligible).join(reps, text_col)
        .select(id_col, "_rep")
        .unionByName(
            df.where(~eligible)
            .select(id_col, F.col(id_col).alias("_rep"))
        )
    )
    members = (
        mapping
        .join(cc.withColumnRenamed("node", "_rep"), "_rep", "left")
        .select(id_col,
                F.coalesce("component", F.col("_rep")).alias("_comp"))
    )
    return _finish_groups(members, id_col, cc_ids,
                          extra_frames=(df, reps), release=release)


def embedding_groups(
    df: DataFrame, id_col: str = "vec_id", emb_col: str = "embedding",
    threshold: float = 0.95, max_iter: int = 25,
    release: list | None = None,
) -> DataFrame:
    """Embedding dedup GROUPS with exact-duplicate collapse — the third
    value-level resolver (images: :func:`hamming_groups`, text:
    :func:`minhash_groups`).  Duplicate source rows produce bit-identical
    embeddings, so collapsing to one representative per distinct vector
    before the LSH-bucket self-join removes the O(r^2) candidate blow-up
    of r-fold duplication.

    Bit-identical to ``dedup_groups(df, embedding_near_dups(df))``
    (pinned in tests/test_round5.py): equal vectors always share a
    hyperplane bucket and verify at cosine 1.  The rows the pair
    pipeline can never pair — NULL embeddings (the bucket equi-join
    drops the NULL key) and zero-norm vectors (no defined cosine;
    embedding_near_dups excludes them rather than tripping ANSI
    divide-by-zero mid-job) — are excluded from the collapse and stay
    singletons.  Eligibility is a function of the value, so same-vector
    rows always agree on it.  (NaN-component vectors remain eligible:
    Spark orders NaN above every number, so they bucket and verify
    consistently in both paths.)"""
    sumsq = F.aggregate(
        F.col(emb_col), F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double"),
    )
    # null-safe by construction: isNotNull is false (never NULL) for NULL
    # embeddings, and the coalesce catches the NULL-ELEMENT case — an
    # array containing a NULL aggregates sumsq to NULL, which would make
    # the predicate NULL and drop the row from BOTH branches below
    # (minhash_groups coalesces its eligibility for the same reason)
    eligible = F.coalesce(
        F.col(emb_col).isNotNull() & (sumsq > 0), F.lit(False)
    )
    # the input feeds the representative aggregate and both mapping
    # branches — persist at the fan-out, per the repo rule
    df = df.select(id_col, emb_col).persist()
    # skew-safe hash aggregate, not a window over the vector partition:
    # min(id) partial-aggregates map-side, so an r-fold duplicated vector
    # collapses inside each map task (see minhash_groups)
    reps = (
        df.where(eligible)
        .groupBy(emb_col).agg(F.min(id_col).alias("_rep"))
        .persist()
    )
    pairs = embedding_near_dups(
        reps.select(F.col("_rep").alias("vec_id"),
                    F.col(emb_col).alias("embedding")),
        threshold,
    )
    cc_ids: list = []
    cc = connected_components(pairs, "vec_a", "vec_b", max_iter,
                              release_ids=cc_ids)
    mapping = (
        df.where(eligible).join(reps, emb_col)
        .select(id_col, "_rep")
        .unionByName(
            df.where(~eligible)
            .select(id_col, F.col(id_col).alias("_rep"))
        )
    )
    members = (
        mapping
        .join(cc.withColumnRenamed("node", "_rep"), "_rep", "left")
        .select(id_col,
                F.coalesce("component", F.col("_rep")).alias("_comp"))
    )
    return _finish_groups(members, id_col, cc_ids,
                          extra_frames=(df, reps), release=release)


def embedding_near_dups(df: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicates over (vec_id, embedding array<float>).

    Candidates via sign-bucket LSH (8 deterministic hyperplanes) then exact
    cosine verify.  The candidate self-join and its dedup shuffle carry IDS
    ONLY — vectors re-attach afterwards by one equi-join per side (the repo
    rule for payloads: post-LSH candidate volume is tiny, so the arrays
    never ride a wide shuffle).  Output: (vec_a, vec_b, cos_sim)."""
    from .ann import cosine, hyperplane_buckets

    # zero-norm vectors have no defined cosine — under Spark 4's default
    # ANSI mode the division would THROW mid-job, so they are excluded
    # from candidacy up front (and stay singletons in the group
    # resolvers).  NaN-norm rows pass the predicate (Spark orders NaN
    # above every number) and verify to NaN >= threshold — also true
    # under the same ordering — which keeps the filter from silently
    # hiding malformed embeddings.
    sumsq = F.aggregate(
        F.col("embedding"), F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double"),
    )
    df = df.where(sumsq > 0)
    # the hyperplane projections are per-row vector math — see fan_out
    df = fan_out(df)
    b = hyperplane_buckets(df, n_planes=8).select("vec_id", "bucket")
    cand = (
        b.select(F.col("vec_id").alias("vec_a"), "bucket")
        .join(b.select(F.col("vec_id").alias("vec_b"), "bucket"), "bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        # no distinct: each vec_id carries exactly one bucket, so a pair can
        # match on at most one bucket — the dedup shuffle would be pure cost
        .select("vec_a", "vec_b")
        # explicit-N repartition (which AQE never coalesces, unlike the
        # bucket join's own output): candidate rows are two longs each, so
        # AQE shrinks the join to a couple of byte-sized partitions — and
        # the cosine verify Project downstream (the expensive stage: a
        # 64-dim dot per candidate) inherits that width when the embedding
        # sides attach by broadcast.  Profiled at sf1: 1.8 busy cores and
        # 103 s before this; the ids-only shuffle this pins is noise at any
        # scale, and keying it on vec_a lets a sort-merge attach reuse it.
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "vec_a")
    )
    ea = df.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = df.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    sim = (
        cand.join(ea, "vec_a").join(eb, "vec_b")
        .withColumn("cos_sim", cosine(F.col("emb_a"), F.col("emb_b")))
    )
    return (
        sim.where(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# exact repeated-span dedup (the Lee-et-al ExactSubstr pass)
# ---------------------------------------------------------------------------

def repeated_spans(
    df: DataFrame, k: int = 8, min_count: int = 2, text_col: str = "text",
) -> DataFrame:
    """Cross-document repeated-span detection — the exact-substring
    deduplication pass of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (arXiv:2107.06499), re-expressed for Spark:
    instead of a monolithic suffix array, every k-token gram is bucketed
    by value with one skew-safe hash aggregate, grams occurring
    ``min_count``-or-more times in the corpus (same doc or across docs)
    flag the token interval they cover, and overlapping-or-adjacent
    flagged intervals merge per document into maximal spans.

    Equivalent coverage guarantee: a repeated substring of >= k tokens is
    covered by chained repeated k-grams, so every token Lee et al. would
    excise is inside an emitted span (the merge may additionally bridge
    two repeats separated by < k fresh tokens — a superset, which is the
    conservative direction for dedup).

    Positions are 0-based indices over the document's NON-EMPTY lowercase
    whitespace tokens (empties from repeated spaces dropped, so positions
    are dense — unlike :func:`tokenize`'s shingles, which keep them;
    keeping empties here would make span offsets meaningless).

    Scale shape: the gram aggregate partial-aggregates map-side, so the
    million-copy boilerplate gram arrives at the reducer as per-partition
    counts, never as a row explosion; the flag-back is an equi-join on the
    gram value (AQE skew-split handles hot grams); the islands merge is a
    per-document window — bounded by document length, never corpus-wide.
    The gram string payload rides exactly two shuffles (aggregate + flag
    join); at extreme scale substitute ``F.xxhash64`` for the join key —
    left exact here so the DuckDB oracle mirrors bit-for-bit.

    Output: (doc_id, span_start, span_end, n_tokens), inclusive bounds.
    """
    df = fan_out(df)
    ws = F.filter(F.split(F.lower(F.col(text_col)), " "),
                  lambda w: w != "")
    n = F.size(ws)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(ws, i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = df.select("doc_id", F.posexplode(grams).alias("pos", "gram"))
    # occurrence counts WITHOUT distinct: within-doc repetition counts
    # toward min_count, exactly as a suffix array would see it
    dup = (
        occ.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_count)
        .select("gram")
    )
    flagged = occ.join(dup, "gram", "left_semi").select(
        "doc_id",
        F.col("pos").alias("s"),
        (F.col("pos") + F.lit(k - 1)).alias("e"),
    )
    # gaps-and-islands: all intervals are k long, so starts are monotone
    # with ends and lag(s) suffices — a new island starts when the gap to
    # the previous flagged gram exceeds k (neither overlapping nor
    # adjacent).  Window partitioned per doc: bounded by doc length.
    w = Window.partitionBy("doc_id").orderBy("s")
    isl = flagged.withColumn(
        "_new",
        F.when(
            F.col("s") - F.lag("s").over(w) <= k, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "island",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"))
        .select(
            "doc_id", "span_start", "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("n_tokens"),
        )
    )
