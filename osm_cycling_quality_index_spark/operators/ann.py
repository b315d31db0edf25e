"""Similarity search over embedding columns (driver-required component:
brute-force cosine top-k baseline + LSH-bucketed scale path).

``embeddings`` table shape: (vec_id bigint, embedding array<float>, label int).
Dot products run as Catalyst higher-order functions (``zip_with`` +
``aggregate``) — JVM-side, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact cosine top-k of ``embeddings`` for each query row
    (query frame: (query_id, query_emb)).  The query side is broadcast —
    at 100 TB the corpus stays partitioned, queries replicate.
    Output: (query_id, vec_id, cos_sim, rank)."""
    j = embeddings.crossJoin(F.broadcast(queries))
    sim = j.withColumn("cos_sim", cosine(F.col("embedding"), F.col("query_emb")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rank")
    )


def _plane(i: int, dim_col: Column) -> Column:
    """Deterministic pseudo-random hyperplane component: value for plane i at
    dimension d is ((i*131 + d*17) % 97)/97 - 0.5 — pure arithmetic so the
    DuckDB oracle can reproduce it exactly."""
    return ((F.lit(i * 131) + dim_col * 17) % 97) / 97.0 - 0.5


def hyperplane_buckets(embeddings: DataFrame, n_planes: int = 8) -> DataFrame:
    """Sign-bit LSH bucket per row: bit i = [dot(embedding, plane_i) >= 0].
    Output: input columns + bucket (long).

    MAP-ONLY: each plane's dot product is a sequential ``aggregate`` fold
    over the array column — no posexplode-by-dimension (a dims-x row
    inflation through a shuffle, the thing that cannot happen on a 10^12-row
    corpus) and no re-join.  The fold order is deterministic
    (left-to-right), unlike a shuffled groupBy sum; the sign decision has
    ample float margin either way (property of the fixed plane family)."""
    def s(i: int) -> Column:
        contribs = F.transform(
            F.sequence(F.lit(0), F.size("embedding") - 1),
            lambda d: F.element_at(F.col("embedding"), (d + 1).cast("int")).cast("double")
            * _plane(i, d),
        )
        return F.aggregate(contribs, F.lit(0.0), lambda acc, v: acc + v)

    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        bucket = bucket + F.when(s(i) >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    # degenerate rows (NULL or empty embedding) are dropped, matching the
    # old posexplode+inner-join form: without the guard an empty array makes
    # sequence(0, -1) feed element_at an invalid index (hard job failure),
    # and a NULL embedding would silently land in bucket 0
    return embeddings.where(F.size("embedding") > 0).withColumn("bucket", bucket)


def lsh_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5, n_planes: int = 8,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share one of the query's probe buckets
    (the query's own bucket plus, with ``probe_hamming=1``, every bucket one
    sign-bit away — multi-probe LSH), ranked by exact cosine.  Multi-probe
    trades a bounded x(n_planes+1) candidate fan-out for the recall that
    single-bucket LSH loses on near-plane points; the corpus side is hashed
    once either way, so the scale cost stays on the small query side.
    Output: (query_id, vec_id, cos_sim, rank)."""
    corpus = hyperplane_buckets(embeddings, n_planes)
    qb = hyperplane_buckets(
        queries.select(F.col("query_id").alias("vec_id"), F.col("query_emb").alias("embedding")),
        n_planes,
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_emb"), "bucket")
    if probe_hamming > 2:
        raise ValueError(
            f"probe_hamming={probe_hamming} not supported (max 2); larger "
            "radii explode the probe count faster than they buy recall"
        )
    if probe_hamming >= 1:
        flips = [F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                 for i in range(n_planes)]
        if probe_hamming >= 2:
            flips += [
                F.col("bucket")
                .bitwiseXOR(F.lit((1 << i) | (1 << j)).cast("long"))
                for i in range(n_planes) for j in range(i + 1, n_planes)
            ]
        probes = F.array(F.col("bucket"), *flips)
        qb = qb.select(
            "query_id", "query_emb", F.explode(probes).alias("bucket")
        )
    # no dedup needed: a query's probe buckets are distinct values and each
    # corpus row carries exactly one bucket, so a (query, vector) pair can
    # match at most one probe.  Broadcasting the exploded query side keeps
    # the corpus scan shuffle-free.
    cand = corpus.join(F.broadcast(qb), "bucket")
    sim = cand.withColumn("cos_sim", cosine(F.col("embedding"), F.col("query_emb")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rank")
    )


def _lloyd_centroids(embeddings: DataFrame, n_centroids: int,
                     iters: int, sample: int = 512):
    """Deterministic driver-side k-means: the sample is the ``sample``
    smallest vec_ids (stable across runs/layouts), seeds are its first
    ``n_centroids`` vectors, refinement is ``iters`` Lloyd steps by cosine
    (empty clusters keep their previous centroid; centroids re-normalized
    each step).  Returns a list of (cid, [float...]) rows — the quantizer is
    a dimension build, like the CSR segment index."""
    import numpy as np

    rows = embeddings.orderBy("vec_id").limit(sample).collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[:n_centroids].copy()
    for _ in range(iters):
        sims = X @ C.T
        assign = np.argmax(sims, axis=1)  # ties -> lowest cid (argmax rule)
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    C[c] = m / n
    return [(c + 1, [float(v) for v in C[c]]) for c in range(n_centroids)]


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF-flat approximate top-k — the inverted-file alternative to
    :func:`lsh_topk` (the brief's "IVF or LSH-bucketed variant").

    Coarse quantizer: the ``n_centroids`` corpus vectors with the smallest
    vec_ids, a deterministic seed choice that keeps the whole operator
    SQL-mirrorable (a Lloyd-refined quantizer is a production knob that
    trades the exact oracle for recall; the structure is identical).  Each
    corpus vector is assigned to its max-cosine centroid (tie -> smallest
    centroid id); each query probes its ``n_probe`` nearest centroids;
    candidates are the union of the probed inverted lists, ranked by exact
    cosine.  The centroid table is ~KB and broadcast everywhere; candidate
    shuffles carry ids only, vectors re-attach by equi-join.
    Output: (query_id, vec_id, cos_sim, rank)."""
    if lloyd_iters > 0:
        # production quantizer: Lloyd-refined centroids (deterministic
        # sample + seeds, so still reproducible — just not SQL-mirrorable)
        spark = embeddings.sparkSession
        cents = spark.createDataFrame(
            _lloyd_centroids(embeddings, n_centroids, lloyd_iters),
            "cid int, cvec array<double>",
        )
    else:
        # one window over at most n_centroids rows, safe by size; a foldable
        # partition spec (lit) is erased and WindowExec then warns "No
        # Partition Defined" as for a corpus-sized global window, so
        # partition by a value-derived constant (0, NULL seeds included)
        one = F.coalesce(F.col("cseed") * 0, F.lit(0))
        cents = (
            embeddings.orderBy("vec_id").limit(n_centroids)
            .select(F.col("vec_id").alias("cseed"), F.col("embedding").alias("cvec"))
            .withColumn("cid", F.row_number().over(Window.partitionBy(one).orderBy("cseed")))
            .select("cid", "cvec")
        )
    # corpus -> inverted list id: argmax cosine over the broadcast centroids
    cj = embeddings.select("vec_id", "embedding").crossJoin(F.broadcast(cents))
    csim = cosine(F.col("embedding"), F.col("cvec"))
    assign = (
        cj.select("vec_id", csim.alias("csim"), (-F.col("cid")).cast("long").alias("ncid"))
        .groupBy("vec_id")
        .agg(F.max(F.struct("csim", "ncid")).alias("b"))
        .select("vec_id", (-F.col("b.ncid")).alias("cid"))
    )
    # query -> n_probe nearest centroids
    qj = queries.crossJoin(F.broadcast(cents))
    qsim = cosine(F.col("query_emb"), F.col("cvec"))
    wp = Window.partitionBy("query_id").orderBy(F.desc("qsim"), F.asc("cid"))
    probes = (
        qj.select("query_id", "cid", qsim.alias("qsim"))
        .withColumn("r", F.row_number().over(wp))
        .where(F.col("r") <= n_probe)
        .select("query_id", "cid")
    )
    cand = assign.join(F.broadcast(probes), "cid").select("query_id", "vec_id")
    sim = (
        cand.join(embeddings.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .withColumn("cos_sim", cosine(F.col("embedding"), F.col("query_emb")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rank")
    )
