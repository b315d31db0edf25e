"""KMV (k-minimum-values) distinct-count sketch.

The mergeable-sketch pattern the training-data pipeline needs for
cardinality at scale (HLL's simpler cousin, chosen here because it is
EXACTLY deterministic and SQL-mirrorable): hash every key with a fixed
affine map, keep the ``k`` smallest distinct hash values per group.  The
estimator is ``(k-1) * H / h_k`` (``H`` = hash-space size, ``h_k`` = the
k-th smallest), exact when fewer than ``k`` distinct keys exist."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import pyround

#: hash space: 31-bit affine map (Knuth multiplicative), deterministic and
#: expressible in any engine's integer arithmetic
_H = 2147483648


def _kmv_hash(key: Column) -> Column:
    # pmod, not %: Spark's % is sign-preserving, so a negative key would
    # produce a negative "hash" that poisons the rank order and estimator
    return F.pmod(key.cast("long") * F.lit(2654435761), F.lit(_H))


def kmv_sketch(df: DataFrame, key: str, group: str, k: int = 64) -> DataFrame:
    """The sketch itself: up to ``k`` rows (group, h, r) of the smallest
    distinct hash values per group, rank-ordered."""
    hashes = (
        df.where(F.col(key).isNotNull())
        .select(group, _kmv_hash(F.col(key)).alias("h"))
        .distinct()
    )
    w = Window.partitionBy(group).orderBy("h")
    return (
        hashes.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= k)
    )


def kmv_estimate(sketch: DataFrame, k: int = 64) -> DataFrame:
    """(group..., n_kept, est_distinct): exact count when the group had
    fewer than k distinct keys, else the KMV estimator."""
    grp = [c for c in sketch.columns if c not in ("h", "r")]
    agg = sketch.groupBy(*grp).agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("h_k")
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise((k - 1) * F.lit(float(_H)) / F.col("h_k"))
    return agg.select(*grp, "n_kept", pyround(est, 4).alias("est_distinct"))
