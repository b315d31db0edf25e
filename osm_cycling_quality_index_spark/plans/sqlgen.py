"""Replay committed SQL stage text (plans/cqi_sql_gen.py) as one query.

The stage lists are snapshotted from the ANALYZED plans of the
Column-builder pipelines by tools/gen_cqi_sql.py; see that tool's module
doc for the mechanism and invariants.  The replay composes every stage
into a single nested query and issues ONE ``spark.sql`` call: DataFrames
analyze eagerly, so per-stage ``selectExpr`` application would re-analyze
the growing plan once per stage (quadratic), while the nested text is
parsed and analyzed once, linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def replay_stages(
    spark: SparkSession, base_sql: str,
    stages: list[tuple[str, object]],
) -> DataFrame:
    """Apply ``stages`` (("project", [select-expr, ...]) | ("filter",
    condition), in order) on top of ``base_sql`` as one nested query."""
    sql = base_sql
    for kind, payload in stages:
        if kind == "project":
            sql = "SELECT " + ", ".join(payload) + " FROM (" + sql + ")"
        else:
            sql = "SELECT * FROM (" + sql + ") WHERE " + payload
    return spark.sql(sql)


_WHOLE_STAGE = "spark.sql.codegen.wholeStage"


def replay_session(spark: SparkSession) -> SparkSession:
    """Child session (shared SparkContext, isolated SQL conf) with
    whole-stage codegen OFF, for the committed-SQL replay queries only.

    The replayed scalar chains fuse into one codegen span whose generated
    method exceeds the JVM 64 KB limit; compilation FAILS, Spark falls
    back per-operator — but failed compilations are not cached, so every
    execution re-attempts the doomed multi-second Janino compile before
    falling back (measured at sf0.1: 6.3-6.9 s per pass with the retry
    vs 3.5-3.8 s with codegen off — the fallback is also simply faster
    here, per-operator projections compile fine).  A child session scopes
    the flag to these queries; ``newSession`` inherits every builder conf
    (verified: shuffle partitions, AQE, Arrow, thresholds), and one child
    is cached per parent session.  A later ``get_spark()`` re-applies its
    builder confs to the parent at runtime, so every call re-syncs the
    cached child's runtime SQL confs with the parent's current values."""
    child = getattr(spark, "_replay_nowscg_session", None)
    if child is None:
        child = spark.newSession()
        spark._replay_nowscg_session = child
    want = {**spark.conf.getAll, _WHOLE_STAGE: "false"}
    have = child.conf.getAll
    for key, value in want.items():
        if have.get(key) != value and child.conf.isModifiable(key):
            child.conf.set(key, value)
    return child


def parquet_base_sql(spark: SparkSession, path: str) -> str:
    """Scan + round-robin repartition base, inlined (path datasource +
    REPARTITION hint — same physical base as ``df.repartition(n)``) rather
    than a fixed-name temp view, which would be a shared mutable binding
    across callers."""
    n = spark.sparkContext.defaultParallelism
    return f"SELECT /*+ REPARTITION({n}) */ * FROM parquet.`{path}`"
