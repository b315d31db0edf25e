"""Event-log operators (sessionization, tumbling windows, hourly rollups).

Batch DataFrame forms, each SQL-mirrorable for the oracle gate.  The
reference pipeline has no streaming semantics (SURVEY.md §2.10), so this
module is engine capability surface, not parity surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import pyround


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Session counts per user: a new session starts when the gap to the
    previous event exceeds ``gap_minutes``.
    Output: (user_id, n_sessions, n_events)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("timestamp").cast("long")  # NTZ-safe epoch seconds
    gap = secs - F.lag(secs).over(w)
    new_session = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return (
        events.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Hourly tumbling counts + mean value per event type.
    Output: (window_start, event_type, n, avg_value)."""
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
    )


def hourly_partials(events: DataFrame, value_col: str = "value") -> DataFrame:
    """Finest rollup level: hourly ALGEBRAIC partials (count + sum, from
    which any coarser mean recomposes exactly).  This is the hypertable /
    continuous-aggregate pattern: store partials at the fine grain, derive
    every coarser grain by re-aggregating partials — never rescanning the
    fact table."""
    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(value_col).alias("sum_value"),
    )


def rollup_daily(hourly: DataFrame, scale: float = 1.0) -> DataFrame:
    """Coarser rollup composed purely from the hourly partials: counts and
    sums add, the mean recomposes as sum/count — identical to aggregating
    the raw events directly (algebraic-aggregate property)."""
    return (
        hourly.groupBy(
            F.date_trunc("day", F.col("window_start")).alias("day"), "event_type"
        )
        .agg(F.sum("n").alias("n"), F.sum("sum_value").alias("sum_value"))
        .select(
            "day", "event_type", "n",
            # ``scale`` lets callers aggregate fixed-point integers (exact
            # and order-independent — the gate does cents) and recover the
            # real-valued mean here; pyround keeps tie rounding cross-engine
            pyround(F.col("sum_value") / (F.col("n") * F.lit(scale)), 4).alias("avg_value"),
        )
    )
