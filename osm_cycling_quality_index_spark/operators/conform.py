"""Schema conformance + projection operators (SURVEY.md §2.2 P1/P2).

The reference projects the input to a fixed attribute allow-list
(native:retainfields, reference/cycling_quality_index.py:74 with the list at
reference/parameter.py:267-461) and then adds every missing attribute as a
typed NULL column so later code can read tags unconditionally
(reference/cycling_quality_index.py:136-149).  Here conformance keeps only
the allow-listed columns the input really has: the scalar layers read an
absent one as NULL through :class:`..functions.fold.Tags`, which folds it
away while the plan is built, and :func:`retain_final` adds the retained
ones back as typed NULLs, so the written schema does not depend on the
input's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import params as P
from ..functions.fold import per_operator

def conform_ways(df: DataFrame, keep_geometry: bool = True) -> DataFrame:
    """Project to the attribute allow-list: the tags the frame has as
    strings, and the pipeline columns it has as their types."""
    existing = set(df.columns)
    cols = [F.col("geometry")] if keep_geometry and "geometry" in existing else []
    cols += [F.col(f"`{name}`").cast("string").alias(name)
             for name in P.ATTRIBUTES_LIST if name in existing]
    cols += [F.col(f"`{name}`").cast(typ).alias(name)
             for name, typ in P.NEW_ATTRIBUTES_TYPES.items() if name in existing]
    # the projection may also hold the expressions that synthesize the tags
    # upstream, so it runs per-operator like the scalar stages' writes
    return per_operator(df.select(*cols), {}, "string" if "id" in existing else None)


def retain(df: DataFrame, names: list[str]) -> DataFrame:
    """Select ``names`` in order; one the frame lacks is a NULL of its
    pipeline type (string for a tag)."""
    existing = set(df.columns)
    return df.select(*[
        F.col(f"`{name}`") if name in existing
        else F.lit(None).cast(P.NEW_ATTRIBUTES_TYPES.get(name, "string")).alias(name)
        for name in names
    ])


def retain_final(df: DataFrame) -> DataFrame:
    """Final projection to the retained output columns
    (reference/cycling_quality_index.py:1644), keeping geometry when present."""
    geometry = ["geometry"] if "geometry" in df.columns else []
    return retain(df, geometry + P.ATTRIBUTES_LIST_FINALLY_RETAINED)
