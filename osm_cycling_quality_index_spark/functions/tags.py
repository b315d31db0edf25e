"""Scalar tag-interpretation functions (reference/definitions.py re-expressed
as Catalyst column expressions — F1-F7, F13 in SURVEY.md §2.9).

All functions return :class:`pyspark.sql.Column` trees; nothing here touches
Python per row, so the whole scalar layer stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import params as P
from .nulls import falsy, fcoalesce, truthy


def col_or_null(df_columns, name: str) -> Column:
    """Read a column that may be missing from the frame (QGIS returns NULL for
    absent attributes after the schema-conformance step,
    reference/cycling_quality_index.py:136-149)."""
    return F.col(f"`{name}`") if name in df_columns else F.lit(None).cast("string")


def get_number(c: Column) -> Column:
    """float(value) or NULL on parse failure (reference/definitions.py:77-83)."""
    return c.cast("string").try_cast("double")


def get_access(df_or_cols, access_key: str) -> Column:
    """Access-tag inheritance ladder (reference/definitions.py:54-72):
    first non-falsy of ``access_key`` then its fallbacks
    (e.g. bicycle <- vehicle <- access)."""
    cols = df_or_cols.columns if isinstance(df_or_cols, DataFrame) else df_or_cols
    ladder = [access_key] + P.ACCESS_LADDERS.get(access_key, [])
    return fcoalesce(*[col_or_null(cols, k) for k in ladder])


def derive_attribute(cols, attr: str, typ: str, side: str, vartype: str) -> Column:
    """Coalesce ``{typ}:{side}:{attr}`` -> ``{typ}:both:{attr}`` ->
    ``{typ}:{attr}`` and cast (reference/definitions.py:4-21). NULL on cast
    failure, mirroring the try/except."""
    v = fcoalesce(
        col_or_null(cols, f"{typ}:{side}:{attr}"),
        col_or_null(cols, f"{typ}:both:{attr}"),
        col_or_null(cols, f"{typ}:{attr}"),
    )
    if vartype == "float":
        return v.try_cast("double").cast("string")
    if vartype == "int":
        return v.try_cast("int").cast("string")
    return v


def derive_separation(cols, traffic_mode: str) -> Column:
    """Separation on the side of a given traffic mode
    (reference/definitions.py:26-49).  Sequencing matters: the second ``if``
    in the reference overwrites the first, so it becomes the outer ``when``."""
    sep_l = col_or_null(cols, "separation:left")
    sep_r = col_or_null(cols, "separation:right")
    tm_l = col_or_null(cols, "traffic_mode:left")
    tm_r = col_or_null(cols, "traffic_mode:right")
    if traffic_mode == "foot":
        # default for the right side: adjacent foot traffic
        return F.when(falsy(tm_r) | (tm_r == "foot"), sep_r).otherwise(
            F.when(tm_l == "foot", sep_l)
        )
    if traffic_mode == "motor_vehicle":
        # default for the left side: adjacent motor vehicle traffic
        mv = ["motor_vehicle", "parking", "psv"]
        return F.when(falsy(tm_l) | tm_l.isin(mv), sep_l).otherwise(
            F.when(tm_r.isin(mv), sep_r)
        )
    return F.lit(None).cast("string")


def split_delimited(c: Column, deli_char: str) -> Column:
    """String -> array of tokens (reference/definitions.py:88-109, string
    variant).  '|' must be escaped for the regex-based split."""
    pat = "\\|" if deli_char == "|" else deli_char
    return F.split(c, pat)


def weakest_surface_value(arr: Column) -> Column:
    """Pick the value with the highest index in the quality-ordered surface
    list; NULL when no element is a known surface
    (reference/definitions.py:114-126).

    The quality order is a fixed 29-value list, so "the present value with
    the highest index" unrolls statically: coalesce over the REVERSED order
    of ``array_contains`` gates.  No higher-order function — lambdas are
    CodegenFallback (they evict the whole Project from whole-stage codegen)
    and have no parseable SQL text for the generated-plan fast path
    (plans/cqi_sql_gen.py) — and no ``element_at``, whose codegen on a
    foldable array with a runtime-NULL index wrongly yields the last
    element.
    """
    # dict.fromkeys dedupe first: SURFACE_VALUE_ORDER lists paving_stones
    # twice (reference parameter.py duplicate, kept verbatim); .index()/
    # array_position resolve duplicates to their FIRST occurrence, so the
    # reversed scan must too — without the dedupe the later duplicate
    # would outrank values between the two occurrences
    return F.coalesce(*[
        F.when(F.array_contains(arr, v), F.lit(v))
        for v in reversed(list(dict.fromkeys(P.SURFACE_VALUE_ORDER)))
    ])


def joined_flags(pairs: list[tuple[Column, Column | str]]) -> Column:
    """';'-joined accumulation of values gated by boolean flags, in order —
    the reference's repeated ``addDelimitedValue`` calls
    (reference/definitions.py:131-135) collapsed into one linear expression
    (a when/otherwise accumulator would duplicate the tree exponentially)."""
    frags = [
        F.when(flag, F.lit(v) if isinstance(v, str) else v) for flag, v in pairs
    ]
    return F.array_join(F.array(*frags), ";", None) if frags else F.lit("")


def normalize_maxspeed(maxspeed: Column, highway: Column) -> Column:
    """Maxspeed token normalization ('walk'->10, 'none'->299, living_street
    default 10; reference/cycling_quality_index.py:296-302) followed by
    float parse."""
    return (
        F.when(maxspeed == "walk", F.lit(10.0))
        .when(falsy(maxspeed) & (highway == "living_street"), F.lit(10.0))
        .when(maxspeed == "none", F.lit(299.0))
        .otherwise(get_number(maxspeed))
    )


def last_pipe_token_number(c: Column) -> Column:
    """Width of the rightmost lane from a pipe list
    (reference/cycling_quality_index.py:795-802)."""
    return F.element_at(F.split(c, "\\|"), -1).try_cast("double")


def contains_sign(traffic_sign: Column, sign_ids) -> Column:
    """True when any ';'/','-delimited token of ``traffic_sign`` contains one
    of ``sign_ids`` as a substring (reference/cycling_quality_index.py:1243-1251
    with the sign lists of reference/parameter.py:250-251).

    A substring that contains no delimiter cannot span a token boundary, and
    every sign id is delimiter-free — so per-token ``exists`` (a
    CodegenFallback higher-order function) is equivalent to a whole-string
    ``contains``, which stays in whole-stage codegen."""
    assert all("," not in s and ";" not in s for s in sign_ids)
    cond = None
    for sid in sign_ids:
        c = traffic_sign.contains(F.lit(sid))
        cond = c if cond is None else (cond | c)
    return cond
