"""Scalar tag-interpretation functions (reference/definitions.py re-expressed
as Catalyst column expressions — F1-F7, F13 in SURVEY.md §2.9).

All functions return :class:`pyspark.sql.Column` trees; nothing here touches
Python per row, so the whole scalar layer compiles to Java.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import params as P
from .fold import Tags, is_null, null, when
from .nulls import falsy, fcoalesce


def get_number(c: Column) -> Column:
    """float(value) or NULL on parse failure (reference/definitions.py:77-83)."""
    return c.cast("string").try_cast("double")


def get_access(t: Tags, access_key: str) -> Column:
    """Access-tag inheritance ladder (reference/definitions.py:54-72):
    first non-falsy of ``access_key`` then its fallbacks
    (e.g. bicycle <- vehicle <- access)."""
    ladder = [access_key] + P.ACCESS_LADDERS.get(access_key, [])
    return fcoalesce(*[t(k) for k in ladder])


def derive_attribute(t: Tags, attr: str, typ: str, side: str, vartype: str) -> Column:
    """Coalesce ``{typ}:{side}:{attr}`` -> ``{typ}:both:{attr}`` ->
    ``{typ}:{attr}`` and cast (reference/definitions.py:4-21). NULL on cast
    failure, mirroring the try/except."""
    v = fcoalesce(t(f"{typ}:{side}:{attr}"), t(f"{typ}:both:{attr}"), t(f"{typ}:{attr}"))
    if vartype == "float":
        return v.try_cast("double").cast("string")
    if vartype == "int":
        return v.try_cast("int").cast("string")
    return v


def derive_separation(t: Tags, traffic_mode: str) -> Column:
    """Separation on the side of a given traffic mode
    (reference/definitions.py:26-49).  Sequencing matters: the second ``if``
    in the reference overwrites the first, so it becomes the outer ``when``."""
    sep_l, sep_r = t("separation:left"), t("separation:right")
    tm_l, tm_r = t("traffic_mode:left"), t("traffic_mode:right")
    if traffic_mode == "foot":
        # default for the right side: adjacent foot traffic
        return when(falsy(tm_r) | (tm_r == "foot"), sep_r).otherwise(
            when(tm_l == "foot", sep_l)
        )
    if traffic_mode == "motor_vehicle":
        # default for the left side: adjacent motor vehicle traffic
        mv = ["motor_vehicle", "parking", "psv"]
        return when(falsy(tm_l) | tm_l.isin(mv), sep_l).otherwise(
            when(tm_r.isin(mv), sep_r)
        )
    return null("string")


def split_delimited(c: Column, deli_char: str) -> Column:
    """String -> array of tokens (reference/definitions.py:88-109, string
    variant).  '|' must be escaped for the regex-based split."""
    if is_null(c):
        return null("array<string>")
    pat = "\\|" if deli_char == "|" else deli_char
    return F.split(c, pat)


@lru_cache(maxsize=None)
def _surfaces_weakest_first() -> Column:
    # dict.fromkeys dedupe first: SURFACE_VALUE_ORDER lists paving_stones
    # twice (reference parameter.py duplicate, kept verbatim); .index()/
    # array_position resolve duplicates to their FIRST occurrence, so the
    # reversed order must too — without the dedupe the later duplicate
    # would outrank values between the two occurrences
    # (one split literal, which Catalyst folds to an array literal, costs two
    # py4j round-trips where 28 literals cost ~90)
    order = list(reversed(list(dict.fromkeys(P.SURFACE_VALUE_ORDER))))
    assert not any("," in v for v in order)
    return F.split(F.lit(",".join(order)), ",")


def weakest_surface_value(arr: Column) -> Column:
    """Pick the value with the highest index in the quality-ordered surface
    list; NULL when no element is a known surface
    (reference/definitions.py:114-126).

    The quality order is a fixed 29-value list, so "the present value with
    the highest index" is the first element of the reversed order that
    ``arr`` holds: ``array_intersect`` keeps its first argument's order, and
    ``get`` at the constant index 0 is NULL on an empty or NULL array.  No
    higher-order function — lambdas are CodegenFallback (they evict the
    whole Project from whole-stage codegen and run interpreted) — and no
    ``element_at``, whose codegen on a foldable array with a runtime-NULL
    index wrongly yields the last element.
    """
    if is_null(arr):
        return null("string")
    return F.get(F.array_intersect(_surfaces_weakest_first(), arr), 0)


def joined_flags(pairs: list[tuple[Column, Column | str]]) -> Column:
    """';'-joined accumulation of values gated by boolean flags, in order —
    the reference's repeated ``addDelimitedValue`` calls
    (reference/definitions.py:131-135) collapsed into one linear expression
    (a when/otherwise accumulator would duplicate the tree exponentially)."""
    # array_join skips NULL elements, so fragments known to be NULL drop out
    frags = [f for f in (when(flag, v) for flag, v in pairs) if not is_null(f)]
    return F.array_join(F.array(*frags), ";", None) if frags else F.lit("")


def normalize_maxspeed(maxspeed: Column, highway: Column) -> Column:
    """Maxspeed token normalization ('walk'->10, 'none'->299, living_street
    default 10; reference/cycling_quality_index.py:296-302) followed by
    float parse."""
    return (
        when(maxspeed == "walk", 10.0)
        .when(falsy(maxspeed) & (highway == "living_street"), 10.0)
        .when(maxspeed == "none", 299.0)
        .otherwise(get_number(maxspeed))
    )


def last_pipe_token_number(c: Column) -> Column:
    """Width of the rightmost lane from a pipe list
    (reference/cycling_quality_index.py:795-802)."""
    if is_null(c):
        return null("double")
    return F.element_at(F.split(c, "\\|"), -1).try_cast("double")
