"""Way-type classification + access filters (SURVEY.md §2 F20, P5-P7).

Re-expresses the 16-class decision tree of
reference/cycling_quality_index.py:512-686 as one ``when/otherwise`` cascade.
Branch order IS the semantics — the cascade mirrors the reference's branch
order exactly, including the crossing > link > bicycle-road override priority
(the reference assigns them in the opposite order and later assignments win,
reference/cycling_quality_index.py:533-541).

QGIS truthiness notes honoured here:
* ``x != v`` on a NULL tag is True in Python -> ``neq`` (null-safe).
* ``x not in [...]`` on NULL is True -> ``notin``.
* ``not x in ['yes','no']`` on NULL is True -> ``notin``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from ..functions.fold import Tags, coalesce, known, when
from ..functions.nulls import falsy, neq, notin, truthy
from ..functions.tags import derive_separation, get_access

_YDP = ["yes", "designated", "permissive"]
_ALLOWED_BICYCLE_ACCESS = [
    "yes", "permissive", "designated", "use_sidepath", "optional_sidepath", "discouraged",
]
_FOOTWAY_LIKE = ["footway", "pedestrian", "bridleway", "steps"]


def _side_tag(t: Tags, base: str, value, side: Column) -> Column:
    """``cycleway == v or cycleway:both == v or (side=='right' and
    cycleway:right == v) or (side=='left' and cycleway:left == v)`` — the
    side-aware tag test used throughout the road branch
    (e.g. reference/cycling_quality_index.py:617,635,665)."""
    vals = value if isinstance(value, list) else [value]
    return (
        t(base).isin(vals)
        | t(f"{base}:both").isin(vals)
        | ((side == "right") & t(f"{base}:right").isin(vals))
        | ((side == "left") & t(f"{base}:left").isin(vals))
    )


def access_filter(df: DataFrame, t: Tags) -> DataFrame:
    """Row filters of reference/cycling_quality_index.py:516-521 and the
    restricted-footway deletion at :546-550 (P5-P7)."""
    def _holds(c: Column) -> Column:
        # a NULL predicate must mean "condition does not hold", not "drop
        # the row" — df.filter discards NULL results
        return coalesce(c, False)

    bike = get_access(t, "bicycle")
    keep_access = falsy(bike) | bike.isin(_ALLOWED_BICYCLE_ACCESS)
    keep_informal = ~_holds(
        (t("highway") == "path") & (t("informal") == "yes") & t("bicycle").isNull()
    )
    override = _override_way_type(t)
    # footway-like rows that would fall into the shared-footway branch with
    # restricted bicycle access are deleted inside the tree (:550)
    keep_footway = ~_holds(
        override.isNull()
        & t("highway").isin(_FOOTWAY_LIKE)
        & notin(t("bicycle"), _YDP)
    )
    keep = _holds(keep_access) & keep_informal & keep_footway
    k = known(keep)
    if k is not None and k.value is True:
        return df
    return t.filter(df, keep)


def _override_way_type(t: Tags) -> Column:
    """bicycle_road / link / crossing overrides
    (reference/cycling_quality_index.py:533-541); later assignments in the
    reference win, so priority is crossing > link > bicycle road."""
    link = (
        (t("footway") == "link") | (t("cycleway") == "link")
        | (t("path") == "link") | (t("bridleway") == "link")
    )
    crossing = (
        (t("footway") == "crossing") | (t("cycleway") == "crossing")
        | (t("path") == "crossing") | (t("bridleway") == "crossing")
    )
    bicycle_road = (t("bicycle_road") == "yes") & falsy(t("side"))
    return (
        when(crossing, "crossing")
        .when(link, "link")
        .when(bicycle_road, "bicycle road")
    )


def way_type_expr(t: Tags) -> Column:
    """The full classifier as a single expression
    (reference/cycling_quality_index.py:523-684)."""
    highway = t("highway")
    side = t("side")
    bicycle = t("bicycle")
    foot = t("foot")
    sep_foot = derive_separation(t, "foot")
    sep_mv = derive_separation(t, "motor_vehicle")
    #: `not separation_motor_vehicle in [NULL,'no','none']` (:580,623,657) —
    #: NULL fails, '' passes (it is not in the list), mirroring Python.
    sep_mv_present = sep_mv.isNotNull() & ~sep_mv.isin(["no", "none"])
    sep_mv_kerbish = sep_mv.contains("kerb") | sep_mv.contains("tree_row")

    # cycleway branch tail shared by highway=cycleway (:567-588) and the
    # road cycle-track branch (:652-663)
    def track_tail() -> Column:
        return when(
            sep_mv_present,
            when(sep_mv_kerbish, "cycle track").otherwise("cycle lane (protected)"),
        ).otherwise("cycle track")

    cycleway_branch = when(foot.isin(_YDP), "shared path").otherwise(
        when(sep_foot == "no", "segregated path").otherwise(
            when(
                notin(t("is_sidepath"), ["yes", "no"]),
                when(t("proc_sidepath") == "yes", "cycle track").otherwise("cycle path"),
            )
            .when(t("is_sidepath") == "yes", track_tail())
            .otherwise("cycle path")
        )
    )

    lane_exclusive = (
        (t("cycleway:lane") == "exclusive")
        | (t("cycleway:both:lane") == "exclusive")
        | ((side == "right") & (t("cycleway:right:lane") == "exclusive"))
        | ((side == "left") & (t("cycleway:left:lane") == "exclusive"))
    )
    lane_branch = when(
        truthy(t("cycleway:lanes")) & t("cycleway:lanes").contains("no|lane|no"),
        "cycle lane (central)",
    ).otherwise(
        when(sep_mv_present, "cycle lane (protected)").otherwise(
            when(lane_exclusive, "cycle lane (exclusive)").otherwise(
                "cycle lane (advisory)"
            )
        )
    )

    # segregated tests use the cycleway:segregated family (:643-650)
    seg_yes = (
        (t("cycleway:segregated") == "yes") | (t("cycleway:both:segregated") == "yes")
        | ((side == "right") & (t("cycleway:right:segregated") == "yes"))
        | ((side == "left") & (t("cycleway:left:segregated") == "yes"))
    )
    seg_no = (
        (t("cycleway:segregated") == "no") | (t("cycleway:both:segregated") == "no")
        | ((side == "right") & (t("cycleway:right:segregated") == "no"))
        | ((side == "left") & (t("cycleway:left:segregated") == "no"))
    )
    track_branch = when(
        t("cycleway:foot").isin(_YDP)
        | t("cycleway:both:foot").isin(_YDP)
        | ((side == "right") & t("cycleway:right:foot").isin(_YDP))
        | ((side == "left") & t("cycleway:left:foot").isin(_YDP)),
        "shared path",
    ).otherwise(
        when(seg_yes, "segregated path")
        .when(seg_no, "shared path")
        .otherwise(
            when(sep_foot == "no", "segregated path").otherwise(track_tail())
        )
    )

    sidewalk_bike_yes = (
        (t("sidewalk:bicycle") == "yes") | (t("sidewalk:both:bicycle") == "yes")
        | ((side == "right") & (t("sidewalk:right:bicycle") == "yes"))
        | ((side == "left") & (t("sidewalk:left:bicycle") == "yes"))
    )

    def shared_road(markings_classes) -> Column:
        lm = t("lane_markings")
        return when(
            (lm == "yes") | (neq(lm, "yes") & highway.isin(markings_classes)),
            "shared traffic lane",
        ).otherwise("shared road")

    road_with_side = when(t("type") == "sidewalk", "shared footway").otherwise(
        when(_side_tag(t, "cycleway", "lane", side), lane_branch)
        .when(_side_tag(t, "cycleway", "track", side), track_branch)
        .when(_side_tag(t, "cycleway", "share_busway", side), "shared bus lane")
        .otherwise(
            when(sidewalk_bike_yes, "shared footway").otherwise(
                shared_road(["primary", "secondary"])
            )
        )
    )

    main_tree = (
        when(highway.isin(_FOOTWAY_LIKE), when(bicycle.isin(_YDP), "shared footway"))
        .when(
            highway == "path",
            when((foot == "designated") & neq(bicycle, "designated"), "shared footway").otherwise(
                when(t("segregated") == "yes", "segregated path").otherwise("shared path")
            ),
        )
        .when(highway == "cycleway", cycleway_branch)
        .when(highway.isin(["service", "track"]), "track or service")
        .otherwise(
            when(
                falsy(side), shared_road(["motorway", "trunk", "primary", "secondary"])
            ).otherwise(road_with_side)
        )
    )

    return coalesce(_override_way_type(t), main_tree)


def classify(df: DataFrame) -> DataFrame:
    """Apply access filters then assign ``way_type``."""
    t = Tags(df, per_operator=True)
    out = access_filter(df, t)
    return t.put(out, {"way_type": way_type_expr(t)})
