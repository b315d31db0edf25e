"""Stage-5 index composition, Level of Traffic Stress and data completeness
(SURVEY.md §2.9 F10-F12, F14, F21, F22, A10).

Mirrors reference/cycling_quality_index.py:1282-1638.  Key parity points:

* the *written* ``fac_1``/``fac_2``/``fac_4`` columns are rounded to 2 digits
  but ``index`` is computed from the unrounded values (:1476,1490,1566,1568);
* Python ``round()`` is banker's rounding -> ``F.bround`` (HALF_EVEN);
* ``index = int(round(...))`` (:1571) and ``index_10 = index // 10`` (:1573);
* ``fac_surface`` falls back to NULL when neither smoothness nor surface is
  valid — the reference leaks the previous loop iteration's value there
  (iteration-order-dependent); we define the clean semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import params as P
from ..functions.fold import Tags, coalesce, when
from ..functions.nulls import falsy, neq, notin, truthy
from ..functions.rounding import pyround, pyround_int
from ..functions.tags import get_access, joined_flags


def _nonzero(c: Column) -> Column:
    return c.isNotNull() & (c != 0.0)


def _map_lookup(key: Column, mapping: dict) -> Column:
    expr = None
    for k, v in mapping.items():
        expr = when(key == k, v) if expr is None else expr.when(key == k, v)
    return expr


_SHARED_5 = [
    "bicycle road", "shared road", "shared traffic lane", "shared bus lane",
    "track or service",
]
_SHARED_4 = ["bicycle road", "shared road", "shared traffic lane", "track or service"]


def score(df: DataFrame) -> DataFrame:
    t = Tags(df, per_operator=True)
    wt = t("way_type")
    proc_oneway = t("proc_oneway")
    proc_width = t("proc_width")
    is_sidepath = t("proc_sidepath")
    # stage the access ladder + the width-calc chain first: calc_width is
    # referenced by the nonzero gate, the logistic curve (4x) and the
    # pyround shim (~6x), and analysis/Expression.sql duplicate shared
    # subtrees per reference
    mva0 = get_access(t, "motor_vehicle")
    df = t.put(df, {"_sc_mva": mva0})
    mva = t("_sc_mva")
    mva_restricted = mva.isin(list(P.MOTOR_VEHICLE_ACCESS_INDEX_DICT.keys()))

    # ---- width calc (:1307-1330)
    ow_yes = proc_oneway.contains("yes")
    dedicated = notin(wt, _SHARED_5) | (mva == "no")
    calc_ded = when(
        _nonzero(proc_width) & ~ow_yes, proc_width / 1.6
    ).otherwise(proc_width)
    calc_shared = when(
        _nonzero(proc_width),
        when(
            wt == "shared traffic lane",
            F.greatest(proc_width - 2 + ((4.5 - proc_width) / 3), F.lit(0.0)),
        )
        .when(
            wt == "shared bus lane",
            F.greatest(proc_width - 3 + ((5.5 - proc_width) / 3), F.lit(0.0)),
        )
        .otherwise(
            when(~ow_yes, proc_width / 1.6).otherwise(proc_width) - 2
        ),
    ).otherwise(proc_width)
    df = t.put(df, {
        "_sc_calc_width": when(dedicated, calc_ded).otherwise(calc_shared),
        "_sc_dedicated": dedicated,
        "_sc_mva_restricted": mva_restricted,
    })
    calc_width = t("_sc_calc_width")
    mva_restricted = t("_sc_mva_restricted")
    minimum_factor = when(t("_sc_dedicated"), 0.0).otherwise(0.25)

    # ---- width factor curve (:1331-1348)
    cw = F.greatest(F.lit(0.001), calc_width)
    fw_raw = when(
        (cw <= 3) | wt.isin(_SHARED_5),
        1.1 / (1 + 20 * F.exp(-2.1 * cw)),
    ).otherwise(2 / (1 + 1.8 * F.exp(-0.24 * cw)))
    fw_raw = when(
        wt.isin(_SHARED_4) & mva_restricted, fw_raw + ((1 - fw_raw) / 2)
    ).otherwise(fw_raw)
    df = t.put(df, {"_sc_fwr": fw_raw})
    fac_width = when(
        _nonzero(calc_width),
        pyround(F.greatest(minimum_factor, t("_sc_fwr")), 3),
    )

    # ---- base index (:1292-1302)
    base_index = _map_lookup(wt, P.BASE_INDEX_DICT)
    base_index = when(
        wt.isin(_SHARED_4) & mva_restricted,
        _map_lookup(mva, P.MOTOR_VEHICLE_ACCESS_INDEX_DICT),
    ).otherwise(base_index)

    # ---- surface factor (:1360-1365)
    fac_surface = coalesce(
        _map_lookup(t("proc_smoothness"), P.SMOOTHNESS_FACTOR_DICT),
        _map_lookup(t("proc_surface"), P.SURFACE_FACTOR_DICT),
    )

    # ---- highway/maxspeed factors (:1375-1391)
    proc_highway = t("proc_highway")
    proc_maxspeed = t("proc_maxspeed")
    fac_highway = coalesce(_map_lookup(proc_highway, P.HIGHWAY_FACTOR_DICT), 1.0)
    ms_steps = F.lit(1.0)
    for threshold, factor in sorted(P.MAXSPEED_FACTOR_STEPS):  # ascending like the dict
        ms_steps = when(proc_maxspeed >= threshold, factor).otherwise(ms_steps)
    fac_maxspeed = when(_nonzero(proc_maxspeed), ms_steps).otherwise(1.0)
    dm_maxspeed = (
        ~_nonzero(proc_maxspeed)
        & (wt != "track or service")
        & neq(is_sidepath, "no")
        & notin(proc_highway, ["pedestrian", "service", "track"])
    )

    # materialize the factor columns so downstream composites reference them
    # instead of re-inlining the trees (keeps Catalyst analysis linear)
    df = t.put(df, {
        "base_index": base_index.cast("int"),
        "fac_width": fac_width,
        "fac_surface": fac_surface,
        "fac_highway": fac_highway,
        "fac_maxspeed": fac_maxspeed,
        "_sc_dm_maxspeed": dm_maxspeed,
    })
    base_index = t("base_index")
    fac_width = t("fac_width")
    fac_surface = t("fac_surface")
    fac_highway = t("fac_highway")
    fac_maxspeed = t("fac_maxspeed")
    mva_restricted = t("_sc_mva_restricted")
    dm_maxspeed = t("_sc_dm_maxspeed")

    # ---- factor 1: width & surface, low values weighted stronger (:1463-1476)
    wfw = F.greatest(1 - fac_width, F.lit(0.0)) + 0.5
    wfs = F.greatest(1 - fac_surface, F.lit(0.0)) + 0.5
    fac_1 = (
        when(
            _nonzero(fac_width) & _nonzero(fac_surface),
            (wfw * fac_width + wfs * fac_surface) / (wfw + wfs),
        )
        .when(_nonzero(fac_width), fac_width)
        .when(_nonzero(fac_surface), fac_surface)
        .otherwise(1.0)
    )

    # ---- factor 2: highway & maxspeed blended by way-type weight (:1478-1490)
    weight = coalesce(_map_lookup(wt, P.HIGHWAY_FACTOR_DICT_WEIGHTS), 1.0)
    weight = when(
        wt.isin(["shared path", "segregated path", "shared footway"])
        & neq(is_sidepath, "yes"),
        0.0,
    ).otherwise(weight)
    fac_2_raw = fac_highway * fac_maxspeed
    fac_2 = fac_2_raw + ((1 - fac_2_raw) * (1 - weight))
    fac_2 = when(_nonzero(fac_2), fac_2).otherwise(1.0)

    # ---- factor 3 (protection level) is disabled in the reference (:1500-1502)
    fac_3 = F.lit(1.0)

    # ---- factor 4: bonuses / maluses (:1504-1566)
    cw_t, cwb_t = t("cycleway"), t("cycleway:both")
    cwl_t, cwr_t = t("cycleway:left"), t("cycleway:right")
    sharrow = wt.isin(["shared road", "shared traffic lane"]) & (
        (cw_t == "shared_lane") | (cwb_t == "shared_lane")
        | (cwl_t == "shared_lane") | (cwr_t == "shared_lane")
    )
    surface_colour = t("surface:colour")
    colour_eligible = (
        wt.contains("cycle lane")
        | wt.isin(["crossing", "shared bus lane", "link", "bicycle road"])
        | (wt.isin(["shared path", "segregated path"]) & (is_sidepath == "yes"))
    )
    coloured = (
        colour_eligible
        & truthy(surface_colour)
        & ~surface_colour.isin(["no", "none", "grey", "gray", "black"])
    )
    colour_bonus = when(
        coloured, when(wt == "crossing", 0.15).otherwise(0.05)
    ).otherwise(0.0)

    crossing_t = t("crossing")
    crossing_markings = t("crossing:markings")
    # null-safe: reference `crossing in ['traffic_signals']` is False for a
    # NULL crossing tag (:1533), so `elif` still grants the marked bonus when
    # only crossing:markings is set; a raw isin would make ~signalled NULL
    signalled = (wt == "crossing") & coalesce(
        crossing_t.isin(["traffic_signals"]), False
    )
    marked = (
        (wt == "crossing")
        & ~signalled
        & (
            crossing_t.isin(["marked", "zebra"])
            | (truthy(crossing_markings) & neq(crossing_markings, "no"))
        )
    )
    lit_tag = t("lit")
    unlit = lit_tag == "no"
    dm_lit = falsy(lit_tag)
    dm_crossing = (wt == "crossing") & falsy(crossing_t)
    dm_crossing_markings = (wt == "crossing") & falsy(crossing_markings)

    tml = t("proc_traffic_mode_left")
    tmr = t("proc_traffic_mode_right")
    bl = t("proc_buffer_left")
    br = t("proc_buffer_right")
    dooring_eligible = wt.contains("cycle lane") | (
        wt.isin(["cycle track", "shared path", "segregated path"]) & (is_sidepath == "yes")
    )
    dooring = (
        ((tml == "parking") & _nonzero(bl) & (bl < 1))
        | ((tmr == "parking") & _nonzero(br) & (br < 1))
    ) & dooring_eligible
    # each branch requires its buffers to be usable (the reference raises a
    # TypeError on abs(NULL-1) at :1552-1556, so any total behavior here is a
    # divergence; falling back to the single-side formula keeps the index
    # non-NULL for a row whose dooring trigger was satisfied by the other side)
    diff = (
        when(
            (tml == "parking") & (tmr == "parking") & _nonzero(bl) & _nonzero(br),
            F.abs(((bl + br) / 2) - 1) / 5,
        )
        .when((tmr == "parking") & _nonzero(br), F.abs(br - 1) / 5)
        .when((tml == "parking") & _nonzero(bl), F.abs(bl - 1) / 5)
        .otherwise(0.0)
    )
    permissive = t("bicycle") == "permissive"

    fac_4 = (
        F.lit(1.0)
        + when(sharrow, 0.1).otherwise(0.0)
        + colour_bonus
        + when(signalled, 0.2).when(marked, 0.1).otherwise(0.0)
        - when(unlit, 0.1).otherwise(0.0)
        - when(dooring, diff).otherwise(0.0)
        - when(permissive, 0.2).otherwise(0.0)
    )

    # stage the unrounded factors as temp columns (index must use unrounded
    # values while the written fac_* columns are rounded, :1476,1490,1566-1568)
    df = t.put(df, {
        "_sc_fac1": fac_1,
        "_sc_fac2": fac_2,
        "_sc_fac4": fac_4,
        "_sc_weight": weight,
    })
    fac_1 = t("_sc_fac1")
    fac_2 = t("_sc_fac2")
    fac_4 = t("_sc_fac4")
    weight = t("_sc_weight")

    # ---- index (:1460-1576)
    index_f = base_index * fac_1 * fac_2 * fac_3 * fac_4
    index = when(
        base_index.isNotNull(),
        pyround_int(F.greatest(F.least(F.lit(100.0), index_f), F.lit(0.0))),
    )
    index_10 = F.floor(index / 10).cast("int")

    # ---- LTS (:1583-1626)
    lts = (
        when(
            wt.isin(["cycle path", "cycle track", "segregated path", "cycle lane (protected)"]),
            1,
        )
        .when(
            wt.isin(["shared path", "shared footway"]),
            when(
                notin(proc_oneway, ["yes", "-1"])
                & _nonzero(proc_width) & (proc_width < 3)
                & _nonzero(proc_maxspeed) & (proc_maxspeed > 30),
                3,
            ).otherwise(1),
        )
        .when(
            wt.isin([
                "cycle lane (advisory)", "cycle lane (central)", "shared bus lane",
                "link", "crossing",
            ]),
            when(_nonzero(proc_maxspeed) & (proc_maxspeed <= 10), 1)
            .when(_nonzero(proc_maxspeed) & (proc_maxspeed <= 30), 2)
            .when(_nonzero(proc_width) & (proc_width >= 1.5), 3)
            .otherwise(4),
        )
        .when(
            wt == "cycle lane (exclusive)",
            when(_nonzero(proc_maxspeed) & (proc_maxspeed <= 10), 1)
            .when(
                _nonzero(proc_maxspeed) & (proc_maxspeed <= 50)
                & _nonzero(proc_width) & (proc_width >= 1.85),
                2,
            )
            .otherwise(3),
        )
        .when(
            wt.isin(["bicycle road", "shared road", "shared traffic lane"]),
            when((wt == "bicycle road") & mva_restricted, 1).otherwise(
                when(
                    _nonzero(proc_maxspeed) & (proc_maxspeed <= 10)
                    & proc_highway.isin(["residential", "living_street"])
                    & (falsy(t("priority_road")) | (t("priority_road") == "no")),
                    1,
                )
                .when(
                    _nonzero(proc_maxspeed) & (proc_maxspeed <= 30)
                    & proc_highway.isin([
                        "tertiary", "tertiary_link", "unclassified", "road",
                        "residential", "living_street",
                    ]),
                    2,
                )
                .otherwise(4)
            ),
        )
        .when(
            wt == "track or service",
            when(_nonzero(proc_maxspeed) & (proc_maxspeed <= 10), 1).otherwise(2),
        )
        .cast("int")
    )

    # ---- data_missing accumulation in reference append order
    dm_pairs = [
        (t("dm_width_lanes"), "width:lanes"),
        (t("dm_width_1"), "width"),
        (t("dm_width_2"), "width"),
        (t("dm_parking"), "parking"),
        (t("dm_surface"), "surface"),
        (t("dm_smoothness"), "smoothness"),
        (dm_maxspeed, "maxspeed"),
        (dm_crossing, "crossing"),
        (dm_crossing_markings, "crossing_markings"),
        (dm_lit, "lit"),
    ]
    dm = joined_flags(dm_pairs)

    # data_incompleteness sums weights per token, duplicates counted twice
    # (:1630-1638).  Summed straight from the flags (same order, +0.0 for
    # unset flags — bit-identical to folding over the joined string) instead
    # of re-parsing ``dm`` with F.aggregate: higher-order functions are
    # CodegenFallback and would evict this whole Project from whole-stage
    # codegen.
    incompleteness = F.lit(0.0)
    for flag, tok in dm_pairs:
        w = P.DATA_INCOMPLETENESS_DICT.get(tok, 0.0)
        incompleteness = incompleteness + when(flag, w).otherwise(0.0)

    # ---- data bonus/malus strings in reference append order
    bonus = joined_flags([
        (wt.isin(_SHARED_4) & mva_restricted, "motor vehicle restricted"),
        (fac_width > 1, "wide width"),
        (fac_surface > 1, "excellent surface"),
        ((weight >= 0.5) & (fac_2 > 1), "slow traffic"),
        (sharrow, "shared lane markings"),
        (coloured, "surface colour"),
        (signalled, "signalled crossing"),
        (marked, "marked crossing"),
    ])
    malus = joined_flags([
        (_nonzero(fac_width) & (fac_width <= 0.5), "narrow width"),
        (_nonzero(fac_surface) & (fac_surface <= 0.5), "bad surface"),
        ((weight >= 0.5) & (fac_highway <= 0.7), "along a major road"),
        ((weight >= 0.5) & (fac_maxspeed <= 0.7), "along a road with high speed limits"),
        (unlit, "no street lighting"),
        (dooring, "insufficient dooring buffer"),
        (permissive, "cycling not intended"),
    ])

    # NOTE: every kept row's way_type is in BASE_INDEX_DICT, so the
    # `if base_index != NULL` guard (:1462) always holds; the fac_4 appends
    # above therefore materialize unconditionally, like the reference.
    df = t.put(df, {
        "fac_1": when(base_index.isNotNull(), pyround(fac_1, 2)),
        "fac_2": when(base_index.isNotNull(), pyround(fac_2, 2)),
        "fac_3": when(base_index.isNotNull(), pyround(fac_3, 2)),
        "fac_4": when(base_index.isNotNull(), pyround(fac_4, 2)),
        "index": index,
        "index_10": index_10,
        "stress_level": lts,
        "data_missing": dm,
        "data_missing_maxspeed": when(dm_maxspeed, 1).cast("int"),
        "data_missing_lit": when(dm_lit, 1).cast("int"),
        "data_incompleteness": incompleteness,
        "data_bonus": bonus,
        "data_malus": malus,
    })
    return t.drop(df, "_sc_")
