"""Stage-4 attribute derivation (SURVEY.md §2.9 F15-F19).

Computes ``proc_oneway``, ``proc_width``, ``proc_surface``/``proc_smoothness``,
``proc_traffic_mode_*``/``proc_separation_*``/``proc_buffer_*``,
``proc_mandatory``/``proc_traffic_sign`` and the ``data_missing_*`` flags as
pure column expressions, mirroring reference/cycling_quality_index.py:694-1278.

QGIS falsy semantics: ``if not x`` on numbers treats NULL *and* 0 as missing
(``_nonzero`` below); on strings NULL and ''.  Coalesce ladders therefore skip
zeros for numeric tags, exactly as ``d.getNumber`` + ``if not x`` chains do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import params as P
from ..functions.fold import Tags, coalesce, is_null, null, when
from ..functions.nulls import falsy, fcoalesce, neq, truthy
from ..functions.rounding import pyround
from ..functions.tags import (
    get_number,
    last_pipe_token_number,
    split_delimited,
    weakest_surface_value,
)


def _nonzero(c: Column) -> Column:
    return c.isNotNull() & (c != 0.0)


def _nzd(c: Column) -> Column:
    return coalesce(c, 0.0)


_ONEWAY_VALUES = ["yes", "no", "-1", "alternating", "reversible"]
_PATHISH = [
    "cycle path", "cycle track", "shared path", "segregated path", "shared footway",
    "crossing", "link",
    "cycle lane (advisory)", "cycle lane (exclusive)", "cycle lane (protected)",
    "cycle lane (central)",
]
_ROADISH = ["shared road", "shared traffic lane", "bicycle road", "track or service"]


def oneway_expr(t: Tags) -> Column:
    """proc_oneway (reference/cycling_quality_index.py:703-743)."""
    wt = t("way_type")
    oneway = t("oneway")
    ob = t("oneway:bicycle")
    cw_ow = t("cycleway:oneway")
    pathish_base = (
        when(oneway.isin(_ONEWAY_VALUES), oneway)
        .when(cw_ow.isin(_ONEWAY_VALUES), cw_ow)
        .otherwise(
            when(
                wt.isin(["cycle track", "shared path", "shared footway"]) & truthy(t("side")),
                P.DEFAULT_ONEWAY_CYCLE_TRACK,
            )
            .when(wt.contains("cycle lane"), P.DEFAULT_ONEWAY_CYCLE_LANE)
            .otherwise("no")
        )
    )
    pathish = when(ob.isin(_ONEWAY_VALUES), ob).otherwise(pathish_base)
    roadish = when(
        falsy(ob) | oneway.eqNullSafe(ob),
        when(oneway.isin(_ONEWAY_VALUES), oneway).otherwise("no"),
    ).otherwise(
        when(
            ob == "no",
            when(
                oneway.isin(_ONEWAY_VALUES), F.concat(oneway, F.lit("_motor_vehicles"))
            ).otherwise("no"),
        ).otherwise("yes")
    )
    proc = (
        when(wt.isin(_PATHISH), pathish)
        .when(wt == "shared bus lane", "yes")
        .when(wt.isin(_ROADISH), roadish)
    )
    return when(falsy(proc), "unknown").otherwise(proc)


def _width_group_a(t: Tags, wt: Column, proc_oneway: Column) -> tuple[Column, Column]:
    """Paths and cycle lanes (reference/cycling_quality_index.py:750-765)."""
    pw_cw = get_number(t("cycleway:width"))
    pw_w = get_number(t("width"))
    default = (
        when(
            wt.isin(["cycle path", "shared path", "cycle lane (protected)"]),
            P.DEFAULT_HIGHWAY_WIDTH_DICT["path"],
        )
        .when(wt == "shared footway", P.DEFAULT_HIGHWAY_WIDTH_DICT["footway"])
        .otherwise(P.DEFAULT_HIGHWAY_WIDTH_DICT["cycleway"])
    )
    default = when(proc_oneway == "no", default * 1.6).otherwise(default)
    missing = ~_nonzero(pw_cw) & ~_nonzero(pw_w)
    width = when(_nonzero(pw_cw), pw_cw).when(_nonzero(pw_w), pw_w).otherwise(default)
    return width, missing


def _width_group_b(t: Tags, proc_oneway: Column) -> tuple[Column, Column, Column]:
    """Segregated path (reference/cycling_quality_index.py:766-788).
    Returns (width, missing_first, missing_second) — the reference can append
    'width' to data_missing twice on this branch (:778 and :787)."""
    is_path = t("highway") == "path"
    pw_cw = get_number(t("cycleway:width"))
    w = get_number(t("width"))
    fw = get_number(t("footway:width"))
    pw_path = when(_nonzero(pw_cw), pw_cw).otherwise(
        when(_nonzero(w), when(_nonzero(fw), w - fw).otherwise(w / 2))
    )
    missing1 = is_path & ~_nonzero(pw_cw)
    pw = when(is_path, pw_path).otherwise(w)
    missing2 = ~_nonzero(pw)
    default = F.lit(P.DEFAULT_HIGHWAY_WIDTH_DICT["path"])
    default = when(proc_oneway == "no", default * 1.6).otherwise(default)
    width = when(_nonzero(pw), pw).otherwise(default)
    return width, missing1, missing2


def _width_group_c_stage1(t: Tags, wt: Column, proc_oneway: Column) -> dict[str, Column]:
    """Shared roads/lanes, part 1 (reference/cycling_quality_index.py:789-1008).

    Returns temp columns (prefixed ``_w_``) that part 2 combines.  Staging the
    shared sub-expressions as real columns keeps every analyzed tree small —
    inlining them repeats the 9-term buffer ladders ~10x and drives Catalyst
    analysis into minutes.
    """
    ow_yes = proc_oneway.contains("yes")
    side = t("side")

    # --- lane-width sub-branch for shared traffic/bus lanes (:791-808)
    wl, wlf, wlb = t("width:lanes"), t("width:lanes:forward"), t("width:lanes:backward")
    c1 = (ow_yes | (wt != "shared bus lane")) & truthy(wl) & wl.contains("|")
    c2 = (wt == "shared bus lane") & ~ow_yes & (side == "right") & truthy(wlf) & wlf.contains("|")
    c3 = (wt == "shared bus lane") & ~ow_yes & (side == "left") & truthy(wlb) & wlb.contains("|")
    lanes_else = when(
        wt == "shared bus lane", P.DEFAULT_WIDTH_BUS_LANE
    ).otherwise(P.DEFAULT_WIDTH_TRAFFIC_LANE)
    pw0 = when(
        wt.isin(["shared traffic lane", "shared bus lane"]),
        when(c1, last_pipe_token_number(wl))
        .when(c2, last_pipe_token_number(wlf))
        .when(c3, last_pipe_token_number(wlb))
        .otherwise(lanes_else),
    )
    missing_width_lanes = (wt == "shared traffic lane") & ~c1

    # --- effective width / lane-count fallbacks (:810-820)
    we = get_number(t("width:effective"))
    w = get_number(t("width"))
    lanes = get_number(t("lanes"))
    pw1 = when(_nonzero(we), we).when(
        ~_nonzero(w) & _nonzero(lanes), lanes * P.DEFAULT_WIDTH_TRAFFIC_LANE
    )

    full = ~_nonzero(pw0) & ~_nonzero(pw1)

    # --- parking widths (:824-877)
    pl = fcoalesce(t("parking:left"), t("parking:both"))
    pr = fcoalesce(t("parking:right"), t("parking:both"))
    plo = fcoalesce(t("parking:left:orientation"), t("parking:both:orientation"))
    pro = fcoalesce(t("parking:right:orientation"), t("parking:both:orientation"))
    plw0 = get_number(t("parking:left:width"))
    prw0 = get_number(t("parking:right:width"))
    pbw = get_number(t("parking:both:width"))
    plw0 = when(_nonzero(pbw) & ~_nonzero(plw0), pbw).otherwise(plw0)
    prw0 = when(_nonzero(pbw) & ~_nonzero(prw0), pbw).otherwise(prw0)

    def park_width(p: Column, orient: Column, w0: Column) -> Column:
        w1 = when(
            p.isin(["lane", "half_on_kerb"]) & ~_nonzero(w0),
            when(orient == "diagonal", P.DEFAULT_WIDTH_PARKING_DIAGONAL)
            .when(orient == "perpendicular", P.DEFAULT_WIDTH_PARKING_PERPENDICULAR)
            .otherwise(P.DEFAULT_WIDTH_PARKING_PARALLEL),
        ).otherwise(w0)
        w2 = when(p == "half_on_kerb", w1 / 2).otherwise(w1)
        return _nzd(w2)

    prw = park_width(pr, pro, prw0)
    plw = park_width(pl, plo, plw0)

    # --- cycle-lane widths and buffers (:879-972); the resolved cwr/cwl
    # chains are staged by width_stage as _w_cwr/_w_cwl BEFORE this runs —
    # they are referenced many times below, and both Catalyst analysis and
    # Expression.sql duplicate shared subtrees per reference
    cwr = t("_w_cwr")
    cwl = t("_w_cwl")
    ow_tag = t("oneway")
    ow_no = falsy(ow_tag) | (ow_tag == "no")
    lane_any = (cwr == "lane") | (cwl == "lane")

    cww, cwbw = t("cycleway:width"), t("cycleway:both:width")
    cwrw = t("cycleway:right:width")
    cwlw = t("cycleway:left:width")
    cwrw = when(lane_any & truthy(cww) & falsy(cwrw), cww).otherwise(cwrw)
    cwlw = when(lane_any & truthy(cww) & falsy(cwlw) & ow_no, cww).otherwise(cwlw)
    cwrw = when(lane_any & truthy(cwbw) & falsy(cwrw), cwbw).otherwise(cwrw)
    cwlw = when(lane_any & truthy(cwbw) & falsy(cwlw), cwbw).otherwise(cwlw)
    cwrw_num = when(
        lane_any & (cwr == "lane") & falsy(cwrw), P.DEFAULT_WIDTH_CYCLE_LANE
    ).otherwise(_nzd(get_number(cwrw)))
    cwlw_num = when(
        lane_any & (cwl == "lane") & falsy(cwlw), P.DEFAULT_WIDTH_CYCLE_LANE
    ).otherwise(_nzd(get_number(cwlw)))

    def buffer_ladder(names: list[str]) -> Column:
        return fcoalesce(*[t(n) for n in names])

    # 9-term fallback chains (:938-960) — order is semantics
    crbl = when(lane_any & (cwr == "lane"), buffer_ladder([
        "cycleway:right:buffer:left", "cycleway:right:buffer:both", "cycleway:right:buffer",
        "cycleway:both:buffer:left", "cycleway:both:buffer:both", "cycleway:both:buffer",
        "cycleway:buffer:left", "cycleway:buffer:both", "cycleway:buffer"]))
    crbr = when(lane_any & (cwr == "lane"), buffer_ladder([
        "cycleway:right:buffer:right", "cycleway:right:buffer:both", "cycleway:right:buffer",
        "cycleway:both:buffer:right", "cycleway:both:buffer:both", "cycleway:both:buffer",
        "cycleway:buffer:right", "cycleway:buffer:both", "cycleway:buffer"]))
    clbl = when(lane_any & (cwl == "lane"), buffer_ladder([
        "cycleway:left:buffer:left", "cycleway:left:buffer:both", "cycleway:left:buffer",
        "cycleway:both:buffer:left", "cycleway:both:buffer:both", "cycleway:both:buffer",
        "cycleway:buffer:left", "cycleway:buffer:both", "cycleway:buffer"]))
    clbr = when(lane_any & (cwl == "lane"), buffer_ladder([
        "cycleway:left:buffer:right", "cycleway:left:buffer:both", "cycleway:left:buffer",
        "cycleway:both:buffer:right", "cycleway:both:buffer:both", "cycleway:both:buffer",
        "cycleway:buffer:right", "cycleway:buffer:both", "cycleway:buffer"]))

    def buffer_num(c: Column) -> Column:
        # `if not x or x == 'no' or x == 'none': x = 0` (:965-972); an
        # unparseable non-'no' token then yields NULL through getNumber,
        # poisoning the sum exactly like the reference's NULL arithmetic.
        return when(falsy(c) | c.isin(["no", "none"]), 0.0).otherwise(get_number(c))

    buffer_sum = buffer_num(crbl) + buffer_num(crbr) + buffer_num(clbl) + buffer_num(clbr)

    # carriageway default (:974-985)
    hw_default = _map_lookup(t("highway"), P.DEFAULT_HIGHWAY_WIDTH_DICT, P.DEFAULT_HIGHWAY_WIDTH_FALLBACK)
    missing_width = full & ~_nonzero(w)
    base_w = when(_nonzero(w), w).otherwise(
        # Python round() is banker's: round(2/1.6, 1) = 1.2, not 1.3 (:983)
        when(ow_yes, pyround(hw_default / 1.6, 1)).otherwise(hw_default)
    )

    return {
        "_w_pw0": pw0,
        "_w_pw1": pw1,
        "_w_full": full,
        "_w_missing_lanes": missing_width_lanes,
        "_w_missing_width": missing_width,
        "_w_missing_parking": full & ~truthy(pr) & ~truthy(pl) & (wt == "shared road"),
        "_w_has_parking": truthy(pr) | truthy(pl),
        "_w_prw": prw,
        "_w_plw": plw,
        "_w_pw2": base_w - cwrw_num - cwlw_num - buffer_sum,
        "_w_ow_yes": ow_yes,
    }


def _width_group_c_stage2(t: Tags, wt: Column) -> Column:
    """Shared roads/lanes, part 2: combine the ``_w_*`` temp columns
    (reference/cycling_quality_index.py:987-1008)."""
    pw2 = t("_w_pw2")
    ow_yes = t("_w_ow_yes")
    pw3 = when(t("_w_has_parking"), pw2 - t("_w_prw") - t("_w_plw")).otherwise(
        when(
            wt == "shared road",
            when(~ow_yes, F.least(pw2, F.lit(5.5))).otherwise(F.least(pw2, F.lit(4.0))),
        ).otherwise(pw2)
    )
    # min-lane floor (:1006-1008): 'width' in data_missing is a substring test,
    # but width:lanes misses never coexist with the full-derivation branch
    pw_full = when(
        (pw3 < P.DEFAULT_WIDTH_TRAFFIC_LANE) & t("_w_missing_width"),
        P.DEFAULT_WIDTH_TRAFFIC_LANE,
    ).otherwise(pw3)
    return (
        when(_nonzero(t("_w_pw0")), t("_w_pw0"))
        .when(_nonzero(t("_w_pw1")), t("_w_pw1"))
        .otherwise(pw_full)
    )


def _map_lookup(key: Column, mapping: dict, fallback=None) -> Column:
    expr = None
    for k, v in mapping.items():
        expr = when(key == k, v) if expr is None else expr.when(key == k, v)
    return expr.otherwise(fallback)


def _cwr_cwl_exprs(t: Tags) -> dict[str, Column]:
    """Resolved cycleway:right/left chains (:879-898) as temp columns."""
    cw, cwb = t("cycleway"), t("cycleway:both")
    ow_tag = t("oneway")
    ow_no = falsy(ow_tag) | (ow_tag == "no")
    cwr = t("cycleway:right")
    cwl = t("cycleway:left")
    cwr = when(truthy(cw) & falsy(cwr), cw).otherwise(cwr)
    cwl = when(truthy(cw) & falsy(cwl) & ow_no, cw).otherwise(cwl)
    cwr = when(truthy(cwb) & falsy(cwr), cwb).otherwise(cwr)
    cwl = when(truthy(cwb) & falsy(cwl), cwb).otherwise(cwl)
    return {"_w_cwr": cwr, "_w_cwl": cwl}


def width_stage(df: DataFrame, t: Tags) -> DataFrame:
    """proc_width + data_missing width flags
    (reference/cycling_quality_index.py:746-1013), staged through ``_w_*``
    temp columns to keep analyzed expression trees small."""
    wt = t("way_type")
    proc_oneway = t("proc_oneway")
    df = t.put(df, _cwr_cwl_exprs(t))
    df = t.put(df, _width_group_c_stage1(t, wt, proc_oneway))
    a_width, a_missing = _width_group_a(t, wt, proc_oneway)
    b_width, b_missing1, b_missing2 = _width_group_b(t, proc_oneway)
    c_width = _width_group_c_stage2(t, wt)

    in_a = wt.isin(_PATHISH) & (wt != "segregated path")
    in_b = wt == "segregated path"
    in_c = wt.isin([
        "shared road", "shared traffic lane", "shared bus lane", "bicycle road",
        "track or service",
    ])
    df = t.put(df, {
        "_w_pw": when(in_a, a_width).when(in_b, b_width).when(in_c, c_width)
    })
    df = t.put(df, {
        # trailing `if not proc_width: proc_width = NULL` (:1010-1011)
        "proc_width": when(_nonzero(t("_w_pw")), t("_w_pw")),
        "dm_width_lanes": in_c & t("_w_missing_lanes"),
        "dm_width_1": (in_a & a_missing) | (in_b & b_missing1) | (in_c & t("_w_missing_width")),
        "dm_width_2": in_b & b_missing2,
        "dm_parking": in_c & t("_w_missing_parking"),
    })
    return t.drop(df, "_w_")


_SURFACE_KEYS = list(P.SURFACE_FACTOR_DICT.keys())
_SMOOTHNESS_KEYS = list(P.SMOOTHNESS_FACTOR_DICT.keys())


def surface_stage(df: DataFrame, t: Tags) -> DataFrame:
    """proc_surface / proc_smoothness + their data_missing flags
    (reference/cycling_quality_index.py:1016-1095), staged through ``_s_*``
    temp columns: the bicycle-override (``ps0``) and merged (``ps1``)
    ladders are each referenced up to 29x by the unrolled weakest-surface
    gates, and shared subtrees are duplicated per reference by both
    Catalyst analysis and Expression.sql."""
    wt = t("way_type")
    sb = t("surface:bicycle")
    smb = t("smoothness:bicycle")
    df = t.put(df, {
        "_s_ps0": when(
            truthy(sb),
            when(sb.isin(_SURFACE_KEYS), sb).when(
                sb.contains(";"), weakest_surface_value(split_delimited(sb, ";"))
            ),
        ),
        "_s_psm0": when(truthy(smb) & smb.isin(_SMOOTHNESS_KEYS), smb),
    })
    ps0 = t("_s_ps0")
    psm0 = t("_s_psm0")

    seg = wt == "segregated path"
    hw_surface = _map_lookup(
        t("highway"), P.DEFAULT_HIGHWAY_SURFACE_DICT, P.DEFAULT_HIGHWAY_SURFACE_DICT["path"]
    )
    ps_seg = fcoalesce(t("cycleway:surface"), t("surface"), hw_surface)
    dm_surface_seg = falsy(t("cycleway:surface")) & falsy(t("surface"))
    psm_seg = fcoalesce(psm0, t("cycleway:smoothness"), t("smoothness"))
    dm_smooth_seg = falsy(psm0) & falsy(t("cycleway:smoothness")) & falsy(t("smoothness"))

    default_oth = (
        when(
            wt.isin([
                "cycle lane (advisory)", "cycle lane (exclusive)",
                "cycle lane (protected)", "cycle lane (central)",
            ]),
            P.DEFAULT_CYCLEWAY_SURFACE_LANES,
        )
        .when(wt == "cycle track", P.DEFAULT_CYCLEWAY_SURFACE_TRACKS)
        .when(
            wt == "track or service",
            _map_lookup(
                t("tracktype"), P.DEFAULT_TRACK_SURFACE_DICT,
                P.DEFAULT_TRACK_SURFACE_DICT["grade3"],
            ),
        )
        .otherwise(hw_surface)
    )
    ps_oth = when(truthy(t("surface")), t("surface")).otherwise(default_oth)
    dm_surface_oth = falsy(t("surface"))
    psm_oth = fcoalesce(psm0, t("smoothness"))
    dm_smooth_oth = falsy(psm0) & falsy(t("smoothness"))

    df = t.put(df, {
        "_s_ps1": when(truthy(ps0), ps0).otherwise(
            when(seg, ps_seg).otherwise(ps_oth)
        ),
        "_s_psm1": when(truthy(ps0), psm0).otherwise(
            when(seg, psm_seg).otherwise(psm_oth)
        ),
        "dm_surface": falsy(ps0)
        & when(seg, dm_surface_seg).otherwise(dm_surface_oth),
        "dm_smoothness": falsy(ps0)
        & when(seg, dm_smooth_seg).otherwise(dm_smooth_oth),
    })

    ps1 = t("_s_ps1")
    ps2 = when(
        ps1.contains(";"), weakest_surface_value(split_delimited(ps1, ";"))
    ).otherwise(ps1)
    df = t.put(df, {
        "proc_surface": when(ps2.isin(_SURFACE_KEYS), ps2),
        "proc_smoothness": when(t("_s_psm1").isin(_SMOOTHNESS_KEYS), t("_s_psm1")),
    })
    return t.drop(df, "_s_")


_MVP = ["motor_vehicle", "psv", "parking"]
_SIDEPATH_TYPES = ["cycle track", "shared path", "segregated path", "shared footway"]


def separation_stage(df: DataFrame, t: Tags) -> DataFrame:
    """Traffic modes, separation and buffers per side
    (reference/cycling_quality_index.py:1098-1214).  The resolved tml/tmr
    chains are staged as ``_sp_*`` temp columns first: tmr embeds tml, and
    the separation/buffer rules reference both repeatedly — shared
    subtrees are duplicated per reference by analysis/Expression.sql."""
    wt = t("way_type")
    side = t("side")
    central = wt == "cycle lane (central)"
    is_sidepath = t("proc_sidepath")

    pl = fcoalesce(t("parking:left"), t("parking:both"))
    pr = fcoalesce(t("parking:right"), t("parking:both"))
    tml1 = fcoalesce(t("traffic_mode:left"), t("traffic_mode:both"))
    tmr1 = fcoalesce(t("traffic_mode:right"), t("traffic_mode:both"))
    park_side = ((side == "right") & truthy(pr) & neq(pr, "no")) | (
        (side == "left") & truthy(pl) & neq(pl, "no")
    )
    tml = when(truthy(tml1), tml1).otherwise(
        when(wt == "cycle path", "no")
        .when(
            wt.isin(_SIDEPATH_TYPES) & (is_sidepath == "yes"),
            when(park_side & neq(tmr1, "parking"), "parking").otherwise("motor_vehicle"),
        )
        .when(
            wt.contains("cycle lane")
            | wt.isin(["shared road", "shared traffic lane", "shared bus lane", "crossing"]),
            "motor_vehicle",
        )
    )
    df = t.put(df, {"_sp_tml": tml})
    tml = t("_sp_tml")
    tmr = when(truthy(tmr1), tmr1).otherwise(
        when(wt == "cycle path", "no")
        .when(wt == "crossing", "motor_vehicle")
        .when(
            wt.contains("cycle lane"),
            when(park_side & neq(tml, "parking"), "parking").otherwise("foot"),
        )
        .when(wt.isin(_SIDEPATH_TYPES) & (is_sidepath == "yes"), "foot")
    )
    df = t.put(df, {"_sp_tmr": tmr})
    tmr = t("_sp_tmr")

    sl0 = fcoalesce(t("separation:left"), t("separation:both"))
    sr0 = fcoalesce(t("separation:right"), t("separation:both"))
    sep = t("separation")
    tml_mvp = tml.isin(_MVP)
    tml_not_mvp = tml.isNull() | ~tml.isin(_MVP)
    if P.RIGHT_HAND_TRAFFIC:
        sl1 = when(truthy(sep) & tml_mvp & falsy(sl0), sep).otherwise(sl0)
        sr1 = when(
            truthy(sep) & tml_not_mvp & (tmr == "motor_vehicle") & falsy(sr0), sep
        ).otherwise(sr0)
    else:  # pragma: no cover - left-hand traffic (reference/parameter.py:8 TODO)
        tmr_mvp = tmr.isin(_MVP)
        tmr_not_mvp = tmr.isNull() | ~tmr.isin(_MVP)
        sr1 = when(truthy(sep) & tmr_mvp & falsy(sr0), sep).otherwise(sr0)
        sl1 = when(
            truthy(sep) & tmr_not_mvp & (tml == "motor_vehicle") & falsy(sl0), sep
        ).otherwise(sl0)
    sl = when(falsy(sl1), "no").otherwise(sl1)
    sr = when(falsy(sr1), "no").otherwise(sr1)

    bl0 = get_number(t("buffer:left"))
    br0 = get_number(t("buffer:right"))
    bb = get_number(t("buffer:both"))
    b = get_number(t("buffer"))
    bl1 = when(_nonzero(bb) & ~_nonzero(bl0), bb).otherwise(bl0)
    br1 = when(_nonzero(bb) & ~_nonzero(br0), bb).otherwise(br0)
    if P.RIGHT_HAND_TRAFFIC:
        bl2 = when(_nonzero(b) & tml_mvp & ~_nonzero(bl1), b).otherwise(bl1)
        br2 = when(
            _nonzero(b) & tml_not_mvp & (tmr == "motor_vehicle") & ~_nonzero(br1), b
        ).otherwise(br1)
    else:  # pragma: no cover
        tmr_mvp = tmr.isin(_MVP)
        tmr_not_mvp = tmr.isNull() | ~tmr.isin(_MVP)
        br2 = when(_nonzero(b) & tmr_mvp & ~_nonzero(br1), b).otherwise(br1)
        bl2 = when(
            _nonzero(b) & tmr_not_mvp & (tml == "motor_vehicle") & ~_nonzero(bl1), b
        ).otherwise(bl1)

    df = t.put(df, {
        "proc_traffic_mode_left": when(central, "motor_vehicle").otherwise(tml),
        "proc_traffic_mode_right": when(central, "motor_vehicle").otherwise(tmr),
        "proc_separation_left": when(central, null("string")).otherwise(sl),
        "proc_separation_right": when(central, null("string")).otherwise(sr),
        "proc_buffer_left": when(central, null("double")).otherwise(bl2),
        "proc_buffer_right": when(central, null("double")).otherwise(br2),
    })
    return t.drop(df, "_sp_")


def mandatory_expr(t: Tags, proc_oneway: Column) -> Column:
    """proc_mandatory (reference/cycling_quality_index.py:1220-1256)."""
    wt = t("way_type")
    cw, cwb, cwr = t("cycleway"), t("cycleway:both"), t("cycleway:right")
    ow_yes = proc_oneway.contains("yes")
    lane_like = (
        cw.isin(["lane", "share_busway"])
        | cwb.isin(["lane", "share_busway"])
        | (ow_yes & cwr.isin(["lane", "share_busway"]))
    )
    track_like = (cw == "track") | (cwb == "track") | (ow_yes & (cwr == "track"))
    roadish = (
        when(
            t("bicycle").isin(["use_sidepath", "optional_sidepath"]), t("bicycle")
        )
        .when(lane_like, "use_sidepath")
        .when(track_like, "optional_sidepath")
    )

    # traffic-sign evaluation: last matching token decides; within a token the
    # mandatory match overwrites the not-mandatory one (:1243-1251).
    # Lambda-free form of the token fold (an F.aggregate here is
    # CodegenFallback): sign ids contain no ';', so a substring match in the full
    # ','->';' normalized string never crosses a token boundary, and the
    # fold's "last defined tok_val wins, mandatory beats not-mandatory
    # within a token" is exactly: compare the LAST ';'-token index holding
    # any mandatory sign (ties included) against the last holding any
    # not-mandatory sign.
    traffic_sign = t("traffic_sign")
    ts = F.replace(traffic_sign, F.lit(","), F.lit(";"))
    ts_rev = F.reverse(ts)
    ts_len = F.length(ts)

    def last_tok_idx(sign: str) -> Column:
        # 0-based index of the last token containing ``sign``; NULL if absent
        pos_rev = F.instr(ts_rev, sign[::-1])
        prefix = ts.substr(F.lit(1), ts_len - pos_rev + 1)
        return when(
            pos_rev > 0,
            F.length(prefix) - F.length(F.replace(prefix, F.lit(";"), F.lit(""))),
        )

    def sign_val() -> Column:
        m_tok = F.greatest(*[last_tok_idx(s) for s in P.MANDATORY_TRAFFIC_SIGN_LIST])
        n_tok = F.greatest(*[last_tok_idx(s) for s in P.NOT_MANDATORY_TRAFFIC_SIGN_LIST])
        return (
            when(m_tok.isNotNull() & (n_tok.isNull() | (m_tok >= n_tok)), "yes")
            .when(n_tok.isNotNull(), "no")
        )

    # without a traffic_sign tag the arm is dead: skip building its tree
    pathish = when(
        (t("proc_sidepath") == "yes") & truthy(traffic_sign),
        null("string") if is_null(traffic_sign) else sign_val(),
    )
    base = when(wt.isin(_ROADISH), roadish).otherwise(pathish)
    prohibited = t("highway").isin(P.CYCLING_HIGHWAY_PROHIBITION_LIST) | (
        t("bicycle") == "no"
    )
    return when(prohibited, "prohibited").otherwise(base)


def derive_attributes(df: DataFrame) -> DataFrame:
    """Apply the whole stage-4 derivation."""
    t = Tags(df, per_operator=True)
    df = t.put(df, {"proc_oneway": oneway_expr(t)})
    df = width_stage(df, t)
    df = surface_stage(df, t)
    df = separation_stage(df, t)
    df = t.put(df, {
        "proc_mandatory": mandatory_expr(t, t("proc_oneway")),
        "proc_traffic_sign": t("traffic_sign"),
    })
    # usable/way-type filter columns (:1264-1278)
    df = t.put(df, {
        "filter_usable": when(
            t("proc_mandatory").isin(["prohibited", "use_sidepath"]), 0
        ).otherwise(1),
        "filter_way_type": (
            when(
                t("way_type").isin([
                    "cycle path", "cycle track", "shared path", "segregated path",
                    "shared footway", "cycle lane (protected)",
                ]),
                "separated",
            )
            .when(
                t("way_type").isin([
                    "cycle lane (advisory)", "cycle lane (exclusive)",
                    "cycle lane (central)", "link", "crossing",
                ]),
                "cycle lanes",
            )
            .when(t("way_type") == "bicycle road", "bicycle road")
            .when(
                t("way_type").isin([
                    "shared road", "shared traffic lane", "shared bus lane",
                    "track or service",
                ]),
                "shared traffic",
            )
        ),
        "data_missing_width": when(
            t("dm_width_1") | t("dm_width_2"), 1
        ).cast("int"),
        "data_missing_surface": when(t("dm_surface"), 1).cast("int"),
        "data_missing_smoothness": when(t("dm_smoothness"), 1).cast("int"),
        "data_missing_parking": when(t("dm_parking"), 1).cast("int"),
    })
    return df
