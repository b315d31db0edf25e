"""Offset split: spawn separate left/right cycleway & sidewalk geometries
from centerline tags (SURVEY.md §2 P8, G4, U2, F2;
reference/cycling_quality_index.py:370-503).

The reference writes each offset layer separately and merges them back
(``native:mergevectorlayers``, :503).  Here one pass does both: every
centerline row is exploded into itself (branch id 0) plus one row per
non-NULL branch offset (ids 1-4), and each overwritten column is one CASE on
the branch id whose arms are the reference's per-side ``deriveAttribute``
writebacks (:470-496).  The plan stays linear, so the scalar chain after it
is optimized, compiled and run once rather than once per branch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import params as P
from ..functions.fold import FALSE, TRUE, Tags, is_null, when
from ..functions.nulls import neq
from ..functions.tags import derive_attribute, get_number
from ..geo.udfs import make_offset_udf

_LTS_SET = ["lane", "track", "share_busway"]
_YDP = ["yes", "designated", "permissive"]


def _offset_value(width_based: Column, mode) -> Column:
    """Offset distance per parameter mode (reference/cycling_quality_index.py:391-420):
    'realistic' derives from the road width, otherwise a static number."""
    if mode == "realistic":
        return width_based
    return F.lit(float(mode))


def offset_flags(df: DataFrame, t: Tags, mode=None) -> DataFrame:
    """offset_cycleway_left/right, offset_sidewalk_left/right
    (reference/cycling_quality_index.py:376-448)."""
    mode = P.OFFSET_DISTANCE if mode is None else mode
    width = get_number(t("width"))
    hw_default = F.lit(P.DEFAULT_HIGHWAY_WIDTH_FALLBACK)
    for k, v in P.DEFAULT_HIGHWAY_WIDTH_DICT.items():
        hw_default = when(t("highway") == k, F.lit(v)).otherwise(hw_default)
    width = when(width.isNotNull() & (width != 0.0), width).otherwise(hw_default)

    cw, cwb = t("cycleway"), t("cycleway:both")
    cwl, cwr = t("cycleway:left"), t("cycleway:right")
    # null-safe: reference Python `highway != 'cycleway'` is True for a NULL
    # highway (:377), so the branch still spawns; a raw != would yield NULL
    not_cycleway = neq(t("highway"), "cycleway")
    cyc_left = not_cycleway & (cw.isin(_LTS_SET) | cwb.isin(_LTS_SET) | cwl.isin(_LTS_SET))
    cyc_right = not_cycleway & (cw.isin(_LTS_SET) | cwb.isin(_LTS_SET) | cwr.isin(_LTS_SET))

    sb, sbb = t("sidewalk:bicycle"), t("sidewalk:both:bicycle")
    sbl, sbr = t("sidewalk:left:bicycle"), t("sidewalk:right:bicycle")
    sw_left = sb.isin(_YDP) | sbb.isin(_YDP) | sbl.isin(_YDP)
    sw_right = sb.isin(_YDP) | sbb.isin(_YDP) | sbr.isin(_YDP)

    return t.put(df, {
        "offset_cycleway_left": when(cyc_left, _offset_value(width / 2, mode)),
        "offset_cycleway_right": when(cyc_right, _offset_value(width / 2, mode)),
        "offset_sidewalk_left": when(sw_left, _offset_value(width / 2 + 2, mode)),
        "offset_sidewalk_right": when(sw_right, _offset_value(width / 2 + 2, mode)),
    })


#: branch ids 1-4 in the reference's layer order (:456-503); 0 is the
#: centerline row
_BRANCHES = [(typ, side) for side in ("left", "right") for typ in ("cycleway", "sidewalk")]
#: the pipeline columns a branch writes; the stage outputs them even when no
#: row spawns a branch
_BRANCH_COLS = ["offset", "type", "side", "proc_sidepath", "proc_highway", "proc_maxspeed"]


def _branch_updates(t: Tags, typ: str, side: str) -> dict[str, Column]:
    """Per-side attribute writebacks of one branch
    (reference/cycling_quality_index.py:456-496), read from the input row."""
    offset_col = f"offset_{typ}_{side}"

    # surface/smoothness transfer condition (:476-479): cycle *lanes* share the
    # road surface unless a track or an explicit tag says otherwise; the
    # reference compares `!= NULL` (not falsy!) on the explicit tags
    is_track = (
        (t(f"cycleway:{side}") == "track")
        | (t("cycleway:both") == "track")
        | (t("cycleway") == "track")
    )

    def explicit(attr: str) -> Column:
        return (
            t(f"{typ}:{side}:{attr}").isNotNull()
            | t(f"{typ}:both:{attr}").isNotNull()
            | t(f"{typ}:{attr}").isNotNull()
        )

    sidewalk = TRUE if typ == "sidewalk" else FALSE
    surface_ok = sidewalk | is_track | explicit("surface")
    smooth_ok = sidewalk | is_track | explicit("smoothness")

    updates: dict[str, Column] = {
        # the stored offset attribute is the positive distance for both sides
        # (:462); the sign only applies to the geometry offset direction
        "offset": t(offset_col),
        "type": typ,
        "side": side,
        "proc_sidepath": "yes",
        "proc_highway": t("highway"),
        # QGIS coerces the raw maxspeed string into the Int column (:468)
        "proc_maxspeed": t("maxspeed").try_cast("int"),
        "width": derive_attribute(t, "width", typ, side, "float"),
        "oneway": derive_attribute(t, "oneway", typ, side, "str"),
        "oneway:bicycle": derive_attribute(t, "oneway:bicycle", typ, side, "str"),
        "traffic_sign": derive_attribute(t, "traffic_sign", typ, side, "str"),
        "surface": when(surface_ok, derive_attribute(t, "surface", typ, side, "str")).otherwise(t("surface")),
        "smoothness": when(smooth_ok, derive_attribute(t, "smoothness", typ, side, "str")).otherwise(t("smoothness")),
    }
    if typ == "cycleway":
        for attr in [
            "separation", "separation:both", "separation:left", "separation:right",
            "buffer", "buffer:both", "buffer:left", "buffer:right",
            "traffic_mode:both", "traffic_mode:left", "traffic_mode:right",
            "surface:colour",
        ]:
            updates[attr] = derive_attribute(t, attr, typ, side, "str")
    return updates


def _by_branch(bid: Column, values: dict[int, Column], default: Column | None = None) -> Column:
    """One CASE on the branch id; rows of branches absent from ``values``
    keep ``default`` (NULL when None)."""
    out = None
    for i, v in values.items():
        out = when(bid == i, v) if out is None else out.when(bid == i, v)
    return out if default is None else out.otherwise(default)


def offset_stage(df: DataFrame, mode=None) -> DataFrame:
    """Flags + the centerline row and its offset branches in one pass (U2)."""
    mode = P.OFFSET_DISTANCE if mode is None else mode
    t = Tags(df, per_operator=True)
    df = offset_flags(df, t, mode)
    # one row per centerline plus one per non-NULL branch offset (the
    # reference's per-layer filters + native:mergevectorlayers, :456-503);
    # a branch whose offset is NULL on every row spawns nothing
    spawn = {i: when(t(f"offset_{typ}_{side}").isNotNull(), i)
             for i, (typ, side) in enumerate(_BRANCHES, 1)}
    live = [i for i, c in spawn.items() if not is_null(c)]
    if not live:
        return t.put(df, {n: t(n) for n in _BRANCH_COLS if n not in t})
    df = t.put(df, {"_branch": F.explode(F.array_compact(F.array(
        F.lit(0), *[spawn[i] for i in live])))})
    b = t("_branch")

    per_branch = {i: _branch_updates(t, *_BRANCHES[i - 1]) for i in live}
    names = dict.fromkeys(n for u in per_branch.values() for n in u)
    updates = {
        name: _by_branch(b, {i: u[name] for i, u in per_branch.items() if name in u},
                         t(name))
        for name in names
    }
    # geometry offset (G4) only when a non-zero distance is configured;
    # the default static offset 0 keeps geometry identical (:442-448).
    # The signed distance is NULL on centerline rows, which the UDF passes
    # through unchanged.
    if mode == "realistic" and "geometry" in t:
        dist = _by_branch(b, {
            i: t(f"offset_{typ}_{side}") * F.lit(1.0 if side == "left" else -1.0)
            for i, (typ, side) in enumerate(_BRANCHES, 1) if i in live
        })
        updates["geometry"] = make_offset_udf()(t("geometry"), dist)
    return t.drop(t.put(df, updates), "_branch")
