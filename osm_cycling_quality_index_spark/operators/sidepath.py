"""Sidepath detection: cell-bucketed spatial join + majority vote
(SURVEY.md §2.3 J1/J1a/J2, §2.4 A1-A9).

The reference runs one ``native:selectbylocation`` per 22 m check-point buffer
in a Python loop (reference/cycling_quality_index.py:234-248) and accumulates
votes in a driver-side dict (:250-288).  Here:

1. check points every 100 m along each path + endpoint (G1+G2+U1);
2. each check point takes its single res-9 hexcell; the roads side expands to
   grid_disk(1) — the 22 m disc is strictly inside ring 1 (edge 174 m,
   property-tested);
3. road polylines explode to segments with covering cells sampled at half the
   cell edge, guaranteeing cell overlap for any candidate within 22 m — the
   same segment/cell source as the geotag and kNN joins
   (``images._way_segments_cells``);
4. equi-join on (cell) + same-layer predicate (J1a), exact point-to-segment
   distance refine, distinct (way, check point, road);
5. ``groupBy`` votes replace the driver-side dict: a path is a sidepath when
   >= 2/3 of its check points see the same road id, highway class or name
   (== all of them when checks <= 2, :317-341).

Scale notes: the join shuffles on cell ids; AQE skew-join handles dense urban
cells, and the roads side is broadcast when small.  Only ids + 4 doubles +
join keys flow through the shuffle — never geometry arrays or payload bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import params as P
from ..functions.fold import Tags
from ..functions.nulls import truthy
from ..functions.tags import get_number, normalize_maxspeed
from ..geo.cols import hex_cell_cols
from ..geo.udfs import checkpoints_udf, point_segment_distance_cols
from .images import _way_segments_cells

_RES = 9  # hexcell resolution: 22 m disc fits in ring-1 (edge ~174 m)


def _check_points(paths: DataFrame) -> DataFrame:
    """(id, layer, chk_idx, px, py) — one row per check point."""
    return (
        paths.select("id", "layer", F.posexplode(checkpoints_udf("geometry")).alias("chk_idx", "pt"))
        .select("id", "layer", "chk_idx", F.col("pt.px").alias("px"), F.col("pt.py").alias("py"))
    )


def _road_segments(roads: DataFrame) -> DataFrame:
    """(road_id, road_layer, road_highway, road_name, road_maxspeed,
    ax..by, cell) — road polylines exploded to segments x covering cells,
    ring-expanded on the small (roads) side so path check points join on a
    single cell each.  The roads come from the stage's fanned-out input, so
    no second exchange is added here."""
    return _way_segments_cells(roads, _RES, 1, carry=(
        F.col("id").alias("road_id"),
        F.col("layer").alias("road_layer"),
        F.col("highway").alias("road_highway"),
        F.col("name").alias("road_name"),
        get_number(F.col("maxspeed")).alias("road_maxspeed"),
    ))


def sidepath_votes(paths: DataFrame, roads: DataFrame) -> DataFrame:
    """One row per path id with vote results:
    (id, checks, vote_yes, derived_class, class_maxspeeds map, vote_name)."""
    pts = _check_points(paths)
    pts_cells = pts.withColumn(
        "cell", hex_cell_cols(F.col("px"), F.col("py"), _RES)
    )
    rsegs = _road_segments(roads)

    cand = pts_cells.join(rsegs, on="cell", how="inner").where(
        # J1a: only roads in the same OSM layer (:255-257); QGIS compares with
        # Python != where NULL == NULL holds
        F.col("layer").eqNullSafe(F.col("road_layer"))
    )
    hits = (
        cand.where(
            point_segment_distance_cols(
                F.col("px"), F.col("py"), F.col("ax"), F.col("ay"),
                F.col("bx"), F.col("by"),
            )
            <= F.lit(P.SIDEPATH_BUFFER_SIZE)
        )
        .select("id", "chk_idx", "road_id", "road_highway", "road_name", "road_maxspeed")
        # a (check point, road) pair counts once no matter how many segments
        # or cells matched (:250-269 dedupes via id_list/highway_list)
        .groupBy("id", "chk_idx", "road_id", "road_highway", "road_name")
        .agg(F.max("road_maxspeed").alias("road_maxspeed"))
    )

    checks = pts.groupBy("id").agg(F.count(F.lit(1)).alias("checks")).persist()
    from .dedup import pin_session

    pin_session(paths.sparkSession, checks.unpersist)

    # All six vote results (A1-A9) reduce over the same hits frame keyed by
    # (id, <road_id | highway | name>).  The previous shape ran SIX
    # aggregate branches off a persisted hits cache and re-joined them with
    # six per-id left joins — ~0.4 s of fixed stage latency per branch at
    # bench scale (57 static exchanges).  Instead: explode each hit row
    # into its three vote dimensions once (map-side, 3x the ids-only hit
    # rows — the payload is four short columns), aggregate ONE
    # (kind, id, key) count table, and reduce it to one row per id in a
    # single grouped pass.  Vote semantics are bit-identical:
    #
    # * flags: max(flag) over each kind's rows == the per-vote() max;
    # * derived_class (A7): max(struct(cnt, -rank, key)) == row_number
    #   over (cnt DESC, rank ASC) — highest count, tie to lowest rank
    #   (ties beyond that are data-impossible: rank is injective on the
    #   class list and NULL/unlisted classes share the last rank only if
    #   two such classes tie exactly, where the old window order was
    #   nondeterministic anyway);
    # * vote_name (A8): min(struct(-cnt, name)) == row_number over
    #   (cnt DESC, name ASC NULLS FIRST) — struct ordering puts NULL
    #   fields first, verified by test;
    # * class_maxspeeds (A5/A9): the same (id, highway) groups, folded to
    #   a map in the same pass.
    expl = hits.select(
        "id", "chk_idx", "road_maxspeed",
        F.explode(F.array(
            F.struct(F.lit("i").alias("kind"), F.col("road_id").alias("key")),
            F.struct(F.lit("h").alias("kind"), F.col("road_highway").alias("key")),
            F.struct(F.lit("n").alias("kind"), F.col("road_name").alias("key")),
        )).alias("e"),
    ).select("id", "chk_idx", "road_maxspeed", F.col("e.kind").alias("kind"),
             F.col("e.key").alias("key"))
    counts = expl.groupBy("kind", "id", "key").agg(
        F.countDistinct("chk_idx").alias("cnt"),
        # only read for kind='h' (max maxspeed per (way, class), A5)
        F.max("road_maxspeed").alias("ms"),
    )

    # A7 rank: most frequent highway class, ties -> highest rank in
    # HIGHWAY_CLASS_LIST (:345-354); NULL class ranks last
    rank_expr = F.lit(len(P.HIGHWAY_CLASS_LIST) - 1)
    for i, cls in enumerate(P.HIGHWAY_CLASS_LIST):
        if cls is not None:
            rank_expr = F.when(F.col("key") == cls, F.lit(i)).otherwise(rank_expr)

    flag = F.when(
        F.col("checks") <= 2, F.col("cnt") == F.col("checks")
    ).otherwise(F.col("cnt") >= F.col("checks") * 0.66)
    is_h = F.col("kind") == "h"
    is_n = F.col("kind") == "n"
    per_id = (
        counts.join(checks, "id")
        .groupBy("id")
        .agg(
            F.max(F.when(F.col("kind") == "i", flag)).alias("vote_road_id"),
            F.max(F.when(is_h, flag)).alias("vote_road_highway"),
            F.max(F.when(is_n, flag)).alias("vote_road_name"),
            F.max(F.when(is_h, F.struct(
                F.col("cnt"), (-rank_expr).alias("nrank"), F.col("key"),
            ))).alias("_dc"),
            F.min(F.when(is_n, F.struct(
                (-F.col("cnt")).alias("nc"), F.col("key"),
            ))).alias("_nm"),
            F.map_from_entries(F.collect_list(F.when(is_h, F.struct(
                F.coalesce(F.col("key"), F.lit("~~null~~")), F.col("ms"),
            )))).alias("class_maxspeeds"),
        )
    )

    out = checks.join(per_id, "id", "left")
    return out.withColumn(
        "vote_yes",
        F.coalesce(F.col("vote_road_id"), F.lit(False))
        | F.coalesce(F.col("vote_road_highway"), F.lit(False))
        | F.coalesce(F.col("vote_road_name"), F.lit(False)),
    ).select(
        "id", "checks", "vote_yes",
        F.col("_dc.key").alias("derived_class"),
        "class_maxspeeds",
        F.col("_nm.key").alias("vote_name"),
    )


def sidepath_stage(df: DataFrame) -> DataFrame:
    """Full stage 1: split paths/roads, vote, write back
    proc_sidepath/proc_highway/proc_maxspeed and the transferred name
    (reference/cycling_quality_index.py:210-366).

    The stage's cost is the pandas-UDF geometry sampling inside
    :func:`sidepath_votes` — fan the input out first so that per-row
    work runs at the cluster's width instead of the upstream scan's
    (one-row-group local fixtures scan as 1-2 partitions; already-wide
    or shuffled inputs — the cluster case — pass through untouched).
    Every downstream consumer is an aggregate or an id-equi-join, so
    layout never affects results."""
    from .dedup import fan_out

    t = Tags(df)
    # the vote join reads these tags by name: an absent one is a NULL column
    missing = [n for n in ("layer", "name", "maxspeed") if n not in t]
    if missing:
        df = df.withColumns({n: F.lit(None).cast("string") for n in missing})
    df = fan_out(df)
    highway = t("highway")
    is_path = highway.isin(P.PATH_HIGHWAY_LIST)
    paths = df.filter(is_path)
    # P4: QGIS `IS NOT` keeps NULL highway in the roads layer (:219)
    roads = df.filter(
        highway.isNull() | ~highway.isin(P.PATH_HIGHWAY_LIST + ["track"])
    )
    votes = sidepath_votes(paths, roads)

    out = df.join(votes, "id", "left")

    tag = t("is_sidepath")
    tag = F.when(t("footway") == "sidewalk", F.lit("yes")).otherwise(tag)
    proc_sidepath = F.when(
        truthy(tag), tag
    ).otherwise(F.when(F.col("vote_yes"), F.lit("yes")).otherwise(F.lit("no")))

    is_sidepath_of = F.when(truthy(t("is_sidepath:of")), t("is_sidepath:of")).otherwise(
        F.when(proc_sidepath == "yes", F.col("derived_class"))
    )
    vote_ms = F.col("class_maxspeeds")[F.coalesce(is_sidepath_of, F.lit("~~null~~"))]
    path_maxspeed = F.when(
        (proc_sidepath == "yes") & truthy(is_sidepath_of) & (vote_ms.isNotNull()) & (vote_ms != 0.0),
        vote_ms,
    )

    out = out.withColumns({
        "proc_sidepath": F.when(is_path, proc_sidepath),
        "proc_highway": F.when(is_path, is_sidepath_of).otherwise(highway),
        "proc_maxspeed": F.when(
            is_path, path_maxspeed
        ).otherwise(normalize_maxspeed(F.col("maxspeed"), highway)).cast("int"),
        "name": F.when(
            is_path & (proc_sidepath == "yes") & truthy(F.col("vote_name")),
            F.col("vote_name"),
        ).otherwise(F.col("name")),
    })
    return out.drop(
        "checks", "vote_yes", "derived_class", "class_maxspeeds", "vote_name"
    )
