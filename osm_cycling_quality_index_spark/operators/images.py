"""Image-side operators (graft axes A+B, BASELINE.json north_rule):

* J3 geotag join — each image row is matched to its nearest way segment;
* J4 kNN way-matching — cell-ring expansion + per-image top-k window;
* J5 raster-tile <-> vector-way assignment — DDA line rasterization into a
  metric tile grid, plus ray-cast point-in-tile membership;
* payload verification — Arrow-batched decode of the binary column with
  phash re-computation (PSNR vs source pixels is asserted in tests where the
  source is available).

Scale design: candidates are generated by hexcell equi-joins (never a cross
join); ``bytes`` stays out of every shuffle — joins carry (image_id, lon,
lat, cell) only and payloads re-attach by a final id-equi-join.

J3, J4 and the sidepath vote (J1, ``operators/sidepath.py``) share one
spatial-join core: the shuffle cell join plus exact distance refine
(``_cell_pairs``), the broadcast CSR index (``_csr_level``, with the
``_csr_pairs`` kernel; ``_broadcast_join`` drives it for J3 and J4), and
the way segment/cell rows.
Those rows have two forms over the one segmentation kernel
``geo.cells.segment_cells``, held equal bit for bit by test:
``_way_segments_cells`` in Spark (the shuffle forms) and ``_csr_level`` on
the driver, which builds the broadcast index faster than collecting the
Spark rows.  The shuffle and broadcast forms differ only in their exchange
and are bit-identical by test.  One capacity rule,
:func:`_broadcast_index`, picks the form of ``geotag_join``, the sidepath
vote and ``pip_join``: broadcast when the index as built fits
``spark.sql.autoBroadcastJoinThreshold``, and always for a streaming fact
side; the shuffle form serves dimensions too big for the driver.  AQE
skew-join splitting (``session.get_spark``: 8 MB threshold, factor 2) is
the one skew mechanism for hot cells in the shuffle form: the
``geotag_hotcell`` benchmark, with 25% of its points in one res-8 cell,
measured a task skew (max/median task time) of 1.01-1.18 there.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from ..geo import cells as C
from ..geo.cols import hex_cell_cols, hex_disk_of_cell_cols
from ..geo.udfs import (
    decode,
    make_segments_udf,
    map_ways,
    point_segment_distance_cols,
)
from ..geo.kernels import LAT0, LON0, MPD_X, MPD_Y

_TILE_TYPE = ArrayType(LongType())


def pack_tile(tx, ty):
    """Packed tile id of grid tile ``(tx, ty)``: ints or int64 arrays."""
    return (tx + (1 << 30)) << 31 | (ty + (1 << 30)) & ((1 << 31) - 1)


def make_way_tiles_udf(tile_size_m: float):
    """Geometry -> packed tile ids the way's segments touch (J5)."""
    from ..geo.kernels import project, rasterize_segment_tiles

    def tiles(lon, lat):
        x, y = project(lon, lat)
        hit = {t for i in range(len(x) - 1) for t in rasterize_segment_tiles(
            x[i], y[i], x[i + 1], y[i + 1], tile_size_m)}
        tx, ty = np.array(list(hit), dtype=np.int64).reshape(-1, 2).T
        return (np.sort(pack_tile(tx, ty)),)

    @F.arrow_udf(_TILE_TYPE)
    def way_tiles(geom: pa.Array) -> pa.Array:
        return map_ways(_TILE_TYPE, tiles, geom)

    return way_tiles


def way_tile_assignment(ways: DataFrame, tile_size_m: float = 500.0) -> DataFrame:
    """(tile_id, way_id) membership rows (J5).  The rasterization UDF is
    the per-row cost — fan a narrow scan out first (no-op when wide)."""
    from .dedup import fan_out

    ways = fan_out(ways)
    return (
        ways.select(
            F.col("id").alias("way_id"),
            F.explode(make_way_tiles_udf(tile_size_m)("geometry")).alias("tile_id"),
        )
        .distinct()
    )


def make_polygon_tiles_udf(tile_size_m: float):
    """Polygon ring -> packed ids of tiles whose CENTER lies inside the
    polygon (ray-cast PIP with bbox prefilter, G5; the north_star's
    raster-tile <-> vector assignment for area features).  The candidate set
    is the bbox tile grid; the exact test is :func:`geo.kernels.ray_cast_pip`
    on the tile centers."""
    from ..geo.kernels import project, ray_cast_pip

    def tiles(lon, lat):
        x, y = project(lon, lat)
        tx0, tx1 = math.floor(x.min() / tile_size_m), math.floor(x.max() / tile_size_m)
        ty0, ty1 = math.floor(y.min() / tile_size_m), math.floor(y.max() / tile_size_m)
        txs, tys = np.meshgrid(np.arange(tx0, tx1 + 1), np.arange(ty0, ty1 + 1))
        txs, tys = txs.ravel(), tys.ravel()
        cx = (txs + 0.5) * tile_size_m
        cy = (tys + 0.5) * tile_size_m
        inside = ray_cast_pip(cx, cy, x, y)
        return (np.sort(pack_tile(txs[inside], tys[inside])),)

    @F.arrow_udf(_TILE_TYPE)
    def polygon_tiles(geom: pa.Array) -> pa.Array:
        return map_ways(_TILE_TYPE, tiles, geom, min_vertices=3)

    return polygon_tiles


def polygon_tile_assignment(polys: DataFrame, tile_size_m: float = 500.0) -> DataFrame:
    """(poly_id, tile_id) rows: tiles whose center the polygon contains (J5
    area side + G5).  The polygon side is the small dimension table — the UDF
    runs per polygon; the tile side never materializes beyond the bbox grid."""
    return polys.select(
        F.col("poly_id"),
        F.explode(make_polygon_tiles_udf(tile_size_m)("geometry")).alias("tile_id"),
    )


def make_covering_cells_udf(res: int):
    """Polygon ring -> hex cells covering the polygon's bbox (dilated by one
    cell circumradius) — the candidate superset for :func:`pip_join`.  The
    dilated bbox is sampled at the cell inradius, which guarantees every
    cell whose region intersects the bbox contributes at least one sample
    (a grid of step h hits any disk of radius >= h/sqrt(2))."""
    from ..geo.kernels import project

    edge = C.hex_edge_m(res)
    step = edge * math.sqrt(3.0) / 2.0  # inradius

    def cells(lon, lat):
        x, y = project(lon, lat)
        xs = np.arange(x.min() - edge, x.max() + edge + step, step)
        ys = np.arange(y.min() - edge, y.max() + edge + step, step)
        gx, gy = np.meshgrid(xs, ys)
        return (np.unique(C.hex_encode_xy(gx.ravel(), gy.ravel(), res)),)

    @F.arrow_udf(_TILE_TYPE)
    def covering(geom: pa.Array) -> pa.Array:
        return map_ways(_TILE_TYPE, cells, geom, min_vertices=3)

    return covering


def pip_join(points: DataFrame, polys: DataFrame, res: int = 9) -> DataFrame:
    """Broadcast cell-bucketed point-in-polygon join (north_star: "joined
    via broadcast-or-shuffle cell-bucketed point-in-polygon (ray-casting
    with prepared bbox prefilter)").

    The polygon dimension explodes to its bbox's covering hex cells (pandas
    UDF over the small side); each point computes its single cell in column
    math and equi-joins the broadcast cell table — the fact side is never
    shuffled.  The exact ray-cast refine has two physical strategies:

    * polygon side fits a broadcast (the broadcast regime, decided by
      :func:`_broadcast_index` on the projected rings as built): the rings
      ship once per worker via ``sc.broadcast`` and the refine is the
      Arrow-batched numpy kernel (``geo.kernels.ray_cast_pip``), vectorized
      over all of a polygon's candidate points per batch.
    * larger polygon side (the shuffle regime): the candidate cell join
      carries IDS ONLY (geometry never rides the wide shuffle); rings
      re-attach dimension-side by one poly_id equi-join, and the refine is
      the SAME Arrow-batched numpy kernel, grouped per polygon within each
      batch (the ring is projected once per unique polygon per batch).

    ``res`` sets the prefilter selectivity and should sit at or just below
    the typical polygon scale (cell edge <= poly bbox edge): measured at
    sf0.1 (0.4-2.1 km polys), res 7 over-selects 39x (4.78 M candidates
    for 123.6 k hits, refine-bound at 8-20 s) while res 9 (~174 m edge)
    over-selects 4.7x (585 k candidates, 5.5 s end-to-end) — the covering
    stays exact at every res, so this is pure physics, not semantics.

    Output: (image_id, poly_id)."""
    from ..geo.kernels import project, ray_cast_pip

    # the points side is the fact table: the per-candidate ray-cast refine
    # (and in the broadcast regime the whole candidate join) runs at ITS
    # width, and a one-row-group local scan pins that at 1-2 partitions —
    # measured at sf0.1 the refine was a single-task 5.5 s stage vs 1.4 s
    # fanned out.  Already-wide inputs (the cluster case) pass through
    # untouched, so the "fact side never shuffled at scale" contract holds.
    from .dedup import fan_out, pin_session

    points = fan_out(points)
    pcells = polys.select(
        "poly_id", "geometry",
        F.explode(make_covering_cells_udf(res)("geometry")).alias("cell"),
    )
    px = (F.col("lon") - F.lit(LON0)) * F.lit(MPD_X)
    py = (F.col("lat") - F.lit(LAT0)) * F.lit(MPD_Y)
    pts = points.select(
        "image_id", px.alias("px"), py.alias("py"),
        hex_cell_cols(px, py, res).alias("cell"),
    )

    def build_rings(polys):
        # persist the polygon side: the broadcast regime scans it again for
        # the covering-cell explode, and a recomputed nondeterministic
        # lineage could make rings and cells disagree.  pcells above was
        # built from the same analyzed subtree, so it reads this cache too.
        polys.persist()
        tbl = polys.select("poly_id", "geometry").toArrow()
        lon, lat, off = decode(tbl.column("geometry"))
        # mirror make_covering_cells_udf: degenerate rings emit no cells,
        # so they can never reach the refine
        return {p: project(lon[s:e], lat[s:e]) for p, s, e in zip(
            tbl.column("poly_id").to_pylist(), off[:-1], off[1:]) if e - s >= 3}

    rings = _broadcast_index(polys, build_rings)
    if rings is None:
        polys.unpersist()
    else:
        # the rings broadcast (ids + projected coordinates only) and the
        # polys persist are registered with the dedup module's session
        # registry: repeated pip_join calls over different polygon sets in
        # a long-lived session would otherwise accumulate driver/executor
        # memory until session end.  release_session_pinned(spark) frees
        # them once the join output is consumed (the returned frame is not
        # re-executable afterwards).
        bc = points.sparkSession.sparkContext.broadcast(rings)

        def _release(bc=bc, frame=polys):
            frame.unpersist()
            bc.destroy()

        pin_session(points.sparkSession, _release)

        @F.pandas_udf("boolean")
        def _inside(poly_id: pd.Series, qx: pd.Series, qy: pd.Series) -> pd.Series:
            out = np.zeros(len(poly_id), dtype=bool)
            xs = qx.to_numpy(np.float64)
            ys = qy.to_numpy(np.float64)
            # one hash pass to group rows by polygon (an equality scan per
            # unique poly would be O(unique x batch) — measured 8x slower
            # than the column path at sf0.1), then one vectorized ray-cast
            # over each polygon's candidate points
            for p, ix in poly_id.groupby(poly_id, sort=False).indices.items():
                rx, ry = bc.value[p]
                out[ix] = ray_cast_pip(xs[ix], ys[ix], rx, ry)
            return pd.Series(out)

        pairs = pts.join(F.broadcast(pcells.drop("geometry")), "cell")
        return pairs.where(
            _inside(F.col("poly_id"), F.col("px"), F.col("py"))
        ).select("image_id", "poly_id")

    # shuffle regime: the candidate join shuffles ids only; rings re-attach
    # by a dimension-side poly_id equi-join (each geometry row moves once),
    # then the identical Arrow ray-cast kernel refines, grouped per polygon
    # within each batch with the ring projected once per unique polygon
    pairs = pts.join(pcells.select("poly_id", "cell"), "cell")
    cand = pairs.join(polys.select("poly_id", "geometry"), "poly_id")

    @F.arrow_udf("boolean")
    def _inside_attached(
        poly_id: pa.Array, qx: pa.Array, qy: pa.Array, geom: pa.Array
    ) -> pa.Array:
        out = np.zeros(len(poly_id), dtype=bool)
        xs = qx.to_numpy(zero_copy_only=False)
        ys = qy.to_numpy(zero_copy_only=False)
        lon, lat, off = decode(geom)
        ids = poly_id.to_pandas()
        for ix in ids.groupby(ids, sort=False).indices.values():
            s, e = off[ix[0]], off[ix[0] + 1]
            rx, ry = project(lon[s:e], lat[s:e])
            out[ix] = ray_cast_pip(xs[ix], ys[ix], rx, ry)
        return pa.array(out)

    return cand.where(
        _inside_attached(F.col("poly_id"), F.col("px"), F.col("py"), F.col("geometry"))
    ).select("image_id", "poly_id")


def image_tile_assignment(images: DataFrame, tile_size_m: float = 500.0) -> DataFrame:
    """(image_id, tile_id) by direct grid arithmetic — pure column math."""
    x = (F.col("lon") - F.lit(LON0)) * F.lit(MPD_X)
    y = (F.col("lat") - F.lit(LAT0)) * F.lit(MPD_Y)
    tx = F.floor(x / tile_size_m).cast("long") + F.lit(1 << 30).cast("long")
    ty = F.floor(y / tile_size_m).cast("long") + F.lit(1 << 30).cast("long")
    tile = F.shiftleft(tx, 31).bitwiseOR(ty.bitwiseAND(F.lit((1 << 31) - 1)))
    return images.select("image_id", tile.alias("tile_id"))


def _way_segments_cells(ways: DataFrame, res: int, rings: int = 0,
                        carry: tuple = ()) -> DataFrame:
    """Way polylines -> (carried way columns, segment endpoints, covering
    cell) rows; with ``rings`` > 0 every covering cell expands to its
    grid_disk so the big point side of the join can stay at one cell per
    row.  ``carry`` lists the way columns every row keeps (names or aliased
    Columns); the default keeps the way id as ``way_id``.

    The segmentation UDF and the explodes are the expensive per-row stage,
    so they must not run at a one-row-group scan's width: callers pass a
    fanned-out ways side, or one whose upstream exchange already sets it."""
    carry = carry or (F.col("id").alias("way_id"),)
    segs = ways.select(
        *carry, F.explode(make_segments_udf(res)("geometry")).alias("seg"),
    )
    keep = segs.columns[:-1]
    out = segs.select(
        *keep,
        F.col("seg.ax").alias("ax"), F.col("seg.ay").alias("ay"),
        F.col("seg.bx").alias("bx"), F.col("seg.by").alias("by"),
        F.explode("seg.cells").alias("cell"),
    )
    if rings > 0:
        out = out.select(
            *keep, "ax", "ay", "bx", "by",
            F.explode(hex_disk_of_cell_cols(F.col("cell"), rings)).alias("cell"),
        ).distinct()
    return out


def _cell_pairs(points: DataFrame, wsegs: DataFrame, res: int,
                how: str = "inner", keep: tuple = ()) -> DataFrame:
    """(image_id, *keep, way_id, dist) for every point and every way segment
    sharing the point's single cell (the ways side is ring-expanded): the
    shuffle path's cell equi-join plus exact distance refine, before any
    aggregation.  A left join keeps candidate-less points with NULLs."""
    pc = points.withColumn("cell", hex_cell_cols(F.col("px"), F.col("py"), res))
    d = point_segment_distance_cols(
        F.col("px"), F.col("py"), F.col("ax"), F.col("ay"),
        F.col("bx"), F.col("by"),
    )
    return pc.join(wsegs, "cell", how).select(
        "image_id", *keep, "way_id", d.alias("dist"))


def _candidates(points: DataFrame, wsegs: DataFrame, res: int) -> DataFrame:
    """Per (image, way) minimum distance among candidate segments."""
    return (
        _cell_pairs(points, wsegs, res)
        .groupBy("image_id", "way_id")
        .agg(F.min("dist").alias("dist_m"))
    )


def _nearest(points: DataFrame, wsegs: DataFrame, res: int,
             carry: tuple = ()) -> DataFrame:
    """k=1 fast path: each point carries a single cell (the ways side is
    ring-expanded instead), candidates reduce through one map-side-combinable
    min-agg, and the point coordinates ride along so round 2 is a filter
    rather than a join.  Left join keeps candidate-less points (dist NULL ->
    round 2).  ``carry`` columns (small scalars like lon/lat) ride through
    the agg so the caller can skip a second id-equi-join.  (An alternative
    that pre-groups the ways side into broadcast arrays and computes
    array-min per row was measured slower: the struct-array transform falls
    out of whole-stage codegen.)"""
    best = (
        _cell_pairs(points, wsegs, res, "left", ("px", "py", *carry))
        .groupBy("image_id")
        .agg(
            F.min(F.struct(F.col("dist"), F.col("way_id"))).alias("b"),
            F.first("px").alias("px"),
            F.first("py").alias("py"),
            *[F.first(c).alias(c) for c in carry],
        )
    )
    return best.select(
        "image_id", "px", "py", *carry,
        F.col("b.way_id").alias("way_id"),
        F.col("b.dist").alias("dist_m"),
        F.lit(1).alias("rank"),
    )


def knn_ways(
    images: DataFrame,
    ways: DataFrame,
    k: int = 4,
    res: int = 8,
    rings: int = 1,
    coarse_drop: int = 3,
    carry: tuple = (),
) -> DataFrame:
    """J4: k nearest ways per image via cell-ring expansion.

    Round 1 joins on grid_disk(``rings``) at ``res``; images whose k-th
    neighbor is not *guaranteed* final (k-th distance >= rings*sqrt(3)*edge,
    or fewer than k candidates) re-run at a coarser resolution
    (``res - coarse_drop``, grid_disk(2)) — expanding the radius ~64x while
    keeping the per-point cell count constant, instead of exploding a huge
    disk at the fine resolution.  Two rounds of equi-join — never a cross
    join.  Neighbors beyond the coarse guarantee radius (2*sqrt(3) coarse
    edges) can be missed by design; raise ``coarse_drop`` for sparser data.
    Output: (image_id, way_id, dist_m, rank).
    """
    from .dedup import fan_out, pin_session

    # when the planner broadcasts the ways side, the candidate distance
    # compute + map-side partial aggregation run at the POINT side's width
    # — fan a narrower-than-cluster scan out first (no-op on wide inputs)
    pts = fan_out(images.select(
        "image_id",
        ((F.col("lon") - LON0) * MPD_X).alias("px"),
        ((F.col("lat") - LAT0) * MPD_Y).alias("py"),
        *carry,
    ))
    ways = fan_out(ways)
    res2 = max(0, res - coarse_drop)
    wsegs1 = _way_segments_cells(ways, res, rings)
    wsegs2 = _way_segments_cells(ways, res2, 2)
    guarantee1 = rings * math.sqrt(3.0) * C.hex_edge_m(res)

    if k == 1:
        out_cols = ["image_id", *carry, "way_id", "dist_m", "rank"]
        # persist: the two complementary filters below both consume round
        # 1; measured faster than recomputing the map-side round
        best1 = _nearest(pts, wsegs1, res, carry).persist()
        pin_session(images.sparkSession, best1.unpersist)
        done1 = best1.where(F.col("dist_m") < guarantee1).select(*out_cols)
        # round 2: points with no round-1 candidate (NULL from the left join)
        # or an unguaranteed best — a filter, never a join
        rest = best1.where(
            F.col("dist_m").isNull() | (F.col("dist_m") >= guarantee1)
        ).select("image_id", "px", "py", *carry)
        best2 = _nearest(rest, wsegs2, res2, carry)
        return done1.unionByName(best2.select(*out_cols))

    def topk(cand: DataFrame, guarantee_m: float) -> DataFrame:
        # NOTE on "per-partition local heaps" (north_star): a map-side
        # Arrow/pandas top-k combiner before this window was built and
        # A/B-measured on a dense-urban skew fixture (1,500 ways through
        # one cell, 60k images, ~90M candidates): 119-260 s vs 47-54 s
        # for the plain window — the Python round-trip of the full
        # candidate stream costs far more than the exchange it saves,
        # because Tungsten's window sort is already a per-partition
        # external sort with code-gen'd comparators.  The heap idea IS
        # the right one where the candidates never enter the JVM row
        # format at all — the broadcast regime (knn_ways_broadcast) does
        # exactly that with numpy heaps per Arrow batch.  In the shuffle
        # regime the JVM window wins; combiner rejected on measurement.
        w = Window.partitionBy("image_id").orderBy(F.asc("dist_m"), F.asc("way_id"))
        # persist: the ranked frame feeds three branches (result rows, the
        # completeness check, and the round-2 anti-join); without a boundary
        # the candidate join re-executes per branch
        ranked = (
            cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .persist()
        )
        pin_session(images.sparkSession, ranked.unpersist)
        counts = ranked.groupBy("image_id").agg(
            F.count(F.lit(1)).alias("n"), F.max("dist_m").alias("kth")
        )
        complete = counts.where(
            (F.col("n") == k) & (F.col("kth") < F.lit(guarantee_m))
        ).select("image_id").persist()
        pin_session(images.sparkSession, complete.unpersist)
        return ranked, complete

    ranked1, complete1 = topk(_candidates(pts, wsegs1, res), guarantee1)
    done1 = ranked1.join(complete1, "image_id", "left_semi")
    rest = pts.join(complete1, "image_id", "left_anti")
    ranked2, _ = topk(_candidates(rest, wsegs2, res2),
                      2 * math.sqrt(3.0) * C.hex_edge_m(res2))
    return done1.unionByName(ranked2)


def _collect_ways(ways: DataFrame, *cols) -> dict:
    """The ways side of a broadcast index, collected once as ``(geometry,
    *cols)`` through Arrow: every way's projected vertices back to back
    (``x``, ``y``, ``offsets`` as :func:`geo.cells.segment_cells` takes
    them) and the ``cols`` (names or aliased Columns) as Arrow arrays under
    ``cols``, by name, one entry per way."""
    from ..geo.kernels import project

    tbl = ways.select("geometry", *cols).toArrow()
    lon, lat, offsets = decode(tbl.column("geometry"))
    x, y = project(lon, lat)
    return {"x": x, "y": y, "offsets": offsets,
            "cols": {n: tbl.column(n).combine_chunks() for n in tbl.column_names[1:]}}


def _intern_ids(raw: dict) -> dict:
    """``raw`` (:func:`_collect_ways` with an ``id`` column) with each way's
    id interned as an int (``wid``; ``ids`` maps back).  Ids are interned in
    lexicographic order, so the int argmin tie-break equals the shuffle
    path's min-id tie-break; like the Spark rows, only ways with a segment
    (two or more vertices) take part."""
    id_all = raw["cols"]["id"].to_numpy(zero_copy_only=False)
    has = np.diff(raw["offsets"]) >= 2
    ids = np.unique(id_all[has])  # sorted -> int order == lexicographic order
    wid = np.zeros(len(has), dtype=np.int64)
    wid[has] = np.searchsorted(ids, id_all[has])
    return dict(raw, wid=wid, ids=ids)


def _csr_level(raw: dict, res: int, rings: int) -> dict:
    """One level of the broadcast segment index, in numpy on the driver from
    :func:`_collect_ways` output: the rows of :func:`_way_segments_cells`
    bit for bit (ring-expanded on the way side, and with ``rings`` > 0 equal
    rows collapsed, as under its ``distinct``), bucketed by cell in CSR form
    (``cells`` sorted, cell ``i`` owning rows ``starts[i]:starts[i + 1]``)."""
    (line, ax, ay, bx, by), (seg, cell) = C.segment_cells(
        raw["x"], raw["y"], raw["offsets"], res, rings)
    cols = [raw["wid"][line][seg], ax[seg], ay[seg], bx[seg], by[seg]]
    if rings > 0:
        keys = [cell, cols[0], *(c.view(np.int64) for c in cols[1:])]
        order = np.lexsort(keys[::-1])
        keys = [k[order] for k in keys]
        keep = np.ones(len(order), dtype=bool)
        keep[1:] = np.any([k[1:] != k[:-1] for k in keys], axis=0)
        order = order[keep]
    else:
        order = np.argsort(cell, kind="stable")
    cell_s = cell[order]
    wid, ax, ay, bx, by = (c[order] for c in cols)
    first = np.empty(len(cell_s), dtype=bool)
    if len(cell_s):
        first[0] = True
        np.not_equal(cell_s[1:], cell_s[:-1], out=first[1:])
        bounds = np.flatnonzero(first)
        cells = cell_s[bounds]
        starts = np.append(bounds, len(cell_s)).astype(np.int64)
    else:
        cells = np.array([], dtype=np.int64)
        starts = np.zeros(1, dtype=np.int64)
    # per-segment (ax, ay, dx, dy): the pair expansion reads 4 doubles per
    # candidate and never recomputes the segment direction per point
    seg = np.column_stack([ax, ay, bx - ax, by - ay])
    return {"res": res, "cells": cells, "starts": starts, "seg": seg,
            "wid": wid, "ids": raw.get("ids")}


def build_segment_index(ways: DataFrame, res: int = 8, rings: int = 1,
                        coarse_drop: int = 3) -> dict:
    """Driver-side dimension build for the broadcast joins: fine level at
    ``res`` + coarse fallback at ``res - coarse_drop`` (grid_disk 2), with
    the same guarantee radii as :func:`knn_ways` k=1.  Eager: one Spark job
    (the Arrow collect of ``(id, geometry)``) serves both levels, and the
    segmentation, cell sampling and ring expansion run in numpy here."""
    raw = _intern_ids(_collect_ways(ways, "id"))
    res2 = max(0, res - coarse_drop)
    return {"fine": _csr_level(raw, res, rings),
            "coarse": _csr_level(raw, res2, 2),
            "g1": rings * math.sqrt(3.0) * C.hex_edge_m(res),
            "id_type": ways.schema["id"].dataType}


def _csr_pairs(level: dict, x: np.ndarray, y: np.ndarray):
    """CSR expansion of points against one index level: one flat row per
    (point, candidate segment) pair, with its exact distance.  Returns
    ``(cnt, row, wid, dist)`` — candidates per point, then per pair the
    point's row (non-decreasing), way int and distance — or None when no
    point has a candidate.

    The distance op order matches :func:`geo.udfs.point_segment_distance_cols`
    EXACTLY (division by len², closest point as ``a + t*d``): a
    reciprocal-multiply or a different subtraction association differs by
    ulps, which can flip a guarantee-radius or tie decision vs the shuffle
    path."""
    if len(x) == 0 or len(level["cells"]) == 0:
        return None
    cell = C.hex_encode_xy(x, y, level["res"])
    slot = np.searchsorted(level["cells"], cell)
    slot = np.clip(slot, 0, len(level["cells"]) - 1)
    hit = level["cells"][slot] == cell
    s0 = np.where(hit, level["starts"][slot], 0)
    cnt = np.where(hit, level["starts"][slot + 1], 0) - s0
    total = int(cnt.sum())
    if total == 0:
        return None
    cum = np.cumsum(cnt)
    flat_i = np.arange(total)
    row = np.searchsorted(cum, flat_i, side="right")
    pos = s0[row] + (flat_i - (cum[row] - cnt[row]))
    seg = level["seg"][pos]
    dx, dy = seg[:, 2], seg[:, 3]
    ll = dx * dx + dy * dy
    px, py = x[row], y[row]
    rx = px - seg[:, 0]
    ry = py - seg[:, 1]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(ll > 0, (rx * dx + ry * dy) / np.where(ll > 0, ll, 1.0), 0.0)
    t = np.minimum(1.0, np.maximum(0.0, t))
    cx = seg[:, 0] + t * dx
    cy = seg[:, 1] + t * dy
    # sqrt BEFORE any min/rank, not after: the shuffle path compares sqrt'd
    # distances, and sqrt is monotone but not injective in float64 — two
    # distinct d2 values can collapse to one double, where the shuffle path
    # tie-breaks by way id while a d2 comparison would not
    d = np.sqrt((px - cx) * (px - cx) + (py - cy) * (py - cy))
    return cnt, row, level["wid"][pos], d


def _index_nearest(level: dict, x: np.ndarray, y: np.ndarray):
    """Nearest segment per point against one CSR level.
    Returns (way int idx or -1, dist or nan).

    Reduces per-point minima with two ``np.minimum.reduceat`` passes (min
    dist, then min way-int among the dist winners) — the (d, way) tie-break
    equals the shuffle path's ``min(struct(dist, way_id))`` because way ints
    are interned in lexicographic order.  No sort: this loop is
    DRAM-bandwidth-bound at high core counts, so traffic is the budget."""
    n = len(x)
    best_w = np.full(n, -1, dtype=np.int64)
    best_d = np.full(n, np.nan)
    pairs = _csr_pairs(level, x, y)
    if pairs is None:
        return best_w, best_d
    cnt, _, w, d = pairs
    present = cnt > 0
    seg_starts = (np.cumsum(cnt) - cnt)[present]
    rowmin = np.minimum.reduceat(d, seg_starts)
    is_min = d <= np.repeat(rowmin, cnt[present])
    best_w[present] = np.minimum.reduceat(
        np.where(is_min, w, np.int64(2**62)), seg_starts)
    best_d[present] = rowmin
    return best_w, best_d


def _index_topk(level: dict, x: np.ndarray, y: np.ndarray, k: int):
    """k nearest ways per point against one CSR level.

    Returns ``(sel_row, sel_wid, sel_dist, sel_rank, count, kth)`` where the
    ``sel_*`` arrays hold up to ``k`` (way, dist) rows per input point ranked
    by ``(dist, way-int)`` — the same tie-break as the shuffle path's
    ``row_number() OVER (ORDER BY dist_m, way_id)`` because way ints are
    interned in lexicographic order — and ``count``/``kth`` (per input point)
    feed the caller's completeness check."""
    n = len(x)
    count = np.zeros(n, dtype=np.int64)
    kth = np.full(n, np.inf)
    pairs = _csr_pairs(level, x, y)
    if pairs is None:
        none = np.array([], dtype=np.int64)
        return none, none, np.array([]), none, count, kth
    _, row, w, d = pairs
    # min distance per (point, way) group: sort pairs by (row, way), reduce
    order = np.lexsort((w, row))
    rs, ws, ds = row[order], w[order], d[order]
    new = np.empty(len(rs), dtype=bool)
    new[0] = True
    np.not_equal(rs[1:], rs[:-1], out=new[1:])
    np.logical_or(new[1:], ws[1:] != ws[:-1], out=new[1:])
    gstart = np.flatnonzero(new)
    g_d = np.minimum.reduceat(ds, gstart)
    g_row = rs[gstart]
    g_w = ws[gstart]
    # rank ways within each point by (dist, way-int); keep the first k
    order2 = np.lexsort((g_w, g_d, g_row))
    r2, w2, d22 = g_row[order2], g_w[order2], g_d[order2]
    first = np.empty(len(r2), dtype=bool)
    first[0] = True
    np.not_equal(r2[1:], r2[:-1], out=first[1:])
    starts2 = np.flatnonzero(first)
    sizes2 = np.diff(np.append(starts2, len(r2)))
    within = np.arange(len(r2)) - np.repeat(starts2, sizes2)
    count[r2[starts2]] = sizes2
    has_k = sizes2 >= k
    kth[r2[starts2[has_k]]] = d22[starts2[has_k] + (k - 1)]
    keep = within < k
    return (r2[keep], w2[keep], d22[keep],
            (within[keep] + 1).astype(np.int64), count, kth)


def _broadcast_join(points: DataFrame, index: dict, schema: StructType,
                    reduce, how: str) -> DataFrame:
    """The broadcast spatial-index join both J3 and J4 run: the CSR index
    ships once per python worker, the point side streams through
    ``mapInPandas`` with ZERO shuffles, ``reduce(idx, pdf, x, y)`` turns one
    Arrow batch (``x``/``y`` projected) into way-int rows, and the string
    way id re-attaches by a JVM-side broadcast id-join (``how``).  Building
    10^6-row python object arrays per batch is the measured bottleneck, not
    the geometry math, so way ids stay ints inside the kernel."""
    from .dedup import fan_out

    spark = points.sparkSession
    # memoize the broadcast + id dimension frame on the index: pickling the
    # CSR arrays and building the 10^3-row ids frame are per-JOB costs
    # (driver-serial), not per-query costs
    if "_bc" not in index:
        index["_bc"] = spark.sparkContext.broadcast(
            {k: index[k] for k in ("fine", "coarse", "g1")}
        )
    if "_ids_df" not in index:
        ids = index["fine"]["ids"]
        index["_ids_df"] = spark.createDataFrame(
            pd.DataFrame({"way_idx": np.arange(len(ids), dtype=np.int64),
                          "way_id": ids}),
            StructType([StructField("way_idx", LongType()),
                        StructField("way_id", index["id_type"])]),
        )
    bidx = index["_bc"]

    def run(batches):
        idx = bidx.value
        for pdf in batches:
            x = (pdf["lon"].to_numpy(dtype=np.float64) - LON0) * MPD_X
            y = (pdf["lat"].to_numpy(dtype=np.float64) - LAT0) * MPD_Y
            yield reduce(idx, pdf, x, y)

    # zero shuffles at scale still holds: fan_out only exchanges an input
    # NARROWER than the cluster (the one-row-group local fixture, which
    # otherwise runs the whole CSR lookup on 1-2 cores); wide fact tables
    # pass through untouched
    return (
        fan_out(points.select("image_id", "lon", "lat"))
        .mapInPandas(run, schema)
        .join(F.broadcast(index["_ids_df"]), "way_idx", how)
    )


def knn_ways_broadcast(
    points: DataFrame,
    ways: DataFrame,
    k: int = 3,
    res: int = 8,
    rings: int = 2,
    coarse_drop: int = 3,
    index: dict | None = None,
) -> DataFrame:
    """J4 as a broadcast spatial-index join: same two-round
    guarantee-radius semantics and output as :func:`knn_ways` (k>1), but the
    point side streams through ``mapInPandas`` with ZERO shuffles — the plan
    for a fact table that must never be exchanged, whenever the ways side
    fits in a broadcast (the common case: the dimension is ~10^3x smaller).
    Points whose k-th distance is unguaranteed at the fine level redo at the
    coarse level inside the same batch; points with no candidates anywhere
    drop out, exactly like the shuffle path's inner cell join.
    Output: (image_id, way_id, dist_m, rank)."""
    if index is None:
        index = build_segment_index(ways, res=res, rings=rings,
                                    coarse_drop=coarse_drop)
    schema = StructType([
        points.schema["image_id"],
        StructField("way_idx", LongType()),
        StructField("dist_m", DoubleType()),
        StructField("rank", LongType()),
    ])

    def topk(idx, pdf, x, y):
        sr, sw, sd, srk, cnt, kth = _index_topk(idx["fine"], x, y, k)
        complete = (cnt >= k) & (kth < idx["g1"])
        done = complete[sr]
        out_r, out_w, out_d, out_k = [sr[done]], [sw[done]], [sd[done]], [srk[done]]
        redo = np.flatnonzero(~complete)
        if len(redo):
            cr, cw, cd, crk, _, _ = _index_topk(idx["coarse"], x[redo], y[redo], k)
            out_r.append(redo[cr])
            out_w.append(cw)
            out_d.append(cd)
            out_k.append(crk)
        return pd.DataFrame({
            "image_id": pdf["image_id"].to_numpy()[np.concatenate(out_r)],
            "way_idx": np.concatenate(out_w),
            "dist_m": np.concatenate(out_d),
            "rank": np.concatenate(out_k),
        })

    return _broadcast_join(points, index, schema, topk, "inner").select(
        "image_id", "way_id", "dist_m", "rank")


def geotag_join_broadcast(images: DataFrame, ways: DataFrame,
                          res: int = 8, index: dict | None = None) -> DataFrame:
    """J3 as a broadcast spatial-index join: the small ways side becomes a
    driver-built CSR cell index (:func:`build_segment_index`, unless
    ``index`` is given) shipped to every python worker; the big image side
    streams through ``mapInPandas`` with ZERO shuffles and no persist — the
    plan that survives 10^12 rows (shuffling the fact table even once is the
    thing that doesn't), and a stateless map, so it also runs on a stream.
    Output and tie-breaks are identical to the shuffle path (``knn_ways``
    k=1).  :func:`geotag_join` takes this form when its index fits a
    broadcast."""
    if index is None:
        index = build_segment_index(ways, res=res, rings=1)
    # image_id, lon and lat keep the images' own types, as in the shuffle form
    schema = StructType([
        *(images.schema[c] for c in ("image_id", "lon", "lat")),
        StructField("way_idx", LongType()),
        StructField("dist_m", DoubleType()),
    ])

    def nearest(idx, pdf, x, y):
        w, d = _index_nearest(idx["fine"], x, y)
        # round 2 for unguaranteed/unmatched points, same rule as knn_ways
        redo = ~(d < idx["g1"])
        if redo.any():
            w[redo], d[redo] = _index_nearest(idx["coarse"], x[redo], y[redo])
        return pd.DataFrame({
            "image_id": pdf["image_id"],
            "lon": pdf["lon"], "lat": pdf["lat"],
            "way_idx": w, "dist_m": d,
        })

    nn = _broadcast_join(images, index, schema, nearest, "left").select(
        "image_id", "lon", "lat", "way_id",
        F.when(F.col("way_idx") >= 0, F.col("dist_m")).alias("dist_m"),
    )
    extra = [c for c in images.columns if c not in ("image_id", "lon", "lat")]
    if not extra:
        return nn
    return images.join(nn.select("image_id", "way_id", "dist_m"), "image_id", "left")


def _nbytes(obj) -> int:
    """Bytes of the numpy arrays in a built index (nested dicts and tuples)."""
    if isinstance(obj, np.ndarray):
        return obj.nbytes
    if isinstance(obj, dict):
        obj = obj.values()
    elif not isinstance(obj, tuple):
        return 0
    return sum(_nbytes(v) for v in obj)


def _broadcast_index(ways: DataFrame, build, stream: bool = False):
    """The one capacity rule of the broadcast spatial joins: ``build(ways)``
    (a driver-built index of the dimension ``ways``) when it fits a
    broadcast, else None, for the shuffle form.

    ``spark.sql.autoBroadcastJoinThreshold`` is the capacity, as for Spark's
    own broadcast joins: a negative threshold means the shuffle form, and a
    ``stream`` fact side always takes the broadcast form (the shuffle forms
    persist, which a stream cannot).  Otherwise one lambda-free aggregate
    first caps the collect at 16 bytes per vertex (the two doubles the
    driver decodes), so a dimension too big for the driver is never
    collected, and the index as built must then fit too."""
    if stream:
        return build(ways)
    limit = ways.sparkSession._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    if limit < 0 or 16 * (ways.agg(F.sum(F.size("geometry"))).first()[0] or 0) > limit:
        return None
    index = build(ways)
    return index if _nbytes(index) <= limit else None


def geotag_join(images: DataFrame, ways: DataFrame, res: int = 8) -> DataFrame:
    """J3: nearest way per image (kNN k=1 at ``res``, ring 1, coarse
    fallback).  Output: images + (way_id, dist_m).

    The broadcast form, :func:`geotag_join_broadcast`, runs whenever its
    CSR index fits a broadcast by :func:`_broadcast_index`, the rule every
    broadcast spatial join shares; the index is then built here, eagerly,
    from one collect of the ways.  A streaming ``images`` frame always takes
    it.  Otherwise, for a ways side too big to hold on the driver, it is the
    shuffle form, ``knn_ways`` k=1.  Both give the same rows and tie-breaks
    (tested).

    In the shuffle form, payload-free frames (only image_id/lon/lat) skip
    the final id-equi-join: lon/lat ride through the kNN agg as carry
    columns, saving a full shuffle join of the big side.  Frames with
    payload columns (bytes!) re-attach by the final equi-join so payloads
    never enter the kNN shuffle."""
    index = _broadcast_index(
        ways, lambda w: build_segment_index(w, res=res, rings=1), images.isStreaming)
    if index is not None:
        return geotag_join_broadcast(images, ways, res=res, index=index)
    extra = [c for c in images.columns if c not in ("image_id", "lon", "lat")]
    if not extra:
        return knn_ways(images, ways, k=1, res=res, rings=1,
                        carry=("lon", "lat")).select(
            "image_id", "lon", "lat", "way_id", "dist_m"
        )
    nn = knn_ways(images, ways, k=1, res=res, rings=1).select(
        "image_id", "way_id", "dist_m"
    )
    return images.join(nn, "image_id", "left")


_DECODE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("ok", BooleanType()),
    StructField("dec_w", IntegerType()),
    StructField("dec_h", IntegerType()),
    StructField("phash_rec", LongType()),
    StructField("phash_dist", IntegerType()),
    StructField("caption_ok", BooleanType()),
])


def verify_payloads(images: DataFrame) -> DataFrame:
    """Arrow-batched payload verification: decode bytes, re-compute the
    perceptual hash, check caption presence (input_hint per-row invariant;
    PSNR vs source pixels is asserted in tests where sources exist)."""

    def run(batches):
        from ..imaging import codec
        from ..imaging.phash import phash64

        for pdf in batches:
            # decode is inherently per-image, but row access is zipped numpy
            # columns — never pdf.iterrows(), whose per-row Series
            # construction dominates on the biggest table in the system
            cols = (pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"],
                    pdf["fmt"], pdf["caption"], pdf["phash"])
            out = []
            for image_id, buf, w, h, fmt, caption, want_ph in zip(
                *(c.to_numpy() for c in cols)
            ):
                rec = {"image_id": image_id, "ok": False, "dec_w": None,
                       "dec_h": None, "phash_rec": None, "phash_dist": None,
                       "caption_ok": bool(caption)}
                try:
                    px = codec.decode(bytes(buf), fmt)
                    rec["ok"] = px.shape == (h, w, 3)
                    rec["dec_h"], rec["dec_w"] = int(px.shape[0]), int(px.shape[1])
                    ph = phash64(px)
                    rec["phash_rec"] = ph
                    rec["phash_dist"] = int(
                        bin(int(np.uint64(ph & 0xFFFFFFFFFFFFFFFF))
                            ^ int(np.uint64(int(want_ph) & 0xFFFFFFFFFFFFFFFF))).count("1")
                    )
                except Exception:
                    pass
                out.append(rec)
            yield pd.DataFrame(out, columns=[f.name for f in _DECODE_SCHEMA.fields])

    return images.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash").mapInPandas(
        run, _DECODE_SCHEMA
    )
