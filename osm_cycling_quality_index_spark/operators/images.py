"""Image-side operators (graft axes A+B, BASELINE.json north_rule):

* J3 geotag join — each image row is matched to its nearest way segment;
* J4 kNN way-matching — cell-ring expansion + per-image top-k window;
* J5 raster-tile <-> vector-way assignment — DDA line rasterization into a
  metric tile grid, plus ray-cast point-in-tile membership;
* payload verification — Arrow-batched decode of the binary column with
  phash re-computation (PSNR vs source pixels is asserted in tests where the
  source is available).

Scale design: candidates are generated by hexcell lookups (never a cross
join); ``bytes`` stays out of every cell shuffle — the shuffle joins carry
(image_id, lon, lat, cell) only and payloads re-attach by a final
id-equi-join, while the broadcast form maps the rows themselves.

J3, J4 and the sidepath vote (J1, ``operators/sidepath.py``) share one
spatial-join core: the shuffle cell join plus exact distance refine
(``_cell_pairs``), the broadcast CSR index (``_csr_level``, with the
``_csr_pairs`` kernel), and the way segment/cell rows.
Those rows have two forms over the one segmentation kernel
``geo.cells.segment_cells``, held equal bit for bit by test:
``_way_segments_cells`` in Spark (the shuffle forms) and ``_csr_level`` on
the driver, which builds the broadcast index faster than collecting the
Spark rows.  The shuffle and broadcast forms differ only in their exchange
and are bit-identical by test.

Every broadcast spatial join (J1, J3, J4 and ``pip_join``) has one
physical shape, :func:`_broadcast_map`: the driver-built index is
broadcast once per call and one ``mapInArrow`` kernel per batch of the
fanned-out fact side passes its rows through and appends the join's
columns, with no join after it.  One capacity rule,
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
import pyarrow.compute as pc
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


def _covering_cells(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """Projected polygon ring -> the sorted hex cells covering its bbox
    (dilated by one cell circumradius) — the candidate superset for
    :func:`pip_join`.  The dilated bbox is sampled at the cell inradius,
    which guarantees every cell whose region intersects the bbox contributes
    at least one sample (a grid of step h hits any disk of radius >= h/sqrt(2))."""
    edge = C.hex_edge_m(res)
    step = edge * math.sqrt(3.0) / 2.0  # inradius
    xs = np.arange(x.min() - edge, x.max() + edge + step, step)
    ys = np.arange(y.min() - edge, y.max() + edge + step, step)
    gx, gy = np.meshgrid(xs, ys)
    return np.unique(C.hex_encode_xy(gx.ravel(), gy.ravel(), res))


def make_covering_cells_udf(res: int):
    """Polygon ring -> :func:`_covering_cells`; a ring of fewer than three
    vertices covers no cell."""
    from ..geo.kernels import project

    def cells(lon, lat):
        return (_covering_cells(*project(lon, lat), res),)

    @F.arrow_udf(_TILE_TYPE)
    def covering(geom: pa.Array) -> pa.Array:
        return map_ways(_TILE_TYPE, cells, geom, min_vertices=3)

    return covering


def _pip_index(polys: DataFrame, res: int) -> dict:
    """The broadcast form's dimension of :func:`pip_join`, from one Arrow
    collect of the rings: a CSR level mapping each covering cell to the
    polygon rows it covers (``row``: a polygon is keyed by its row in the
    collect, so rows sharing a ``poly_id`` stay apart), the rings'
    projected vertices and the ``poly_id`` values."""
    raw = _collect_ways(polys, "poly_id")
    x, y, off = raw["x"], raw["y"], raw["offsets"]
    rings = np.flatnonzero(np.diff(off) >= 3)
    cover = [_covering_cells(x[off[i]:off[i + 1]], y[off[i]:off[i + 1]], res)
             for i in rings]
    row = np.repeat(rings, [len(c) for c in cover]).astype(np.int64)
    cell = np.concatenate(cover) if cover else np.array([], dtype=np.int64)
    # a cell's polygon rows last row first: a point's output rows keep the
    # order of the broadcast hash join that this index replaced
    order = np.lexsort((-row, cell))
    cells, starts = _cell_buckets(cell[order])
    return {"res": res, "cells": cells, "starts": starts, "row": row[order],
            "x": x, "y": y, "offsets": off, "ids": raw["cols"]["poly_id"]}


def _pip_kernel(idx: dict, batch: pa.RecordBatch):
    """The broadcast :func:`pip_join` over one batch of points: the cell
    lookup, then ``ray_cast_pip`` once per candidate polygon row over its
    candidate points.  One row per (point, polygon row) containing it, in
    the points' order."""
    from ..geo.kernels import ray_cast_pip

    x, y = _projected(batch)
    rows = poly = np.array([], dtype=np.int64)
    hit = _csr_lookup(idx, x, y)
    if hit is not None:
        _, pt, pos = hit
        cand = idx["row"][pos]
        keep = np.zeros(len(pt), dtype=bool)
        off = idx["offsets"]
        order = np.argsort(cand, kind="stable")
        for ix in np.split(order, np.flatnonzero(np.diff(cand[order])) + 1):
            s, e = off[cand[ix[0]]], off[cand[ix[0]] + 1]
            keep[ix] = ray_cast_pip(x[pt[ix]], y[pt[ix]], idx["x"][s:e], idx["y"][s:e])
        rows, poly = pt[keep], cand[keep]
    return rows, [idx["ids"].take(poly)]


def pip_join(points: DataFrame, polys: DataFrame, res: int = 9) -> DataFrame:
    """Cell-bucketed point-in-polygon join (north_star: "joined via
    broadcast-or-shuffle cell-bucketed point-in-polygon (ray-casting with
    prepared bbox prefilter)").

    Each polygon row covers its bbox's hex cells (:func:`_covering_cells`),
    each point takes its single cell, and the exact refine is the numpy
    ray cast (``geo.kernels.ray_cast_pip``) over each polygon's candidate
    points.  Polygons are keyed by row, so polygon rows that share a
    ``poly_id`` are tested apart: the output has one row per (point,
    polygon row) that contains the point.  Two physical forms, picked by
    :func:`_broadcast_index` on the index as built:

    * broadcast: :func:`_pip_index`, a driver-built CSR level from cell to
      polygon rows, and one :func:`_broadcast_map` kernel per batch of
      points (:func:`_pip_kernel`) — the fact side is never shuffled.
    * shuffle (a polygon side too big for the driver): the polygon rows
      explode to their covering cells through the Arrow UDF, the candidate
      cell join carries IDS ONLY (``poly_id`` and ``_key``, a hash of
      ``poly_id`` and geometry; geometry never rides the wide shuffle), the
      rings re-attach dimension-side by one ``(poly_id, _key)`` equi-join,
      and the same ray cast refines, once per polygon per batch.

    ``res`` sets the prefilter selectivity and should sit at or just below
    the typical polygon scale (cell edge <= poly bbox edge): measured at
    sf0.1 (0.4-2.1 km polys), res 7 over-selects 39x (4.78 M candidates
    for 123.6 k hits, refine-bound at 8-20 s) while res 9 (~174 m edge)
    over-selects 4.7x (585 k candidates, 5.5 s end-to-end) — the covering
    stays exact at every res, so this is pure physics, not semantics.

    Output: (image_id, poly_id)."""
    from ..geo.kernels import project, ray_cast_pip
    from .dedup import fan_out

    index = _broadcast_index(polys, lambda p: _pip_index(p, res))
    if index is not None:
        return _broadcast_map(points.select("image_id", "lon", "lat"), index,
                              _pip_kernel, [polys.schema["poly_id"]]
                              ).select("image_id", "poly_id")

    # the points side is the fact table: the per-candidate refine runs at
    # ITS width, and a one-row-group local scan pins that at 1-2 partitions
    # — measured at sf0.1 the refine was a single-task 5.5 s stage vs 1.4 s
    # fanned out.  Already-wide inputs pass through untouched.
    points = fan_out(points)
    px = (F.col("lon") - F.lit(LON0)) * F.lit(MPD_X)
    py = (F.col("lat") - F.lit(LAT0)) * F.lit(MPD_Y)
    pts = points.select(
        "image_id", px.alias("px"), py.alias("py"),
        hex_cell_cols(px, py, res).alias("cell"),
    )
    keyed = polys.select("poly_id", "geometry",
                         F.xxhash64("poly_id", "geometry").alias("_key"))
    pcells = keyed.select(
        "poly_id", "_key",
        F.explode(make_covering_cells_udf(res)("geometry")).alias("cell"),
    )
    rings = keyed.dropDuplicates(["poly_id", "_key"])
    cand = pts.join(pcells, "cell").join(rings, ["poly_id", "_key"])

    @F.arrow_udf("boolean")
    def _inside_attached(
        key: pa.Array, qx: pa.Array, qy: pa.Array, geom: pa.Array
    ) -> pa.Array:
        out = np.zeros(len(key), dtype=bool)
        xs = qx.to_numpy(zero_copy_only=False)
        ys = qy.to_numpy(zero_copy_only=False)
        lon, lat, off = decode(geom)
        keys = key.to_pandas()
        for ix in keys.groupby(keys, sort=False).indices.values():
            s, e = off[ix[0]], off[ix[0] + 1]
            rx, ry = project(lon[s:e], lat[s:e])
            out[ix] = ray_cast_pip(xs[ix], ys[ix], rx, ry)
        return pa.array(out)

    return cand.where(
        _inside_attached(F.col("_key"), F.col("px"), F.col("py"), F.col("geometry"))
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
    id interned as an int (``wid``; ``ids``, an Arrow array of the ways' id
    type, maps back).  Ids are interned in sorted order, so the int argmin
    tie-break equals the shuffle path's min-id tie-break; like the Spark
    rows, only ways with a segment (two or more vertices) take part."""
    has = np.diff(raw["offsets"]) >= 2
    id_has = raw["cols"]["id"].filter(pa.array(has))
    ids = pc.unique(id_has)
    ids = ids.take(pc.sort_indices(ids))  # int order == the ids' sort order
    wid = np.zeros(len(has), dtype=np.int64)
    wid[has] = pc.index_in(id_has, value_set=ids).to_numpy(zero_copy_only=False)
    return dict(raw, wid=wid, ids=ids)


def _cell_buckets(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """CSR buckets of sorted cell keys: the distinct cells, and ``starts``
    with cell ``i`` owning entries ``starts[i]:starts[i + 1]``."""
    first = np.ones(len(cell), dtype=bool)
    np.not_equal(cell[1:], cell[:-1], out=first[1:])
    bounds = np.flatnonzero(first)
    return cell[bounds], np.append(bounds, len(cell)).astype(np.int64)


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
    cells, starts = _cell_buckets(cell[order])
    wid, ax, ay, bx, by = (c[order] for c in cols)
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


def _csr_lookup(level: dict, x: np.ndarray, y: np.ndarray):
    """The cell lookup of points against a CSR level: one flat entry per
    (point, candidate) pair.  Returns ``(cnt, row, pos)`` — candidates per
    point, then per pair the point's row (non-decreasing) and the entry's
    position in the level — or None when no point has a candidate."""
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
    return cnt, row, s0[row] + (flat_i - (cum[row] - cnt[row]))


def _csr_pairs(level: dict, x: np.ndarray, y: np.ndarray):
    """CSR expansion of points against one segment index level
    (:func:`_csr_lookup`), with each pair's exact distance.  Returns
    ``(cnt, row, wid, dist)`` — candidates per point, then per pair the
    point's row (non-decreasing), way int and distance — or None when no
    point has a candidate.

    The distance op order matches :func:`geo.udfs.point_segment_distance_cols`
    EXACTLY (division by len², closest point as ``a + t*d``): a
    reciprocal-multiply or a different subtraction association differs by
    ulps, which can flip a guarantee-radius or tie decision vs the shuffle
    path."""
    hit = _csr_lookup(level, x, y)
    if hit is None:
        return None
    cnt, row, pos = hit
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


def _broadcast_map(df: DataFrame, index: dict, kernel, fields: list) -> DataFrame:
    """The one physical shape of every broadcast spatial join: ``index``,
    the dimension built on the driver, is broadcast once per call (its
    ``destroy`` pinned for ``dedup.release_session_pinned``), the fact side
    ``df`` is fanned out (``dedup.fan_out``), and one ``mapInArrow`` kernel
    per Arrow batch passes its rows through.  ``kernel(idx, batch)``
    returns ``(rows, columns)``: the output is ``batch.take(rows)`` (the
    whole batch when ``rows`` is None) with ``columns``, one per field of
    ``fields``, appended.  No shuffle keyed on cells, no join and no
    persist: a stateless map, so it also runs on a stream."""
    from .dedup import fan_out, pin_session

    spark = df.sparkSession
    bidx = spark.sparkContext.broadcast(index)
    pin_session(spark, bidx.destroy)
    # fan_out only exchanges an input NARROWER than the cluster (the
    # one-row-group local fixture, which otherwise runs the whole kernel on
    # 1-2 cores); wide fact tables pass through untouched
    df = fan_out(df)
    names = [*df.columns, *(f.name for f in fields)]

    def run(batches):
        idx = bidx.value
        for b in batches:
            rows, cols = kernel(idx, b)
            kept = b if rows is None else b.take(rows)
            yield pa.RecordBatch.from_arrays([*kept.columns, *cols], names=names)

    return df.mapInArrow(run, StructType([*df.schema.fields, *fields]))


def _projected(batch: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray]:
    """A batch's ``lon``/``lat`` in the metric frame, as the shuffle forms
    project them in column math."""
    lon, lat = (np.asarray(batch.column(c).to_numpy(zero_copy_only=False),
                           dtype=np.float64) for c in ("lon", "lat"))
    return (lon - LON0) * MPD_X, (lat - LAT0) * MPD_Y


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
    points stream through one :func:`_broadcast_map` kernel against the
    driver-built CSR index (:func:`build_segment_index`, unless ``index`` is
    given) — the plan for a fact table that must never be exchanged,
    whenever the ways side fits in a broadcast (the common case: the
    dimension is ~10^3x smaller).  Points whose k-th distance is
    unguaranteed at the fine level redo at the coarse level inside the same
    batch; points with no candidates anywhere drop out, exactly like the
    shuffle path's inner cell join.
    Output: (image_id, way_id, dist_m, rank)."""
    if index is None:
        index = build_segment_index(ways, res=res, rings=rings,
                                    coarse_drop=coarse_drop)

    def topk(idx, batch):
        x, y = _projected(batch)
        sr, sw, sd, srk, cnt, kth = _index_topk(idx["fine"], x, y, k)
        complete = (cnt >= k) & (kth < idx["g1"])
        redo = np.flatnonzero(~complete)
        cr, cw, cd, crk, _, _ = _index_topk(idx["coarse"], x[redo], y[redo], k)
        done = complete[sr]
        rows, w, d, rank = (np.concatenate(c) for c in zip(
            (sr[done], sw[done], sd[done], srk[done]), (redo[cr], cw, cd, crk)))
        return rows, [idx["fine"]["ids"].take(w), pa.array(d, pa.float64()),
                      pa.array(rank, pa.int64())]

    return _broadcast_map(
        points.select("image_id", "lon", "lat"), index, topk,
        [StructField("way_id", index["id_type"]), StructField("dist_m", DoubleType()),
         StructField("rank", LongType())],
    ).select("image_id", "way_id", "dist_m", "rank")


def geotag_join_broadcast(images: DataFrame, ways: DataFrame,
                          res: int = 8, index: dict | None = None) -> DataFrame:
    """J3 as a broadcast spatial-index join: the small ways side becomes a
    driver-built CSR cell index (:func:`build_segment_index`, unless
    ``index`` is given) and the image rows stream through one
    :func:`_broadcast_map` kernel, payload columns included, which appends
    the nearest way's id and distance (NULL for a point with no way in
    reach).  Output, column order and tie-breaks are those of the shuffle
    path (``knn_ways`` k=1): ``image_id`` first, then the images' other
    columns, then ``way_id``, ``dist_m``.  :func:`geotag_join` takes this
    form when its index fits a broadcast."""
    if index is None:
        index = build_segment_index(ways, res=res, rings=1)

    def nearest(idx, batch):
        x, y = _projected(batch)
        w, d = _index_nearest(idx["fine"], x, y)
        # round 2 for unguaranteed/unmatched points, same rule as knn_ways
        redo = ~(d < idx["g1"])
        w[redo], d[redo] = _index_nearest(idx["coarse"], x[redo], y[redo])
        miss = w < 0
        return None, [idx["fine"]["ids"].take(pa.array(w, mask=miss)),
                      pa.array(d, mask=miss)]

    # a payload-free frame comes out as (image_id, lon, lat, ...) whatever
    # its column order, as the shuffle form's kNN agg gives it
    extra = [c for c in images.columns if c not in ("image_id", "lon", "lat")]
    rest = [c for c in images.columns if c != "image_id"] if extra else ["lon", "lat"]
    return _broadcast_map(
        images.select("image_id", *rest), index, nearest,
        [StructField("way_id", index["id_type"]), StructField("dist_m", DoubleType())])


def _nbytes(obj) -> int:
    """Bytes of the numpy and Arrow arrays in a built index (nested dicts
    and tuples)."""
    if isinstance(obj, (np.ndarray, pa.Array)):
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
