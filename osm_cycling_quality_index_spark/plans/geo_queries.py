"""Geo + CQI queries over deterministically synthesized inputs from the
driver parquet tables, with exact DuckDB oracle mirrors.

Geometry is synthesized from integer keys (customer points, supplier
segments) using identical arithmetic on both engines; all coordinates carry
a +0.25 m offset so nothing lands on a tile/cell boundary, and all lateral
offsets are half-metre values so distance-threshold comparisons (<= 22 m)
have >= 0.5 m of float margin.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import params as P
from ..geo import cells as C
from ..geo.kernels import LAT0, LON0, MPD_X, MPD_Y

_MX = repr(MPD_X)
_MY = repr(MPD_Y)


# ---------------------------------------------------------------------------
# shared synthesis: points from customer, segments from supplier
# ---------------------------------------------------------------------------

def _points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    px = ((F.col("c_custkey") * 37) % 200).cast("double") * 35.0 + 0.25
    py = ((F.col("c_custkey") * 101) % 200).cast("double") * 55.0 + 0.25
    return c.select(
        F.col("c_custkey").cast("string").alias("image_id"),
        (F.lit(LON0) + px / F.lit(MPD_X)).alias("lon"),
        (F.lit(LAT0) + py / F.lit(MPD_Y)).alias("lat"),
    )

_POINTS_SQL = f"""
pts AS (
  SELECT CAST(c_custkey AS VARCHAR) AS image_id,
         (({LON0!r} + (((c_custkey * 37) % 200) * 35.0 + 0.25) / {_MX}) - {LON0!r}) * {_MX} AS px,
         (({LAT0!r} + (((c_custkey * 101) % 200) * 55.0 + 0.25) / {_MY}) - {LAT0!r}) * {_MY} AS py
  FROM customer
)
"""


def _segments_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-derived horizontal way segments as 2-point geometries."""
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    ax = ((F.col("s_suppkey") * 53) % 180).cast("double") * 35.0 + 0.25
    ay = ((F.col("s_suppkey") * 89) % 190).cast("double") * 55.0 + 0.25
    ln = (230 + (F.col("s_suppkey") % 11) * 93).cast("double")
    lon0 = F.lit(LON0) + ax / F.lit(MPD_X)
    lon1 = F.lit(LON0) + (ax + ln) / F.lit(MPD_X)
    lat = F.lit(LAT0) + ay / F.lit(MPD_Y)
    return s.select(
        F.concat(F.lit("w"), F.col("s_suppkey")).alias("id"),
        F.array(
            F.struct(lon0.alias("x"), lat.alias("y")),
            F.struct(lon1.alias("x"), lat.alias("y")),
        ).alias("geometry"),
        F.col("s_suppkey").alias("key"),
    )

# oracle-side segment endpoints with the same lon/lat roundtrip
_SEGS_SQL = f"""
segs AS (
  SELECT 'w' || CAST(s_suppkey AS VARCHAR) AS way_id, s_suppkey AS key,
         (({LON0!r} + ((((s_suppkey * 53) % 180) * 35.0 + 0.25)) / {_MX}) - {LON0!r}) * {_MX} AS ax,
         (({LAT0!r} + ((((s_suppkey * 89) % 190) * 55.0 + 0.25)) / {_MY}) - {LAT0!r}) * {_MY} AS ay,
         (({LON0!r} + ((((s_suppkey * 53) % 180) * 35.0 + 0.25) + (230 + (s_suppkey % 11) * 93)) / {_MX}) - {LON0!r}) * {_MX} AS bx,
         (({LAT0!r} + ((((s_suppkey * 89) % 190) * 55.0 + 0.25)) / {_MY}) - {LAT0!r}) * {_MY} AS by
  FROM supplier
)
"""

_DIST_SQL = """
  sqrt(POWER(px - (ax + CASE WHEN ((bx-ax)*(bx-ax) + (by-ay)*(by-ay)) > 0
        THEN LEAST(1.0, GREATEST(0.0,
          ((px-ax)*(bx-ax) + (py-ay)*(by-ay)) / ((bx-ax)*(bx-ax) + (by-ay)*(by-ay))))
        ELSE 0.0 END * (bx-ax)), 2)
     + POWER(py - (ay + CASE WHEN ((bx-ax)*(bx-ax) + (by-ay)*(by-ay)) > 0
        THEN LEAST(1.0, GREATEST(0.0,
          ((px-ax)*(bx-ax) + (py-ay)*(by-ay)) / ((bx-ax)*(bx-ax) + (by-ay)*(by-ay))))
        ELSE 0.0 END * (by-ay)), 2))
"""


# ---------------------------------------------------------------------------
# geo_knn: k nearest way segments per point (J4)
# ---------------------------------------------------------------------------

def q_geo_knn(spark, sf_dir):
    from ..operators.images import knn_ways

    pts = _points_df(spark, sf_dir)
    ways = _segments_df(spark, sf_dir).select("id", "geometry")
    # res-9 round 1 (ring-2 disk ~600 m — the res-8 disk over-selected
    # ~145 candidate segments/point for k=3, 2.2M grouped rows at sf0.1);
    # round 2 at res 5 (coarse_drop=4) guarantees ~29 km — covers the
    # ~13 km synthetic domain diagonal, so the result is globally exact
    # exactly as before (the fine level only decides WHICH points are
    # finalized early, never their neighbors)
    out = knn_ways(pts, ways, k=3, res=9, rings=2, coarse_drop=4)
    return out.select(
        F.col("image_id").alias("point_id"), "way_id", "rank",
        F.round("dist_m", 4).alias("dist_r"),
    )


def q_geo_knn_broadcast(spark, sf_dir):
    """J4's OTHER physical strategy — the zero-shuffle broadcast CSR-index
    join — run against the SAME oracle as the cell-bucketed shuffle path
    (the two are bit-identical by design; this makes the broadcast variant
    directly oracled instead of only transitively through its pytest
    parity with the shuffle path)."""
    from ..operators.images import knn_ways_broadcast

    pts = _points_df(spark, sf_dir)
    ways = _segments_df(spark, sf_dir).select("id", "geometry")
    out = knn_ways_broadcast(pts, ways, k=3, res=9, rings=2, coarse_drop=4)
    return out.select(
        F.col("image_id").alias("point_id"), "way_id", "rank",
        F.round("dist_m", 4).alias("dist_r"),
    )


GEO_KNN_SQL = f"""
WITH {_POINTS_SQL}, {_SEGS_SQL},
dists AS (
  SELECT image_id AS point_id, way_id, {_DIST_SQL} AS dist
  FROM pts CROSS JOIN segs
)
SELECT point_id, way_id, rank, ROUND(dist, 4) AS dist_r FROM (
  SELECT point_id, way_id, dist,
         ROW_NUMBER() OVER (PARTITION BY point_id ORDER BY dist ASC, way_id ASC) AS rank
  FROM dists
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# geo_hex_cells: hexcell encode at res 7..10 (G6) — full SQL mirror
# ---------------------------------------------------------------------------

def q_geo_hex_cells(spark, sf_dir):
    from ..geo.udfs import make_point_cell_udf

    pts = _points_df(spark, sf_dir)
    out = pts
    for res in (7, 8, 9, 10):
        out = out.withColumn(f"h3_r{res}", make_point_cell_udf(res)("lon", "lat"))
    return out.select(F.col("image_id").alias("point_id"), "h3_r7", "h3_r8", "h3_r9", "h3_r10")


def _hex_cell_sql(res: int) -> str:
    size = repr(float(C.EDGES_M[res]))
    off = 1 << 28
    return f"""(
  SELECT CAST({res} AS BIGINT) * 288230376151711744
       + (CAST(rx2 AS BIGINT) + {off}) * 536870912
       + (CAST(rz2 AS BIGINT) + {off})
  FROM (
    SELECT CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END AS rx2,
           CASE WHEN NOT (dx > dy AND dx > dz) AND dz > dy THEN -rx - ry ELSE rz END AS rz2
    FROM (
      SELECT rx, ry, rz, abs(rx - xf) AS dx, abs(ry - yf) AS dy, abs(rz - zf) AS dz
      FROM (
        SELECT xf, zf, -xf - zf AS yf,
               round(xf) AS rx, round(-xf - zf) AS ry, round(zf) AS rz
        FROM (SELECT (sqrt(3)/3 * px - py/3) / {size} AS xf,
                     (2.0/3 * py) / {size} AS zf)
      )
    )
  )
)"""


GEO_HEX_SQL = (
    "WITH " + _POINTS_SQL
    + "SELECT image_id AS point_id, "
    + ", ".join(f"{_hex_cell_sql(r)} AS h3_r{r}" for r in (7, 8, 9, 10))
    + " FROM pts"
)


# ---------------------------------------------------------------------------
# geo_point_tiles: metric tile grid membership (J5 point side)
# ---------------------------------------------------------------------------

def q_geo_point_tiles(spark, sf_dir):
    from ..operators.images import image_tile_assignment

    return image_tile_assignment(_points_df(spark, sf_dir), 500.0).select(
        F.col("image_id").alias("point_id"), "tile_id"
    )


GEO_TILES_SQL = f"""
WITH {_POINTS_SQL}
SELECT image_id AS point_id,
       (CAST(FLOOR(px / 500.0) AS BIGINT) + 1073741824) * 2147483648
       + ((CAST(FLOOR(py / 500.0) AS BIGINT) + 1073741824) & 2147483647) AS tile_id
FROM pts
"""


# ---------------------------------------------------------------------------
# geo_pip_tiles: ray-cast point-in-polygon tile assignment (G5 + J5 area
# side).  Right triangles from supplier; tiles whose center the triangle
# contains.  The oracle mirrors the kernel's per-edge crossing formula
# exactly (same IEEE ops), so the parity decision is bit-identical.
# ---------------------------------------------------------------------------

def _triangles_df(spark, sf_dir):
    """Supplier-derived right triangles (shared by the PIP tile assignment
    and the PIP join queries)."""
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    k = F.col("s_suppkey")
    x0 = ((k * 53) % 180).cast("double") * 35.0 + 0.25
    y0 = ((k * 89) % 190).cast("double") * 55.0 + 0.25
    w = (400 + (k % 7) * 260).cast("double")
    h = (350 + (k % 5) * 330).cast("double")

    def lonlat(xm, ym):
        return (F.lit(LON0) + xm / F.lit(MPD_X)), (F.lit(LAT0) + ym / F.lit(MPD_Y))

    ax, ay = lonlat(x0, y0)
    bx, by = lonlat(x0 + w, y0)
    cx, cy = lonlat(x0, y0 + h)
    return s.select(
        F.concat(F.lit("g"), k).alias("poly_id"),
        F.array(
            F.struct(ax.alias("x"), ay.alias("y")),
            F.struct(bx.alias("x"), by.alias("y")),
            F.struct(cx.alias("x"), cy.alias("y")),
        ).alias("geometry"),
    )


def q_geo_pip_tiles(spark, sf_dir):
    from ..operators.images import polygon_tile_assignment

    return polygon_tile_assignment(_triangles_df(spark, sf_dir), 500.0)


def q_geo_pip_join(spark, sf_dir):
    """Broadcast cell-bucketed PIP join: customer points inside supplier
    triangles (north_star's point-in-polygon join form)."""
    from ..operators.images import pip_join

    return pip_join(
        _points_df(spark, sf_dir), _triangles_df(spark, sf_dir), res=9
    ).select(F.col("image_id").alias("point_id"), "poly_id")


def _geo_pip_sql() -> str:
    # roundtripped metric vertex coordinates, exactly like the Spark synth
    return f"""
WITH tri AS (
  SELECT 'g' || CAST(s_suppkey AS VARCHAR) AS poly_id,
    (({LON0!r} + (((s_suppkey * 53) % 180) * 35.0 + 0.25) / {_MX}) - {LON0!r}) * {_MX} AS x0,
    (({LAT0!r} + (((s_suppkey * 89) % 190) * 55.0 + 0.25) / {_MY}) - {LAT0!r}) * {_MY} AS y0,
    (({LON0!r} + ((((s_suppkey * 53) % 180) * 35.0 + 0.25) + (400 + (s_suppkey % 7) * 260)) / {_MX}) - {LON0!r}) * {_MX} AS x1,
    (({LAT0!r} + ((((s_suppkey * 89) % 190) * 55.0 + 0.25) + (350 + (s_suppkey % 5) * 330)) / {_MY}) - {LAT0!r}) * {_MY} AS y1
  FROM supplier
),
cand AS (
  -- range() cannot be laterally correlated in DuckDB: use a fixed offset
  -- grid (max triangle span is 1960 m < 5 tiles) bounded by the true bbox
  SELECT poly_id, x0, y0, x1, y1, tx, ty,
         (tx + 0.5) * 500.0 AS qx, (ty + 0.5) * 500.0 AS qy
  FROM (
    SELECT *,
           CAST(FLOOR(x0 / 500.0) AS BIGINT) + dxs.range AS tx,
           CAST(FLOOR(y0 / 500.0) AS BIGINT) + dys.range AS ty
    FROM tri, range(0, 6) dxs, range(0, 6) dys
  )
  WHERE tx <= CAST(FLOOR(x1 / 500.0) AS BIGINT)
    AND ty <= CAST(FLOOR(y1 / 500.0) AS BIGINT)
),
par AS (
  SELECT poly_id, tx, ty,
    -- edge V1(x1,y0) -> V2(x0,y1): xint = x1 + (qy-y0)/(y1-y0)*(x0-x1)
    (CASE WHEN (y0 > qy) <> (y1 > qy)
               AND qx < x1 + (qy - y0) / (y1 - y0) * (x0 - x1)
          THEN 1 ELSE 0 END
     -- edge V2(x0,y1) -> V0(x0,y0): xint = x0 + (qy-y1)/(y0-y1)*0 = x0
   + CASE WHEN (y1 > qy) <> (y0 > qy) AND qx < x0 THEN 1 ELSE 0 END) AS crossings
  FROM cand
)
SELECT poly_id,
       ((tx + 1073741824) * 2147483648)
       + ((ty + 1073741824) & 2147483647) AS tile_id
FROM par WHERE crossings % 2 = 1
"""


# ---------------------------------------------------------------------------
# geo_s2_cells: S2 leaf + level-16 parent (no SQL mirror: Hilbert curve) —
# rows-only driver check; exactness is covered by pytest property tests
# ---------------------------------------------------------------------------

def q_geo_s2_cells(spark, sf_dir):
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def s2_leaf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(C.s2_encode(lon.to_numpy(), lat.to_numpy()))

    @F.pandas_udf(LongType())
    def s2_l16(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(C.s2_parent(C.s2_encode(lon.to_numpy(), lat.to_numpy()), 16))

    pts = _points_df(spark, sf_dir)
    return pts.select(
        F.col("image_id").alias("point_id"),
        s2_leaf("lon", "lat").alias("s2_leaf"),
        s2_l16("lon", "lat").alias("s2_l16"),
    )


# ---------------------------------------------------------------------------
# geo_sidepath_vote: full stage-1 vote over synthesized roads+paths (J1/A1-A9)
# ---------------------------------------------------------------------------

_HW10 = ["residential", "primary", "secondary", "unclassified", "living_street"]


def q_geo_sidepath_vote(spark, sf_dir):
    from ..operators.conform import conform_ways
    from ..operators.sidepath import sidepath_stage

    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    key = F.col("s_suppkey")
    ax = ((key * 53) % 180).cast("double") * 35.0 + 0.25
    ay = ((key * 89) % 190).cast("double") * 55.0 + 0.25
    rlen = (230 + (key % 11) * 93).cast("double")
    plen = (160 + (key % 9) * 97).cast("double")
    off = ((key * 7) % 80).cast("double") - 40.0 + 0.5

    def lonlat(xm, ym):
        return (F.lit(LON0) + xm / F.lit(MPD_X)), (F.lit(LAT0) + ym / F.lit(MPD_Y))

    r_lon0, r_lat = lonlat(ax, ay)
    r_lon1, _ = lonlat(ax + rlen, ay)
    p_lon0, p_lat = lonlat(ax, ay + off)
    p_lon1, _ = lonlat(ax + plen, ay + off)

    hw = F.lit(None).cast("string")
    for i, h in enumerate(_HW10):
        hw = F.when(key % 5 == i, F.lit(h)).otherwise(hw)
    roads = s.select(
        F.concat(F.lit("w"), key).alias("id"),
        F.array(F.struct(r_lon0.alias("x"), r_lat.alias("y")),
                F.struct(r_lon1.alias("x"), r_lat.alias("y"))).alias("geometry"),
        hw.alias("highway"),
        F.concat(F.lit("S"), key % 7).alias("name"),
        F.when(key % 3 == 0, "30").when(key % 3 == 1, "50").alias("maxspeed"),
    )
    phw = (
        F.when(key % 3 == 0, "cycleway").when(key % 3 == 1, "footway").otherwise(F.lit("path"))
    )
    paths = s.select(
        F.concat(F.lit("p"), key).alias("id"),
        F.array(F.struct(p_lon0.alias("x"), p_lat.alias("y")),
                F.struct(p_lon1.alias("x"), p_lat.alias("y"))).alias("geometry"),
        phw.alias("highway"),
        F.lit(None).cast("string").alias("name"),
        F.lit(None).cast("string").alias("maxspeed"),
    ).withColumn("bicycle", F.lit("yes"))
    ways = roads.unionByName(paths, allowMissingColumns=True)
    out = sidepath_stage(conform_ways(ways))
    return out.where(F.col("id").startswith("p")).select(
        "id", "proc_sidepath", "proc_highway",
        F.col("proc_maxspeed").cast("int").alias("proc_maxspeed"), "name",
    )


def _geo_vote_sql() -> str:
    hw_case = "CASE " + " ".join(
        f"WHEN key % 5 = {i} THEN '{h}'" for i, h in enumerate(_HW10)
    ) + " END"
    rank_case = "CASE " + " ".join(
        f"WHEN road_highway = '{h}' THEN {P.HIGHWAY_CLASS_LIST.index(h)}"
        for h in _HW10
    ) + f" ELSE {len(P.HIGHWAY_CLASS_LIST) - 1} END"
    return f"""
WITH raw AS (
  SELECT s_suppkey AS key,
         (((s_suppkey * 53) % 180) * 35.0 + 0.25) AS axr,
         (((s_suppkey * 89) % 190) * 55.0 + 0.25) AS ayr,
         (230 + (s_suppkey % 11) * 93) AS rlen,
         (160 + (s_suppkey % 9) * 97) AS plen,
         (((s_suppkey * 7) % 80) - 40.0 + 0.5) AS off
  FROM supplier
),
segs AS (
  SELECT 'w' || CAST(key AS VARCHAR) AS road_id, {hw_case} AS road_highway,
         'S' || CAST(key % 7 AS VARCHAR) AS road_name,
         CASE WHEN key % 3 = 0 THEN 30.0 WHEN key % 3 = 1 THEN 50.0 END AS road_maxspeed,
         (({LON0!r} + axr / {_MX}) - {LON0!r}) * {_MX} AS ax,
         (({LAT0!r} + ayr / {_MY}) - {LAT0!r}) * {_MY} AS ay,
         (({LON0!r} + (axr + rlen) / {_MX}) - {LON0!r}) * {_MX} AS bx,
         (({LAT0!r} + ayr / {_MY}) - {LAT0!r}) * {_MY} AS by
  FROM raw
),
paths AS (
  SELECT 'p' || CAST(key AS VARCHAR) AS pid, key, plen,
         (({LON0!r} + axr / {_MX}) - {LON0!r}) * {_MX} AS x0,
         (({LAT0!r} + (ayr + off) / {_MY}) - {LAT0!r}) * {_MY} AS y0,
         (({LON0!r} + (axr + plen) / {_MX}) - {LON0!r}) * {_MX} AS x1
  FROM raw
),
chk AS (  -- check points every 100 m + endpoint
  SELECT pid, i,
         CASE WHEN i < 0 THEN x1
              ELSE x0 + (i * 100.0 / (x1 - x0)) * (x1 - x0) END AS px,
         y0 AS py
  FROM paths, UNNEST(list_append(range(0, CAST(FLOOR(plen / 100.0) AS BIGINT) + 1), -1)) AS t(i)
),
checks AS (SELECT pid, COUNT(*) AS checks FROM chk GROUP BY pid),
hits AS (
  SELECT DISTINCT c.pid, c.i, s.road_id, s.road_highway, s.road_name, s.road_maxspeed
  FROM chk c CROSS JOIN segs s
  WHERE {_DIST_SQL} <= 22.0
),
vid AS (SELECT pid, MAX(CASE WHEN ok THEN 1 ELSE 0 END) AS v FROM (
  SELECT h.pid, h.road_id,
         CASE WHEN k.checks <= 2 THEN COUNT(*) = k.checks
              ELSE COUNT(*) >= k.checks * 0.66 END AS ok
  FROM hits h JOIN checks k USING (pid) GROUP BY h.pid, h.road_id, k.checks
) GROUP BY pid),
vhw AS (SELECT pid, MAX(CASE WHEN ok THEN 1 ELSE 0 END) AS v FROM (
  SELECT h.pid, h.road_highway,
         CASE WHEN k.checks <= 2 THEN COUNT(*) = k.checks
              ELSE COUNT(*) >= k.checks * 0.66 END AS ok
  FROM hits h JOIN checks k USING (pid) GROUP BY h.pid, h.road_highway, k.checks
) GROUP BY pid),
vnm AS (SELECT pid, MAX(CASE WHEN ok THEN 1 ELSE 0 END) AS v FROM (
  SELECT h.pid, h.road_name,
         CASE WHEN k.checks <= 2 THEN COUNT(*) = k.checks
              ELSE COUNT(*) >= k.checks * 0.66 END AS ok
  FROM hits h JOIN checks k USING (pid) GROUP BY h.pid, h.road_name, k.checks
) GROUP BY pid),
cls AS (
  SELECT pid, road_highway AS derived_class FROM (
    SELECT pid, road_highway,
           ROW_NUMBER() OVER (PARTITION BY pid
             ORDER BY COUNT(*) DESC, {rank_case} ASC) AS rn
    FROM hits GROUP BY pid, road_highway
  ) WHERE rn = 1
),
ms AS (
  SELECT pid, road_highway, MAX(road_maxspeed) AS ms
  FROM hits GROUP BY pid, road_highway
),
nm AS (
  SELECT pid, road_name AS vote_name FROM (
    SELECT pid, road_name,
           ROW_NUMBER() OVER (PARTITION BY pid
             ORDER BY COUNT(*) DESC, road_name ASC NULLS FIRST) AS rn
    FROM hits GROUP BY pid, road_name
  ) WHERE rn = 1
),
votes AS (
  SELECT p.pid,
         CASE WHEN COALESCE(vid.v, 0) = 1 OR COALESCE(vhw.v, 0) = 1
                   OR COALESCE(vnm.v, 0) = 1
              THEN 'yes' ELSE 'no' END AS proc_sidepath
  FROM paths p
  LEFT JOIN vid ON vid.pid = p.pid
  LEFT JOIN vhw ON vhw.pid = p.pid
  LEFT JOIN vnm ON vnm.pid = p.pid
)
SELECT v.pid AS id, v.proc_sidepath,
       CASE WHEN v.proc_sidepath = 'yes' THEN cls.derived_class END AS proc_highway,
       CAST(CASE WHEN v.proc_sidepath = 'yes' AND cls.derived_class IS NOT NULL
                      AND ms.ms IS NOT NULL AND ms.ms <> 0
                 THEN ms.ms END AS INT) AS proc_maxspeed,
       CASE WHEN v.proc_sidepath = 'yes' AND nm.vote_name IS NOT NULL
            THEN nm.vote_name END AS name
FROM votes v
LEFT JOIN cls ON cls.pid = v.pid
LEFT JOIN nm ON nm.pid = v.pid
LEFT JOIN ms ON ms.pid = v.pid AND ms.road_highway = cls.derived_class
"""


def _geo_pip_join_sql() -> str:
    """Exact mirror of q_geo_pip_join: the cell-bucketing only generates
    candidates (inside => shares a covering cell), so the oracle verifies
    the semantics with a plain cross join + the identical per-edge crossing
    formulas (edge A->B is horizontal and can never cross the +x ray)."""
    return f"""
WITH {_POINTS_SQL},
tri AS (
  SELECT 'g' || CAST(s_suppkey AS VARCHAR) AS poly_id,
    (({LON0!r} + (((s_suppkey * 53) % 180) * 35.0 + 0.25) / {_MX}) - {LON0!r}) * {_MX} AS x0,
    (({LAT0!r} + (((s_suppkey * 89) % 190) * 55.0 + 0.25) / {_MY}) - {LAT0!r}) * {_MY} AS y0,
    (({LON0!r} + ((((s_suppkey * 53) % 180) * 35.0 + 0.25) + (400 + (s_suppkey % 7) * 260)) / {_MX}) - {LON0!r}) * {_MX} AS x1,
    (({LAT0!r} + ((((s_suppkey * 89) % 190) * 55.0 + 0.25) + (350 + (s_suppkey % 5) * 330)) / {_MY}) - {LAT0!r}) * {_MY} AS y1
  FROM supplier
),
par AS (
  SELECT pts.image_id AS point_id, tri.poly_id,
    (CASE WHEN (y0 > py) <> (y1 > py)
               AND px < x1 + (py - y0) / (y1 - y0) * (x0 - x1)
          THEN 1 ELSE 0 END
   + CASE WHEN (y1 > py) <> (y0 > py)
               AND px < x0 + (py - y1) / (y0 - y1) * (x0 - x0)
          THEN 1 ELSE 0 END) AS crossings
  FROM pts CROSS JOIN tri
)
SELECT point_id, poly_id FROM par WHERE crossings % 2 = 1
"""


def q_cqi_score_ways(spark, sf_dir):
    from .cqi_query import q_cqi_score_ways as _q

    return _q(spark, sf_dir)


def _cqi_oracle() -> str:
    from .cqi_query import cqi_oracle_sql

    return cqi_oracle_sql()


def _roads_query(spark, sf_dir):
    from .cqi_roads_query import q_cqi_score_roads_full

    return q_cqi_score_roads_full(spark, sf_dir)


def _offset_query(spark, sf_dir):
    from .offset_query import q_cqi_offset_split

    return q_cqi_offset_split(spark, sf_dir)


def _roads_oracle() -> str:
    from .cqi_roads_query import cqi_roads_oracle_sql

    return cqi_roads_oracle_sql()


def _offset_oracle() -> str:
    from .offset_query import offset_oracle_sql

    return offset_oracle_sql()


QUERIES = {
    "cqi_score_ways": q_cqi_score_ways,
    "cqi_score_roads_full": _roads_query,
    "cqi_offset_split": _offset_query,
    "geo_knn": q_geo_knn,
    "geo_knn_broadcast": q_geo_knn_broadcast,
    "geo_hex_cells": q_geo_hex_cells,
    "geo_point_tiles": q_geo_point_tiles,
    "geo_pip_tiles": q_geo_pip_tiles,
    "geo_pip_join": q_geo_pip_join,
    "geo_s2_cells": q_geo_s2_cells,
    "geo_sidepath_vote": q_geo_sidepath_vote,
}

ORACLES = {
    "cqi_score_ways": _cqi_oracle(),
    "cqi_score_roads_full": _roads_oracle(),
    "cqi_offset_split": _offset_oracle(),
    "geo_knn": GEO_KNN_SQL,
    "geo_knn_broadcast": GEO_KNN_SQL,
    "geo_hex_cells": GEO_HEX_SQL,
    "geo_point_tiles": GEO_TILES_SQL,
    "geo_pip_tiles": _geo_pip_sql(),
    "geo_pip_join": _geo_pip_join_sql(),
    # geo_s2_cells: the Hilbert curve has no reasonable SQL form, so the
    # mirror is a committed expected table (generated once from the engine at
    # sf0.01, hierarchy/adjacency-property-tested in tests/test_cells.py)
    "geo_s2_cells": (
        "SELECT point_id, s2_leaf, s2_l16 FROM "
        "read_parquet('/root/repo/tests/golden/geo_s2_sf001.parquet')"
    ),
    "geo_sidepath_vote": _geo_vote_sql(),
}
