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
   same segment/cell rows as the geotag and kNN joins, built on the driver
   (``images._csr_level``) or in Spark (``images._way_segments_cells``);
4. the cell lookup, the same-layer predicate (J1a, NULL-safe) and the exact
   point-to-segment distance refine;
5. one numpy vote (:func:`_vote`) replaces the driver-side dict, counting
   distinct check points: a path is a sidepath when >= 2/3 of its check
   points see the same road id, highway class or name (== all of them when
   checks <= 2, :317-341).

Every path row votes on its own geometry, as each feature does in the
reference, and every input row comes out once, with its vote or NULLs.

Scale notes: the roads side is a dimension.  When its index fits a broadcast
(``images._broadcast_index``, the rule every broadcast spatial join shares),
steps 1-5 run in one ``mapInArrow`` kernel per batch of rows against the
broadcast CSR index, the rows passing through it: no shuffle, no join and
no persist.  Otherwise steps 2-4 are a cell-keyed shuffle join (AQE
skew-join handles dense urban cells; only ids, 4 doubles and join keys ride
it, never geometry), step 5 runs once per hash bucket of paths through
``groupBy(...).applyInArrow``, and the votes join back on the path's id and
a hash of its layer and geometry.  Both forms give the same rows (tested).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, DoubleType, LongType, MapType, StringType, StructField,
    StructType,
)

from .. import params as P
from ..functions.fold import Tags
from ..functions.nulls import truthy
from ..functions.tags import get_number, normalize_maxspeed
from ..geo.cols import hex_cell_cols
from ..geo.udfs import checkpoints, checkpoints_udf, point_segment_distance_cols
from .images import (
    _broadcast_index, _broadcast_map, _collect_ways, _csr_level, _csr_pairs,
    _way_segments_cells,
)

_RES = 9  # hexcell resolution: 22 m disc fits in ring-1 (edge ~174 m)


def _road_cols() -> tuple:
    """The road columns the vote reads, as the shuffle form's rows name them."""
    return (
        F.col("id").alias("road_id"),
        F.col("layer").alias("road_layer"),
        F.col("highway").alias("road_highway"),
        F.col("name").alias("road_name"),
        get_number(F.col("maxspeed")).alias("road_maxspeed"),
    )


#: A7 rank of a highway class in HIGHWAY_CLASS_LIST (:345-354); a NULL or
#: unlisted class ranks last
_RANK = {c: i for i, c in enumerate(P.HIGHWAY_CLASS_LIST) if c is not None}
_LAST = len(P.HIGHWAY_CLASS_LIST) - 1
#: class_maxspeeds key of the NULL class
_NULL_CLASS = "~~null~~"


def _codes(values: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """Sorted dictionary codes of an Arrow column: ``codes[i]`` indexes
    ``vals``, -1 for NULL, so code order is Spark's string order with NULL
    lowest."""
    vals = pc.unique(values.drop_null())
    vals = vals.take(pc.sort_indices(vals))
    codes = pc.index_in(values, value_set=vals).fill_null(-1)
    return codes.to_numpy(zero_copy_only=False).astype(np.int64), vals


def _runs(*keys: np.ndarray) -> np.ndarray:
    """Start of every run of equal rows in key arrays that are sorted."""
    new = np.ones(len(keys[0]), dtype=bool)
    if len(new) > 1:
        new[1:] = np.any([k[1:] != k[:-1] for k in keys], axis=0)
    return np.flatnonzero(new)


def _last_per_path(gp: np.ndarray, *keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(path, group) of the greatest group of each path by ``keys``
    (most significant first)."""
    order = np.lexsort((*keys[::-1], gp))
    ends = np.append(_runs(gp[order])[1:], len(order))[:len(order)] - 1
    return gp[order][ends], order[ends]


_VOTE_COLS = {
    "checks": LongType(), "vote_yes": BooleanType(), "derived_class": StringType(),
    "class_maxspeeds": MapType(StringType(), DoubleType()), "vote_name": StringType(),
}


def _road_keys(cols: dict) -> tuple[dict, pa.Array, pa.Array]:
    """What the vote reads of each road, from its Arrow columns (named as
    in :func:`_road_cols`): ``rid``, ``hw`` and ``name`` codes
    (:func:`_codes`), the maxspeed ``ms`` and ``ms_ok`` (False for NULL);
    then the ``hw`` and ``name`` values the codes index."""
    hw, hw_vals = _codes(cols["road_highway"])
    name, name_vals = _codes(cols["road_name"])
    ms = cols["road_maxspeed"]
    return ({"rid": _codes(cols["road_id"])[0], "hw": hw, "name": name,
             "ms": ms.to_numpy(zero_copy_only=False).astype(np.float64),
             "ms_ok": ~ms.is_null().to_numpy(zero_copy_only=False)},
            hw_vals, name_vals)


def _vote(checks: np.ndarray, p: np.ndarray, c: np.ndarray, road: dict,
          hw_vals: pa.Array, name_vals: pa.Array) -> list[pa.Array]:
    """The A1-A9 vote of a batch of paths, in numpy: the :data:`_VOTE_COLS`
    arrays, one row per path ``i`` with ``checks[i]`` check points.  The
    hits are (check point, road) rows, repeats allowed: path ``p``, check
    point ``c`` (unique across the batch) and the road's :func:`_road_keys`
    arrays in ``road``.

    Same semantics as the reference's dict: a vote key counts the distinct
    check points that see it, NULL highway and name groups vote, and a
    path's class maxspeed is the max over its hits of that class.  Ties:
    ``derived_class`` is the max of (count, -rank, class) with a NULL class
    lowest; ``vote_name`` the max count, then the least name, NULL first."""
    n = len(checks)
    yes = np.zeros(n, dtype=bool)
    out = {}
    for kind in ("rid", "hw", "name"):
        k = road[kind]
        order = np.lexsort((c, k, p))
        first = _runs(p[order], k[order], c[order])
        pk, kk = p[order][first], k[order][first]
        g = _runs(pk, kk)
        gp, gk = pk[g], kk[g]
        cnt = np.diff(np.append(g, len(pk)))
        chk = checks[gp]
        flag = np.where(chk <= 2, cnt == chk, cnt >= chk * 0.66)
        yes[gp[flag]] = True
        out[kind] = (gp, gk, cnt)

    gp, gk, cnt = out["hw"]
    rank = np.array([_RANK.get(v, _LAST) for v in hw_vals.to_pylist()] + [_LAST])[gk]
    derived = np.full(n, -1, dtype=np.int64)
    at, win = _last_per_path(gp, cnt, -rank, gk)
    derived[at] = gk[win]
    np_, nk, ncnt = out["name"]
    name = np.full(n, -1, dtype=np.int64)
    at, win = _last_per_path(np_, ncnt, -nk)
    name[at] = nk[win]

    # class_maxspeeds: per (path, class) — the groups of gp/gk, in their
    # order — the max maxspeed of its hits; a NaN stays the max, as in Spark
    order = np.lexsort((road["hw"], p))
    g = _runs(p[order], road["hw"][order])
    ms = np.maximum.reduceat(np.where(road["ms_ok"], road["ms"], -np.inf)[order], g)
    ms_ok = np.logical_or.reduceat(road["ms_ok"][order], g)
    per_path = np.bincount(gp, minlength=n)
    offsets = np.concatenate([[0], np.cumsum(per_path)])
    maxspeeds = pa.MapArray.from_arrays(
        pa.array(offsets, pa.int32(), mask=np.append(per_path == 0, False)),
        _strings(gk, hw_vals).fill_null(_NULL_CLASS),
        pa.array(ms, pa.float64(), mask=~ms_ok))
    return [pa.array(checks, pa.int64()), pa.array(yes), _strings(derived, hw_vals),
            maxspeeds, _strings(name, name_vals)]


def _strings(code: np.ndarray, vals: pa.Array) -> pa.Array:
    """The strings of :func:`_codes` codes, NULL for -1."""
    return vals.cast(pa.string()).take(pa.array(code, pa.int64(), mask=code < 0))


_VOTE_FIELDS = [StructField(k, t) for k, t in _VOTE_COLS.items()]


def _road_index(roads: DataFrame) -> dict:
    """The broadcast form's dimension: the roads' res-9 ring-1 CSR level
    (rows keyed by the road's row in the collect) and the road columns the
    vote reads, from one Arrow collect."""
    raw = _collect_ways(roads, *_road_cols())
    level = _csr_level(dict(raw, wid=np.arange(len(raw["offsets"]) - 1)), _RES, 1)
    layer, layers = _codes(raw["cols"]["road_layer"])
    return {
        "level": {k: level[k] for k in ("res", "cells", "starts", "seg", "wid")},
        "layer": layer, "layers": layers, "roads": _road_keys(raw["cols"]),
    }


def _vote_kernel(idx: dict, b: pa.RecordBatch):
    """Steps 1-5 over one batch of rows against the broadcast road index
    (a :func:`images._broadcast_map` kernel): every row passes through, and
    a ``_path`` row gains its vote."""
    keys, hw_vals, name_vals = idx["roads"]
    rows = np.flatnonzero(b.column("_path").to_numpy(zero_copy_only=False))
    # step 1: check points exactly as checkpoints_udf makes them
    px, py, off = checkpoints(b.column("geometry").take(rows))
    npts = np.diff(off)
    has = np.flatnonzero(npts)
    checks = npts[has]
    path = np.repeat(np.arange(len(has)), checks)
    # steps 2-4: cell lookup, distance refine, same layer (NULL-safe:
    # NULL == NULL; a layer no road has matches none)
    pt = road = np.array([], np.int64)
    pairs = _csr_pairs(idx["level"], px, py)
    if pairs is not None:
        _, pt, road, d = pairs
        col = b.column("layer").take(rows[has])
        layer = np.where(
            col.is_null().to_numpy(zero_copy_only=False), -1,
            pc.index_in(col, value_set=idx["layers"]).fill_null(-2)
            .to_numpy(zero_copy_only=False))
        keep = (d <= P.SIDEPATH_BUFFER_SIZE) & (layer[path[pt]] == idx["layer"][road])
        pt, road = pt[keep], road[keep]
    votes = _vote(checks, path[pt], pt, {k: v[road] for k, v in keys.items()},
                  hw_vals, name_vals)
    at = np.full(b.num_rows, -1, dtype=np.int64)
    at[rows[has]] = np.arange(len(has))
    at = pa.array(at, mask=at < 0)
    return None, [v.take(at) for v in votes]


def _vote_bucket(tbl: pa.Table) -> pa.Table:
    """Step 5 of the shuffle form for one hash bucket of paths, a path being
    an ``(id, _key)`` group: its every check point once, with its hits
    (``segs`` > 0) distinct per road."""
    idc = _codes(tbl.column("id"))[0]
    key = tbl.column("_key").to_numpy()
    chk = tbl.column("chk_idx").to_numpy()
    order = np.lexsort((chk, key, idc))
    tbl, idc, key, chk = tbl.take(order), idc[order], key[order], chk[order]
    starts = _runs(idc, key)
    p = np.repeat(np.arange(len(starts)), np.diff(np.append(starts, len(idc))))
    new = np.zeros(len(idc), dtype=bool)
    new[_runs(idc, key, chk)] = True
    c = np.cumsum(new) - 1
    checks = np.bincount(p[new], minlength=len(starts))
    hit = tbl.column("segs").to_numpy() > 0
    hits = tbl.filter(pa.array(hit))
    votes = _vote(checks, p[hit], c[hit],
                  *_road_keys({n: hits.column(n) for n in hits.column_names}))
    return pa.Table.from_arrays(
        [tbl.column("id").take(starts), tbl.column("_key").take(starts), *votes],
        names=["_vid", "_vkey", *_VOTE_COLS])


def _shuffle_votes(df: DataFrame, roads: DataFrame) -> DataFrame:
    """Steps 1-4 as a cell-keyed shuffle join, step 5 once per hash bucket
    of paths through ``groupBy(...).applyInArrow``.  A left join keeps every
    check point, so the vote counts those without a hit too.  The votes
    join back to their rows on the id and ``_key``, a hash of the path's
    layer and geometry, so path rows that share an id vote apart (rows
    equal in id, layer and geometry share one vote row)."""
    spark = df.sparkSession
    df = df.withColumn("_key", F.xxhash64("layer", "geometry"))
    pts = df.where("_path").select(
        "id", "_key", "layer",
        F.posexplode(checkpoints_udf("geometry")).alias("chk_idx", "pt"),
    ).select("id", "_key", "layer", "chk_idx",
             F.col("pt.px").alias("px"), F.col("pt.py").alias("py"))
    pts = pts.withColumn("cell", hex_cell_cols(F.col("px"), F.col("py"), _RES))
    rsegs = _way_segments_cells(roads, _RES, 1, carry=_road_cols()) \
        .withColumnRenamed("cell", "road_cell")
    dist = point_segment_distance_cols(
        F.col("px"), F.col("py"), F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"))
    cand = pts.join(
        rsegs,
        (F.col("cell") == F.col("road_cell"))
        # J1a: only roads in the same OSM layer (:255-257); QGIS compares
        # with Python != where NULL == NULL holds
        & F.col("layer").eqNullSafe(F.col("road_layer"))
        & (dist <= F.lit(P.SIDEPATH_BUFFER_SIZE)),
        "left",
    )
    # a (check point, road) pair counts once no matter how many segments or
    # cells matched (:250-269 dedupes via id_list/highway_list)
    hits = cand.groupBy("id", "_key", "chk_idx", "road_id", "road_highway", "road_name").agg(
        F.max("road_maxspeed").alias("road_maxspeed"), F.count("ax").alias("segs"))
    buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    votes = hits.withColumn("_bucket", F.pmod(F.xxhash64("id", "_key"), F.lit(buckets))) \
        .groupBy("_bucket").applyInArrow(_vote_bucket, StructType([
            StructField("_vid", df.schema["id"].dataType),
            StructField("_vkey", LongType()), *_VOTE_FIELDS]))
    out = df.join(votes, F.col("id").eqNullSafe(F.col("_vid"))
                  & (F.col("_key") == F.col("_vkey")), "left")
    return out.drop("_path", "_key", "_vid", "_vkey")


def sidepath_votes(df: DataFrame, is_path: Column, is_road: Column) -> DataFrame:
    """Every row of ``df``, fanned out (``dedup.fan_out``), with the vote of
    each ``is_path`` row against the ``is_road`` rows: (checks, vote_yes,
    derived_class, class_maxspeeds map, vote_name), NULL on other rows and
    on paths without a check point.  Each path row votes on its own
    geometry.  The broadcast form runs when the roads' index fits a
    broadcast (``images._broadcast_index``), else the shuffle form."""
    from .dedup import fan_out

    # the broadcast collect scans the input, not the fan-out exchange
    index = _broadcast_index(df.filter(is_road), _road_index)
    path = F.coalesce(is_path, F.lit(False))
    if index is None:
        df = fan_out(df).withColumn("_path", path)
        return _shuffle_votes(df, df.filter(is_road))
    return _broadcast_map(df.withColumn("_path", path), index, _vote_kernel,
                          _VOTE_FIELDS).drop("_path")


def sidepath_stage(df: DataFrame) -> DataFrame:
    """Full stage 1: split paths/roads, vote, write back
    proc_sidepath/proc_highway/proc_maxspeed and the transferred name
    (reference/cycling_quality_index.py:210-366).

    The stage's per-row work (the check points and the vote kernel, and
    every layer downstream) must run at the cluster's width, so
    :func:`sidepath_votes` fans the input out first (one-row-group local
    fixtures scan as 1-2 partitions; already-wide or shuffled inputs — the
    cluster case — pass through untouched).  It keeps every row, so the
    layout never affects results."""
    t = Tags(df)
    # the vote reads these tags by name: an absent one is a NULL column
    missing = [n for n in ("layer", "name", "maxspeed") if n not in t]
    if missing:
        df = df.withColumns({n: F.lit(None).cast("string") for n in missing})
    highway = t("highway")
    is_path = highway.isin(P.PATH_HIGHWAY_LIST)
    # P4: QGIS `IS NOT` keeps NULL highway in the roads layer (:219)
    is_road = highway.isNull() | ~highway.isin(P.PATH_HIGHWAY_LIST + ["track"])

    # rows sorted by id within each partition: ways whose ids sort together
    # share their tags, so the written stages compress better than in the
    # fan-out's order (the benchmark city's snapshot by 4%)
    out = sidepath_votes(df, is_path, is_road).sortWithinPartitions("id")

    tag = t("is_sidepath")
    tag = F.when(t("footway") == "sidewalk", F.lit("yes")).otherwise(tag)
    proc_sidepath = F.when(
        truthy(tag), tag
    ).otherwise(F.when(F.col("vote_yes"), F.lit("yes")).otherwise(F.lit("no")))

    is_sidepath_of = F.when(truthy(t("is_sidepath:of")), t("is_sidepath:of")).otherwise(
        F.when(proc_sidepath == "yes", F.col("derived_class"))
    )
    vote_ms = F.col("class_maxspeeds")[F.coalesce(is_sidepath_of, F.lit(_NULL_CLASS))]
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
    return out.drop(*_VOTE_COLS)
