"""Arrow UDFs over the numpy geometry kernels, and the geometry codec.

:func:`decode` is the one place that knows the geometry batch layout: it
turns an Arrow batch into flat ``(lon, lat, offsets)`` numpy arrays without
building a Python object per vertex.  :func:`ways_apply` calls a numpy kernel
once per way on slices of those arrays, and :func:`map_ways` builds the
Arrow list result from its output; the segmentation UDF calls its kernel
once per batch.  The one Python loop
below the way level is the tile rasterizer's, once per segment
(:func:`geo.kernels.rasterize_segment_tiles`).

Geometry is ``array<struct<x:double,y:double>>`` in EPSG:4326 (x=lon, y=lat),
matching the reference's LineString features
(reference/cycling_quality_index.py:66).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StructField, StructType,
)

from . import cells as C
from . import kernels as K

GEOMETRY_TYPE = ArrayType(
    StructType([StructField("x", DoubleType()), StructField("y", DoubleType())])
)

_POINT_TYPE = ArrayType(
    StructType([StructField("px", DoubleType()), StructField("py", DoubleType())])
)

_SEGMENT_TYPE = ArrayType(
    StructType([
        StructField("ax", DoubleType()),
        StructField("ay", DoubleType()),
        StructField("bx", DoubleType()),
        StructField("by", DoubleType()),
        StructField("cells", ArrayType(LongType())),
    ])
)


def decode(geom: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The geometry codec: one Arrow batch of ``array<struct<x,y>>`` to flat
    ``(lon, lat, offsets)`` numpy arrays, way ``i`` owning vertices
    ``offsets[i]:offsets[i + 1]``.  A NULL geometry decodes as an empty way;
    a NULL vertex (or a NULL coordinate) has no defined position and raises
    ``ValueError``."""
    if isinstance(geom, pa.ChunkedArray):
        geom = geom.combine_chunks()
    lens = pc.list_value_length(geom).fill_null(0).to_numpy(zero_copy_only=False)
    pts = geom.flatten()
    lon, lat = (pts.flatten()[pts.type.get_field_index(k)] for k in ("x", "y"))
    if lon.null_count or lat.null_count:
        raise ValueError("geometry has a NULL vertex")
    return (lon.to_numpy(zero_copy_only=False), lat.to_numpy(zero_copy_only=False),
            np.concatenate([[0], np.cumsum(lens, dtype=np.int64)]))


def _lists(offsets: np.ndarray, values: pa.Array) -> pa.Array:
    """Arrow list array: row ``i`` holds ``values[offsets[i]:offsets[i + 1]]``."""
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values)


def ways_apply(kernel, n_out: int, geom: pa.Array, *args: pa.Array,
               min_vertices: int = 1) -> tuple[list[np.ndarray], np.ndarray]:
    """Per way of one Arrow batch: ``kernel(lon, lat, *row_args)`` on the
    way's slice of the decoded arrays, returning ``n_out`` numpy columns.
    Returns those columns back to back over the batch, and the offsets of
    each way's rows in them.  Ways with fewer than ``min_vertices``
    vertices, a NULL geometry included, get no rows and no kernel call."""
    lon, lat, off = decode(geom)
    args = [a.to_numpy(zero_copy_only=False) for a in args]
    cols: list[list[np.ndarray]] = [[] for _ in range(n_out)]
    lens = np.zeros(len(off) - 1, dtype=np.int64)
    for i, (s, e) in enumerate(zip(off[:-1].tolist(), off[1:].tolist())):
        if e - s >= min_vertices:
            out = kernel(lon[s:e], lat[s:e], *(a[i] for a in args))
            lens[i] = len(out[0])
            for c, v in zip(cols, out):
                c.append(v)
    return ([np.concatenate(c) if c else np.empty(0) for c in cols],
            np.concatenate([[0], np.cumsum(lens)]))


def map_ways(out_type: ArrayType, kernel, geom: pa.Array, *args: pa.Array,
             min_vertices: int = 1) -> pa.Array:
    """:func:`ways_apply` as an Arrow column: the kernel returns one numpy
    column per field of ``out_type``'s elements (one column for a list of
    scalars), and they become each way's ``out_type`` list; a way without
    rows maps to an empty list."""
    elem = to_arrow_type(out_type).value_type
    fields = list(elem) if pa.types.is_struct(elem) else [pa.field("v", elem)]
    cols, offsets = ways_apply(kernel, len(fields), geom, *args,
                               min_vertices=min_vertices)
    vals = [pa.array(c, f.type) for c, f in zip(cols, fields)]
    values = (pa.StructArray.from_arrays(vals, fields=fields)
              if pa.types.is_struct(elem) else vals[0])
    return _lists(offsets, values)


def checkpoints(geom: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """G1+G2+U1 on one Arrow batch: check points every 100 m along each way
    + its last vertex, in metric coordinates
    (reference/cycling_quality_index.py:223-225), as flat ``(px, py,
    offsets)`` arrays, way ``i`` owning points ``offsets[i]:offsets[i + 1]``;
    a NULL or empty way has none."""
    from .. import params as P

    (px, py), offsets = ways_apply(lambda lon, lat: K.points_along_line(
        lon, lat, P.SIDEPATH_BUFFER_DISTANCE), 2, geom)
    return px, py, offsets


@F.arrow_udf(_POINT_TYPE)
def checkpoints_udf(geom: pa.Array) -> pa.Array:
    """:func:`checkpoints` as one ``array<struct<px, py>>`` per way."""
    px, py, offsets = checkpoints(geom)
    return _lists(offsets, pa.StructArray.from_arrays(
        [pa.array(px, pa.float64()), pa.array(py, pa.float64())], names=["px", "py"]))


def make_point_cell_udf(res: int):
    """(lon, lat) -> single hexcell id."""

    @F.pandas_udf(LongType())
    def point_cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(C.hex_encode(lon.to_numpy(), lat.to_numpy(), res))

    return point_cell


def make_segments_udf(res: int):
    """Geometry -> segments with their covering hexcells (sampled at half the
    cell edge, so any point within ring-1 of a segment point shares a cell
    with a sample — the prefilter guarantee of join J1).  One
    :func:`geo.cells.segment_cells` call per Arrow batch."""

    @F.arrow_udf(_SEGMENT_TYPE)
    def segments(geom: pa.Array) -> pa.Array:
        lon, lat, off = decode(geom)
        x, y = K.project(lon, lat)
        (line, ax, ay, bx, by), (seg, cell) = C.segment_cells(x, y, off, res)
        # each segment's cells, then each way's segments, as list offsets
        cells = _lists(np.searchsorted(seg, np.arange(len(line) + 1)), pa.array(cell))
        segs = pa.StructArray.from_arrays(
            [ax, ay, bx, by, cells], names=["ax", "ay", "bx", "by", "cells"])
        return _lists(np.searchsorted(line, np.arange(len(off))), segs)

    return segments


def point_segment_distance_cols(
    px: Column, py: Column, ax: Column, ay: Column, bx: Column, by: Column
) -> Column:
    """Point-to-segment distance as pure column math — the hot refine path of
    every spatial join stays JVM-side/whole-stage-codegen (a per-pair pandas
    UDF doubles CPU demand with Python workers and caps scaling).  Same op
    order as geo/kernels.point_segment_distance and the oracle SQL."""
    dx, dy = bx - ax, by - ay
    ll = dx * dx + dy * dy
    t = F.when(ll > 0, ((px - ax) * dx + (py - ay) * dy) / ll).otherwise(F.lit(0.0))
    t = F.least(F.lit(1.0), F.greatest(F.lit(0.0), t))
    cx, cy = ax + t * dx, ay + t * dy
    return F.sqrt((px - cx) * (px - cx) + (py - cy) * (py - cy))


def make_offset_udf():
    """G4 offset-line: geometry + signed distance -> offset geometry."""

    def shift(lon, lat, d):
        # a NULL distance means no offset
        return (lon, lat) if np.isnan(d) else K.offset_polyline(lon, lat, float(d))

    @F.arrow_udf(GEOMETRY_TYPE)
    def offset_line(geom: pa.Array, dist: pa.Array) -> pa.Array:
        out = map_ways(GEOMETRY_TYPE, shift, geom, dist)
        # a NULL geometry stays NULL, where the other mappers give []
        return pc.if_else(geom.is_null(), pa.scalar(None, out.type), out)

    return offset_line
