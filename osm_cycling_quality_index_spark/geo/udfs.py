"""Arrow-vectorized pandas UDFs over the numpy geometry kernels
(SURVEY.md §2.10: no per-row Python anywhere, per BASELINE.json input_hint).

Geometry is ``array<struct<x:double,y:double>>`` in EPSG:4326 (x=lon, y=lat),
matching the reference's LineString features
(reference/cycling_quality_index.py:66).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
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


def _geom_to_arrays(geom) -> tuple[np.ndarray, np.ndarray]:
    lons = np.array([p["x"] for p in geom], dtype=np.float64)
    lats = np.array([p["y"] for p in geom], dtype=np.float64)
    return lons, lats


@F.pandas_udf(_POINT_TYPE)
def checkpoints_udf(geom: pd.Series) -> pd.Series:
    """G1+G2+U1: check points every 100 m along the way + last vertex, in
    metric coordinates (reference/cycling_quality_index.py:223-225)."""
    from .. import params as P

    out = []
    for g in geom:
        if g is None or len(g) == 0:
            out.append([])
            continue
        lons, lats = _geom_to_arrays(g)
        px, py = K.points_along_line(lons, lats, P.SIDEPATH_BUFFER_DISTANCE)
        out.append([{"px": float(a), "py": float(b)} for a, b in zip(px, py)])
    return pd.Series(out)


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

    @F.pandas_udf(_SEGMENT_TYPE)
    def segments(geom: pd.Series) -> pd.Series:
        lens = [0 if g is None else len(g) for g in geom]
        pts = [p for g in geom if g is not None for p in g]
        x, y = K.project(np.array([p["x"] for p in pts], dtype=np.float64),
                         np.array([p["y"] for p in pts], dtype=np.float64))
        (line, ax, ay, bx, by), (seg, cell) = C.segment_cells(
            x, y, np.concatenate([[0], np.cumsum(lens)]), res)
        # each segment's cells, then each way's segments, as slice bounds
        cs = np.searchsorted(seg, np.arange(len(line) + 1)).tolist()
        ls = np.searchsorted(line, np.arange(len(lens) + 1)).tolist()
        cells = cell.tolist()
        segs = [
            {"ax": a, "ay": b, "bx": c, "by": d, "cells": cells[s:e]}
            for a, b, c, d, s, e in zip(ax.tolist(), ay.tolist(), bx.tolist(),
                                        by.tolist(), cs[:-1], cs[1:])
        ]
        return pd.Series([segs[s:e] for s, e in zip(ls[:-1], ls[1:])])

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

    @F.pandas_udf(GEOMETRY_TYPE)
    def offset_line(geom: pd.Series, dist: pd.Series) -> pd.Series:
        out = []
        for g, d in zip(geom, dist):
            # Arrow hands a NULL distance over as NaN: no offset
            if g is None or len(g) == 0 or pd.isna(d):
                out.append(g)
                continue
            lons, lats = _geom_to_arrays(g)
            olon, olat = K.offset_polyline(lons, lats, float(d))
            out.append([{"x": float(a), "y": float(b)} for a, b in zip(olon, olat)])
        return pd.Series(out)

    return offset_line
