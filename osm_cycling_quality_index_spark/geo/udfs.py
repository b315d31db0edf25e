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
    with a sample — the prefilter guarantee of join J1)."""
    edge = C.hex_edge_m(res)

    @F.pandas_udf(_SEGMENT_TYPE)
    def segments(geom: pd.Series) -> pd.Series:
        out = []
        step = edge / 2.0
        for g in geom:
            if g is None or len(g) < 2:
                out.append([])
                continue
            lons, lats = _geom_to_arrays(g)
            x, y = K.project(lons, lats)
            segs = []
            for i in range(len(x) - 1):
                ax, ay, bx, by = x[i], y[i], x[i + 1], y[i + 1]
                length = float(np.hypot(bx - ax, by - ay))
                n = max(2, int(length / step) + 2)
                t = np.linspace(0.0, 1.0, n)
                cells = np.unique(
                    C.hex_encode_xy(ax + t * (bx - ax), ay + t * (by - ay), res)
                )
                segs.append({
                    "ax": float(ax), "ay": float(ay),
                    "bx": float(bx), "by": float(by),
                    "cells": [int(c) for c in cells],
                })
            out.append(segs)
        return pd.Series(out)

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
