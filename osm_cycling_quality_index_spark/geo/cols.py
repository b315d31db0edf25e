"""Column-math spatial encoders (no UDF).

The point side of every spatial join is the 10^12-row side; encoding its
cells through a pandas UDF puts Python workers on the hot path (they double
CPU demand and cap scaling).  Hex encoding is plain arithmetic, so these
Catalyst-column versions keep the entire per-point path inside whole-stage
codegen.  Ways-side encoders stay numpy UDFs (tiny input, complex geometry).

Rounding parity note: cube rounding here uses F.round while the numpy
encoder uses np.round (half-even).  They can differ only when a coordinate
lands within ~1 ulp of a cell boundary — and the join guarantees carry
>= half-a-cell of slack, so a boundary point's disk still covers both
candidate cells.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import cells as C

_OFF = 1 << 28
_SQRT3_3 = math.sqrt(3.0) / 3.0


def hex_qr_cols(x: Column, y: Column, res: int) -> tuple[Column, Column]:
    """Axial hex coordinates via cube rounding, as column math (mirrors
    geo/cells.hex_encode_xy)."""
    size = float(C.EDGES_M[res])
    qf = (F.lit(_SQRT3_3) * x - y / 3.0) / size
    rf = (2.0 / 3.0 * y) / size
    xf, zf = qf, rf
    yf = -xf - zf
    rx, ry, rz = F.round(xf, 0), F.round(yf, 0), F.round(zf, 0)
    dx, dy, dz = F.abs(rx - xf), F.abs(ry - yf), F.abs(rz - zf)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & (dz > dy)
    q = F.when(fix_x, -ry - rz).otherwise(rx).cast("long")
    r = F.when(fix_z, -rx - ry).otherwise(rz).cast("long")
    return q, r


def hex_pack(res: int, q: Column, r: Column) -> Column:
    return (
        F.lit(res).cast("long") * F.lit(1 << 58)
        + (q + _OFF) * F.lit(1 << 29)
        + (r + _OFF)
    )


def hex_cell_cols(x: Column, y: Column, res: int) -> Column:
    q, r = hex_qr_cols(x, y, res)
    return hex_pack(res, q, r)


def hex_disk_of_cell_cols(cell: Column, k: int) -> Column:
    """grid_disk(k) around an already-packed cell id (bit arithmetic).

    Used to ring-expand the *small* side of a spatial join: expanding the
    dimension side multiplies thousands of rows instead of the 10^12-point
    side, cutting big-side shuffle/probe volume by the disk size."""
    mask = F.lit((1 << 29) - 1)
    r = cell.bitwiseAND(mask)
    q = F.shiftright(cell, 29).bitwiseAND(mask)
    base = cell - F.shiftleft(q, 29) - r + F.lit(0)  # res bits stay in place
    return F.array(*[
        base + F.shiftleft(q + dq, 29) + (r + dr)
        for dq, dr in C.hex_ring_offsets(k)
    ])
