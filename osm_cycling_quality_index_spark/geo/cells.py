"""From-scratch spatial cell indexes (SURVEY.md §2.8 G6, north_rule).

Two encoders, both vectorized numpy (no h3/s2 library dependency):

* **hexcell** — an H3-style hierarchical hexagon grid: pointy-top axial
  coordinates over the engine's local metric frame, aperture-sqrt(7) edge
  scaling so resolutions 7-10 match H3's published average edge lengths
  (res 9 ~ 180 m), ids packed into int64, ``grid_disk`` ring expansion.
  This is the join/kNN index: the reference's 22 m buffer-select loop
  (reference/cycling_quality_index.py:234-248) becomes "same cell or ring-1
  neighbor at res 9" + exact distance refine.
* **s2** — a faithful S2 cell id (cube face -> quadratic s/t -> Hilbert
  curve position, 64-bit id, public algorithm) and its parent at a coarser
  level.

Aperture-7 hexagon grids never nest exactly (true for H3 too), so the engine
never derives a coarse cell from a fine one: each resolution is encoded from
coordinates.
"""

from __future__ import annotations

import math

import numpy as np

from .kernels import project

# ---------------------------------------------------------------------------
# hexcell
# ---------------------------------------------------------------------------

#: H3 res-0 average hex edge length in metres (published constant); each finer
#: resolution divides the edge by sqrt(7) (aperture 7)
_EDGE0_M = 1107712.591
EDGES_M = np.array([_EDGE0_M / math.sqrt(7.0) ** r for r in range(16)])

_OFF = 1 << 28  # coordinate offset; fields are 29 bits


def hex_edge_m(res: int) -> float:
    return float(EDGES_M[res])


def hex_encode(lon, lat, res: int) -> np.ndarray:
    """Point(s) -> hexcell id at ``res``.  Pointy-top axial coords + cube
    rounding (the classic hex-grid algorithm), packed (res<<58)|(q<<29)|r."""
    x, y = project(np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64))
    return hex_encode_xy(x, y, res)


def hex_encode_xy(x, y, res: int) -> np.ndarray:
    """Metric-frame variant of :func:`hex_encode`."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    size = EDGES_M[res]
    qf = (math.sqrt(3.0) / 3.0 * x - y / 3.0) / size
    rf = (2.0 / 3.0 * y) / size
    # cube rounding
    xf, zf = qf, rf
    yf = -xf - zf
    rx, ry, rz = np.round(xf), np.round(yf), np.round(zf)
    dx, dy, dz = np.abs(rx - xf), np.abs(ry - yf), np.abs(rz - zf)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & (dz > dy)
    rx = np.where(fix_x, -ry - rz, rx)
    rz = np.where(fix_z, -rx - ry, rz)
    q = rx.astype(np.int64) + _OFF
    r = rz.astype(np.int64) + _OFF
    return (np.int64(res) << 58) | (q << 29) | r


def hex_decode(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """id -> (res, q, r) axial coordinates (centered, offset removed)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> 58) & 0xF
    q = ((cell >> 29) & ((1 << 29) - 1)) - _OFF
    r = (cell & ((1 << 29) - 1)) - _OFF
    return res, q, r


def hex_center_xy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    res, q, r = hex_decode(cell)
    size = EDGES_M[res]
    x = size * (math.sqrt(3.0) * q + math.sqrt(3.0) / 2.0 * r)
    y = size * (1.5 * r)
    return x, y


def hex_distance(cell_a: np.ndarray, cell_b: np.ndarray) -> np.ndarray:
    """Hex (ring) distance between same-resolution cells."""
    _, qa, ra = hex_decode(cell_a)
    _, qb, rb = hex_decode(cell_b)
    dq, dr = qa - qb, ra - rb
    return (np.abs(dq) + np.abs(dr) + np.abs(dq + dr)) // 2


def hex_ring_offsets(k: int) -> list[tuple[int, int]]:
    """Axial offsets of grid_disk(k) — all cells within hex distance k."""
    out = []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            out.append((dq, dr))
    return out


def hex_disk(cell: np.ndarray, k: int) -> np.ndarray:
    """grid_disk: ids of all cells within hex distance k, shape (n, m)."""
    cell = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    res = (cell >> 58) & 0xF
    q = (cell >> 29) & ((1 << 29) - 1)
    r = cell & ((1 << 29) - 1)
    offs = hex_ring_offsets(k)
    cols = [
        (res << 58) | ((q + dq) << 29) | (r + dr) for dq, dr in offs
    ]
    return np.stack(cols, axis=1)


def segment_cells(x, y, offsets, res: int, rings: int = 0):
    """Polylines -> their segments and the hex cells covering each segment:
    the one segmentation kernel, behind both the Spark segmentation UDF
    (``geo.udfs.make_segments_udf``) and the driver-built segment index.

    ``x``/``y`` hold every polyline's projected vertices back to back, and
    polyline ``i`` owns ``offsets[i]:offsets[i + 1]`` (``offsets[0] == 0``);
    a polyline with fewer than two vertices has no segment.  Each segment is
    sampled at half the cell edge, endpoints included (the values
    ``np.linspace`` gives, bit for bit), so any point within ring 1 of a
    segment point shares a cell with a sample.  With ``rings`` > 0 every
    covering cell expands to its grid_disk.

    Returns ``(line, ax, ay, bx, by)`` per segment, in polyline then vertex
    order, and ``(seg, cell)`` per covering cell, in segment then cell
    order; before the ring expansion each cell appears once per segment."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    offsets = np.asarray(offsets, dtype=np.int64)
    line_of = np.repeat(np.arange(len(offsets) - 1), np.diff(offsets))
    # segment i joins vertex i to vertex i + 1 of the same polyline
    start = np.flatnonzero(line_of[:-1] == line_of[1:])
    line = line_of[start]
    ax, ay, bx, by = x[start], y[start], x[start + 1], y[start + 1]
    dx, dy = bx - ax, by - ay
    n = np.maximum(2, (np.hypot(dx, dy) / (hex_edge_m(res) / 2.0)).astype(np.int64) + 2)
    seg = np.repeat(np.arange(len(start)), n)
    first = np.cumsum(n) - n
    t = (np.arange(len(seg)) - first[seg]).astype(np.float64) * (1.0 / (n - 1))[seg]
    t[first + n - 1] = 1.0
    cell = hex_encode_xy(ax[seg] + t * dx[seg], ay[seg] + t * dy[seg], res)
    order = np.lexsort((cell, seg))
    seg, cell = seg[order], cell[order]
    keep = np.ones(len(seg), dtype=bool)
    keep[1:] = (seg[1:] != seg[:-1]) | (cell[1:] != cell[:-1])
    seg, cell = seg[keep], cell[keep]
    if rings > 0:
        disk = hex_disk(cell, rings)
        seg, cell = np.repeat(seg, disk.shape[1]), disk.ravel()
    return (line, ax, ay, bx, by), (seg, cell)


# ---------------------------------------------------------------------------
# S2 (public algorithm: cube faces + quadratic ST + Hilbert curve)
# ---------------------------------------------------------------------------

_SWAP, _INVERT = 1, 2
_POS_TO_IJ = np.array([[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]])
_POS_TO_ORIENT = np.array([_SWAP, 0, 0, _INVERT | _SWAP])
_LOOKUP_BITS = 4
_LOOKUP_POS = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)
_LOOKUP_IJ = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)


def _init_lookup(level: int, i: int, j: int, orig: int, pos: int, orient: int) -> None:
    if level == _LOOKUP_BITS:
        ij = (i << _LOOKUP_BITS) + j
        _LOOKUP_POS[(ij << 2) + orig] = (pos << 2) + orient
        _LOOKUP_IJ[(pos << 2) + orig] = (ij << 2) + orient
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orient]
    for idx in range(4):
        _init_lookup(
            level,
            i + (int(r[idx]) >> 1),
            j + (int(r[idx]) & 1),
            orig,
            pos + idx,
            orient ^ int(_POS_TO_ORIENT[idx]),
        )


for _o in range(4):
    _init_lookup(0, 0, 0, _o, 0, _o)

_MAX_LEVEL = 30
_MAX_SIZE = 1 << _MAX_LEVEL


def _xyz_to_face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= np.maximum(ay, az), 0, np.where(ay >= az, 1, 2))
    major = np.choose(face, [x, y, z])
    face = np.where(major < 0, face + 3, face)
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
            [y / x, -x / y, -x / z, z / x, z / y, -y / z],
        )
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
            [z / x, z / y, -y / z, y / x, -x / y, -x / z],
        )
    return face, u, v


def _uv_to_st(u):
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0, 0.5 * np.sqrt(1 + 3 * u), 1 - 0.5 * np.sqrt(1 - 3 * u))


def s2_encode(lon, lat) -> np.ndarray:
    """Point(s) -> leaf (level 30) S2 cell id."""
    lon_r = np.radians(np.asarray(lon, dtype=np.float64))
    lat_r = np.radians(np.asarray(lat, dtype=np.float64))
    x = np.cos(lat_r) * np.cos(lon_r)
    y = np.cos(lat_r) * np.sin(lon_r)
    z = np.sin(lat_r)
    face, u, v = _xyz_to_face_uv(x, y, z)
    si = np.clip((_uv_to_st(u) * _MAX_SIZE).astype(np.int64), 0, _MAX_SIZE - 1)
    ti = np.clip((_uv_to_st(v) * _MAX_SIZE).astype(np.int64), 0, _MAX_SIZE - 1)

    i = si.astype(np.uint64)
    j = ti.astype(np.uint64)
    n = face.astype(np.uint64) << np.uint64(60)
    bits = face.astype(np.uint64) & np.uint64(_SWAP)
    mask = np.uint64((1 << _LOOKUP_BITS) - 1)
    for k in range(7, -1, -1):
        kk = np.uint64(k * _LOOKUP_BITS)
        bits += ((i >> kk) & mask) << np.uint64(_LOOKUP_BITS + 2)
        bits += ((j >> kk) & mask) << np.uint64(2)
        bits = _LOOKUP_POS[bits]
        n |= (bits >> np.uint64(2)) << np.uint64(k * 2 * _LOOKUP_BITS)
        bits &= np.uint64(_SWAP | _INVERT)
    return ((n << np.uint64(1)) | np.uint64(1)).view(np.int64)


def s2_parent(cell_id, level: int) -> np.ndarray:
    """Parent cell id at ``level`` (0..30)."""
    cid = np.asarray(cell_id, dtype=np.int64).view(np.uint64)
    new_lsb = np.uint64(1) << np.uint64(2 * (_MAX_LEVEL - level))
    return ((cid & (~(new_lsb - np.uint64(1)))) | new_lsb).view(np.int64)
