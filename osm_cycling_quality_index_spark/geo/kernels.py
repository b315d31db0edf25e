"""Vectorized geometry kernels (numpy; wrapped in pandas/Arrow UDFs in
``geo.udfs``).

The reference does all distance math in EPSG:25833
(reference/parameter.py:5, reference/cycling_quality_index.py:69).  At city
scale an equirectangular local tangent frame agrees with a transverse-Mercator
zone to far better than the 22 m / 100 m thresholds involved
(reference/parameter.py:18-19), so the engine's metric is:

    x = (lon - LON0) * cos(LAT0) * R_EARTH,   y = (lat - LAT0) * R_EARTH

with fixed constants so every component (engine, oracle SQL, pytest oracles)
computes byte-identical doubles.
"""

from __future__ import annotations

import math

import numpy as np

#: Berlin-like frame origin (FIXTURES.md bbox 13.0-13.8 E, 52.3-52.7 N)
LON0 = 13.4
LAT0 = 52.5
R_EARTH = 6371000.0
#: metres per degree in the local frame — single source of truth, also used
#: verbatim in oracle SQL strings
MPD_X = math.cos(math.radians(LAT0)) * R_EARTH * math.pi / 180.0
MPD_Y = R_EARTH * math.pi / 180.0


def project(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """EPSG:4326 -> local metric frame (S4 reproject-in)."""
    return (np.asarray(lon) - LON0) * MPD_X, (np.asarray(lat) - LAT0) * MPD_Y


def unproject(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Local metric frame -> EPSG:4326 (S5 reproject-out)."""
    return np.asarray(x) / MPD_X + LON0, np.asarray(y) / MPD_Y + LAT0


# ---------------------------------------------------------------------------
# EPSG:25833 (ETRS89 / UTM zone 33N) — the reference's metric CRS
# (reference/parameter.py:3-5, reference/cycling_quality_index.py:69,1645).
# Pure-numpy Karney/Krueger series (order n^3: sub-mm inside the zone), so
# runs that need exact reference parity near zone edges can swap the local
# tangent frame for the true transverse-Mercator projection.  Inside the
# synthetic Berlin bbox the two frames agree on inter-point distances to
# <= 0.8% relative (property-tested): <= 0.18 m at the 22 m vote threshold
# and <= 0.8 m at the 100 m check-point spacing — far below either
# threshold's decision margin.
# ---------------------------------------------------------------------------

_GRS80_A = 6378137.0
_GRS80_F = 1.0 / 298.257222101
_UTM_K0 = 0.9996
_UTM33_LON0 = 15.0
_UTM_FE = 500000.0
_N = _GRS80_F / (2.0 - _GRS80_F)
_A_BAR = _GRS80_A / (1.0 + _N) * (1.0 + _N**2 / 4.0 + _N**4 / 64.0)
_ALPHA = (
    _N / 2.0 - 2.0 * _N**2 / 3.0 + 5.0 * _N**3 / 16.0,
    13.0 * _N**2 / 48.0 - 3.0 * _N**3 / 5.0,
    61.0 * _N**3 / 240.0,
)
_BETA = (
    _N / 2.0 - 2.0 * _N**2 / 3.0 - 37.0 * _N**3 / 96.0,
    _N**2 / 48.0 + _N**3 / 15.0,
    17.0 * _N**3 / 480.0,
)
_DELTA = (
    2.0 * _N - 2.0 * _N**2 / 3.0 - 2.0 * _N**3,
    7.0 * _N**2 / 3.0 - 8.0 * _N**3 / 5.0,
    56.0 * _N**3 / 15.0,
)


def project_tm(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """EPSG:4326 -> EPSG:25833 easting/northing (S4 exact form)."""
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    lam = lon - math.radians(_UTM33_LON0)
    e2n = 2.0 * math.sqrt(_N) / (1.0 + _N)
    t = np.sinh(np.arctanh(np.sin(lat)) - e2n * np.arctanh(e2n * np.sin(lat)))
    xi = np.arctan2(t, np.cos(lam))
    eta = np.arctanh(np.sin(lam) / np.sqrt(1.0 + t * t))
    x, y = eta.copy(), xi.copy()
    for j, a in enumerate(_ALPHA, start=1):
        y = y + a * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        x = x + a * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    return _UTM_FE + _UTM_K0 * _A_BAR * x, _UTM_K0 * _A_BAR * y


def unproject_tm(e: np.ndarray, n: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """EPSG:25833 -> EPSG:4326 (S5 exact form)."""
    xi = np.asarray(n, dtype=np.float64) / (_UTM_K0 * _A_BAR)
    eta = (np.asarray(e, dtype=np.float64) - _UTM_FE) / (_UTM_K0 * _A_BAR)
    xi_p, eta_p = xi.copy(), eta.copy()
    for j, b in enumerate(_BETA, start=1):
        xi_p = xi_p - b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p = eta_p - b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    chi = np.arcsin(np.sin(xi_p) / np.cosh(eta_p))
    lat = chi.copy()
    for j, d in enumerate(_DELTA, start=1):
        lat = lat + d * np.sin(2 * j * chi)
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    return np.degrees(lam) + _UTM33_LON0, np.degrees(lat)


def points_along_line(
    lons: np.ndarray, lats: np.ndarray, spacing_m: float
) -> tuple[np.ndarray, np.ndarray]:
    """Emit a point every ``spacing_m`` metres along the line starting at the
    first vertex, plus the last vertex — QGIS ``native:pointsalonglines``
    (start offset 0) merged with ``extractspecificvertices -1``
    (reference/cycling_quality_index.py:223-225, G1+G2+U1).

    Returns projected metric coordinates (x, y) of the check points.
    """
    x, y = project(np.asarray(lons, dtype=np.float64), np.asarray(lats, dtype=np.float64))
    seg = np.hypot(np.diff(x), np.diff(y))
    cum = np.concatenate([[0.0], np.cumsum(seg)])
    total = cum[-1]
    n = int(total // spacing_m) + 1 if total > 0 else 1
    targets = np.arange(n, dtype=np.float64) * spacing_m
    # locate each target distance on the polyline
    idx = np.searchsorted(cum, targets, side="right") - 1
    idx = np.clip(idx, 0, max(len(seg) - 1, 0))
    if len(seg) == 0:
        px = np.full(n, x[0])
        py = np.full(n, y[0])
    else:
        frac = np.where(seg[idx] > 0, (targets - cum[idx]) / np.where(seg[idx] > 0, seg[idx], 1.0), 0.0)
        px = x[idx] + frac * (x[idx + 1] - x[idx])
        py = y[idx] + frac * (y[idx + 1] - y[idx])
    # append the last vertex (endpoint layer)
    return np.concatenate([px, x[-1:]]), np.concatenate([py, y[-1:]])


def point_segment_distance(
    px: np.ndarray, py: np.ndarray,
    ax: np.ndarray, ay: np.ndarray, bx: np.ndarray, by: np.ndarray,
) -> np.ndarray:
    """Vectorized point-to-segment distance in the metric frame (exact refine
    step of the cell-bucketed spatial join J1)."""
    px, py = np.asarray(px), np.asarray(py)
    ax, ay, bx, by = np.asarray(ax), np.asarray(ay), np.asarray(bx), np.asarray(by)
    dx, dy = bx - ax, by - ay
    ll = dx * dx + dy * dy
    t = np.where(ll > 0, ((px - ax) * dx + (py - ay) * dy) / np.where(ll > 0, ll, 1.0), 0.0)
    t = np.clip(t, 0.0, 1.0)
    cx, cy = ax + t * dx, ay + t * dy
    return np.hypot(px - cx, py - cy)


def offset_polyline(
    lons: np.ndarray, lats: np.ndarray, distance_m: float
) -> tuple[np.ndarray, np.ndarray]:
    """Parallel curve at signed ``distance_m`` (positive = left of travel
    direction), per-vertex normal offset with miter joins — QGIS
    ``native:offsetline`` (reference/cycling_quality_index.py:442-448, G4).

    Returns offset lon/lat arrays of the same length.
    """
    x, y = project(np.asarray(lons, dtype=np.float64), np.asarray(lats, dtype=np.float64))
    n = len(x)
    if n < 2 or distance_m == 0:
        return np.asarray(lons, dtype=np.float64), np.asarray(lats, dtype=np.float64)
    dx, dy = np.diff(x), np.diff(y)
    seg_len = np.hypot(dx, dy)
    seg_len = np.where(seg_len > 0, seg_len, 1.0)
    # unit left-normals per segment
    nx, ny = -dy / seg_len, dx / seg_len
    # vertex normals: average of adjacent segment normals (miter)
    vnx = np.concatenate([[nx[0]], (nx[:-1] + nx[1:]) / 2, [nx[-1]]])
    vny = np.concatenate([[ny[0]], (ny[:-1] + ny[1:]) / 2, [ny[-1]]])
    vlen = np.hypot(vnx, vny)
    # miter scale = 1/cos(theta/2); cap at 4x to avoid spikes
    scale = np.clip(1.0 / np.where(vlen > 0.25, vlen, 0.25), 0.0, 4.0)
    ox = x + vnx * scale * distance_m
    oy = y + vny * scale * distance_m
    return unproject(ox, oy)


def ray_cast_pip(
    px: np.ndarray, py: np.ndarray, poly_x: np.ndarray, poly_y: np.ndarray
) -> np.ndarray:
    """Ray-casting point-in-polygon with bbox prefilter (G5, north_star).

    ``poly_*`` is one closed or open ring; returns a boolean mask for the
    query points.  Vectorized over points x edges.
    """
    px, py = np.asarray(px, dtype=np.float64), np.asarray(py, dtype=np.float64)
    poly_x, poly_y = np.asarray(poly_x, dtype=np.float64), np.asarray(poly_y, dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)
    bbox = (
        (px >= poly_x.min()) & (px <= poly_x.max())
        & (py >= poly_y.min()) & (py <= poly_y.max())
    )
    if not bbox.any():
        return inside
    qx, qy = px[bbox], py[bbox]
    x1, y1 = poly_x, poly_y
    x2, y2 = np.roll(poly_x, -1), np.roll(poly_y, -1)
    acc = np.zeros(len(qx), dtype=np.int64)
    for ex1, ey1, ex2, ey2 in zip(x1, y1, x2, y2):
        cond = (ey1 > qy) != (ey2 > qy)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = ex1 + (qy - ey1) / (ey2 - ey1) * (ex2 - ex1)
        acc += (cond & (qx < xint)).astype(np.int64)
    inside[bbox] = (acc % 2) == 1
    return inside


def rasterize_segment_tiles(
    ax: float, ay: float, bx: float, by: float, tile_size_m: float
) -> list[tuple[int, int]]:
    """All (tx, ty) grid tiles a segment touches — conservative DDA traversal
    (J5 raster-tile <-> vector-way assignment)."""
    tx0, ty0 = math.floor(ax / tile_size_m), math.floor(ay / tile_size_m)
    tx1, ty1 = math.floor(bx / tile_size_m), math.floor(by / tile_size_m)
    tiles = {(tx0, ty0), (tx1, ty1)}
    steps = int(max(abs(tx1 - tx0), abs(ty1 - ty0)) * 2 + 2)
    for i in range(1, steps):
        t = i / steps
        tiles.add(
            (
                math.floor((ax + t * (bx - ax)) / tile_size_m),
                math.floor((ay + t * (by - ay)) / tile_size_m),
            )
        )
    return sorted(tiles)
