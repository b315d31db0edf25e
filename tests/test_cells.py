"""Property tests for the hexcell and S2 encoders (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np

from osm_cycling_quality_index_spark import params as P
from osm_cycling_quality_index_spark.geo import cells as C
from osm_cycling_quality_index_spark.geo import kernels as K
from osm_cycling_quality_index_spark.operators import sidepath as S

rng = np.random.default_rng(1234)
N = 5000
LON = rng.uniform(13.0, 13.8, N)
LAT = rng.uniform(52.3, 52.7, N)


def test_hex_roundtrip_and_containment():
    for res in (7, 8, 9, 10):
        cell = C.hex_encode(LON, LAT, res)
        x, y = C.hex_center_xy(cell)
        lon2, lat2 = K.unproject(x, y)
        assert (C.hex_encode(lon2, lat2, res) == cell).all()
        px, py = K.project(LON, LAT)
        d = np.hypot(px - x, py - y)
        assert (d <= C.hex_edge_m(res) + 1e-6).all()


def test_hex_edge_lengths_match_h3_scale():
    # published H3 average edge lengths (km): res7 ~1.22, res8 ~0.46, res9 ~0.17
    assert abs(C.hex_edge_m(7) - 1220.63) / 1220.63 < 0.01
    assert abs(C.hex_edge_m(9) - 174.38) / 174.38 < 0.01


def test_ring_containment_bound():
    """Points within the sidepath buffer of each other always land in cells
    at hex distance <= 1 at the vote's resolution — the ring the roads side
    expands to, so the cell-bucketed vote misses no road in reach."""
    res, dist = S._RES, P.SIDEPATH_BUFFER_SIZE
    ang = rng.uniform(0, 2 * np.pi, N)
    # half the samples sit on the buffer's rim, the worst case
    rr = np.where(np.arange(N) % 2 == 0, dist, rng.uniform(0, dist, N))
    px, py = K.project(LON, LAT)
    qlon, qlat = K.unproject(px + rr * np.cos(ang), py + rr * np.sin(ang))
    hd = C.hex_distance(C.hex_encode(LON, LAT, res), C.hex_encode(qlon, qlat, res))
    assert (hd <= 1).all()


def test_hex_disk_count():
    cell = C.hex_encode(np.array([13.4]), np.array([52.5]), 9)
    for k in (1, 2, 3):
        disk = C.hex_disk(cell, k)
        assert disk.shape[1] == 1 + 3 * k * (k + 1)  # centered hexagonal number
        assert (C.hex_distance(np.repeat(cell, disk.shape[1]), disk[0]) <= k).all()


def test_s2_hierarchy_and_ranges():
    leaf = C.s2_encode(LON, LAT)
    assert len(np.unique(leaf)) > N * 0.99
    for lvl in (8, 12, 16, 20, 24):
        parent = C.s2_parent(leaf, lvl)
        # parent chain is consistent regardless of the intermediate level
        assert (C.s2_parent(C.s2_parent(leaf, lvl + 4), lvl) == parent).all()


def test_s2_locality():
    """Nearby points share parents at coarse levels; far points don't."""
    a = C.s2_parent(C.s2_encode(np.array([13.4]), np.array([52.5])), 10)[0]
    b = C.s2_parent(C.s2_encode(np.array([13.4001]), np.array([52.5001])), 10)[0]
    c = C.s2_parent(C.s2_encode(np.array([-74.0]), np.array([40.7])), 10)[0]
    assert a == b
    assert a != c
