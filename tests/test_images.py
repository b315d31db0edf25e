"""Image geotag join, kNN, tile assignment and payload invariants vs
brute-force oracles (SURVEY.md §5, FIXTURES.md §3b-3d)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from osm_cycling_quality_index_spark.geo import kernels as K
from osm_cycling_quality_index_spark.operators import images as I
from osm_cycling_quality_index_spark.sources import synth


@pytest.fixture(scope="module")
def data(spark):
    ways_pdf = synth.ways_pdf(n_roads=24)
    ways = synth.ways_df(spark, n_roads=24)
    imgs_pdf = synth.images_pdf(ways_pdf, n_images=120)
    imgs = synth.images_df(spark, ways_pdf, n_images=120)
    return ways_pdf, ways, imgs_pdf, imgs


def _brute_knn(ways_pdf, imgs_pdf, k):
    """O(images x segments) exact kNN oracle."""
    segs = []
    for _, w in ways_pdf.iterrows():
        g = w["geometry"]
        lons = np.array([p["x"] for p in g])
        lats = np.array([p["y"] for p in g])
        x, y = K.project(lons, lats)
        for i in range(len(x) - 1):
            segs.append((w["id"], x[i], y[i], x[i + 1], y[i + 1]))
    out = {}
    px, py = K.project(imgs_pdf["lon"].to_numpy(), imgs_pdf["lat"].to_numpy())
    for j, img_id in enumerate(imgs_pdf["image_id"]):
        best: dict[str, float] = {}
        for wid, ax, ay, bx, by in segs:
            d = float(K.point_segment_distance(
                np.array([px[j]]), np.array([py[j]]),
                np.array([ax]), np.array([ay]), np.array([bx]), np.array([by]),
            )[0])
            if wid not in best or d < best[wid]:
                best[wid] = d
        ranked = sorted(best.items(), key=lambda kv: (kv[1], kv[0]))[:k]
        out[img_id] = ranked
    return out


def test_knn_matches_bruteforce(spark, data):
    ways_pdf, ways, imgs_pdf, imgs = data
    k = 3
    got = {
        r["image_id"]: (r["rank"], r["way_id"], r["dist_m"])
        for r in I.knn_ways(imgs, ways, k=k).collect()
    }
    rows = I.knn_ways(imgs, ways, k=k).collect()
    by_img: dict[str, list] = {}
    for r in rows:
        by_img.setdefault(r["image_id"], []).append((r["rank"], r["way_id"], r["dist_m"]))
    oracle = _brute_knn(ways_pdf, imgs_pdf, k)
    assert set(by_img) == set(oracle)
    for img_id, expected in oracle.items():
        mine = sorted(by_img[img_id])
        assert len(mine) == len(expected), img_id
        for (rk, wid, d), (ewid, ed) in zip(mine, expected):
            assert wid == ewid, (img_id, mine, expected)
            assert d == pytest.approx(ed, abs=1e-9)


def test_geotag_join_nearest(spark, data):
    ways_pdf, ways, imgs_pdf, imgs = data
    got = {r["image_id"]: r["way_id"] for r in I.geotag_join(imgs, ways).collect()}
    oracle = _brute_knn(ways_pdf, imgs_pdf, 1)
    for img_id, expected in oracle.items():
        assert got[img_id] == expected[0][0], img_id


def test_tile_assignment_matches_bruteforce(spark, data):
    ways_pdf, ways, _, imgs = data
    size = 500.0
    got = {(r["tile_id"], r["way_id"]) for r in I.way_tile_assignment(ways, size).collect()}
    expected = set()
    for _, w in ways_pdf.iterrows():
        g = w["geometry"]
        lons = np.array([p["x"] for p in g])
        lats = np.array([p["y"] for p in g])
        x, y = K.project(lons, lats)
        for i in range(len(x) - 1):
            for tx, ty in K.rasterize_segment_tiles(x[i], y[i], x[i + 1], y[i + 1], size):
                expected.add((I.pack_tile(tx, ty), w["id"]))
    assert got == expected
    # image-tile membership is consistent with ray-cast PIP on the tile square
    img_tiles = {r["image_id"]: r["tile_id"] for r in I.image_tile_assignment(imgs, size).collect()}
    ipdf = synth.images_pdf(ways_pdf, n_images=120)
    px, py = K.project(ipdf["lon"].to_numpy(), ipdf["lat"].to_numpy())
    for j, img_id in enumerate(ipdf["image_id"]):
        tid = img_tiles[img_id]
        ty = (tid & ((1 << 31) - 1)) - (1 << 30)
        tx = (tid >> 31) - (1 << 30)
        poly_x = np.array([tx, tx + 1, tx + 1, tx], dtype=np.float64) * size
        poly_y = np.array([ty, ty, ty + 1, ty + 1], dtype=np.float64) * size
        assert K.ray_cast_pip(
            np.array([px[j] + 1e-9]), np.array([py[j] + 1e-9]), poly_x, poly_y
        )[0], img_id

    # each tile UDF equals its per-way numpy kernel on degenerate geometry:
    # way tiles rasterize every segment, polygon tiles ray-cast the bbox
    # grid's tile centers and covering cells sample the dilated bbox; fewer
    # vertices than a segment (way tiles) or a ring (the other two) give []
    from osm_cycling_quality_index_spark.geo import cells as C

    size, res = 300.0, 9

    def line(*pts):
        return [{"x": x, "y": y} for x, y in pts]

    tri = line((13.39, 52.49), (13.42, 52.495), (13.40, 52.52))
    rows = [("null", None), ("empty", []), ("s1", line((13.401, 52.5))),
            ("z0", line((13.4, 52.5), (13.4, 52.5))),
            ("dup", line((13.399, 52.5003), (13.3995, 52.5003),
                         (13.3995, 52.5003), (13.4, 52.5003))),
            ("flat", line((13.4, 52.5), (13.4, 52.5), (13.4, 52.5))),
            ("tri", tri), ("tri_dup", tri[:1] + tri)]
    df = spark.createDataFrame(
        rows, "id string, geometry array<struct<x:double,y:double>>")
    got = {r["id"]: (r["w"], r["p"], r["c"]) for r in df.select(
        "id",
        I.make_way_tiles_udf(size)("geometry").alias("w"),
        I.make_polygon_tiles_udf(size)("geometry").alias("p"),
        I.make_covering_cells_udf(res)("geometry").alias("c"),
    ).collect()}

    edge = C.hex_edge_m(res)
    step = edge * math.sqrt(3.0) / 2.0
    for i, g in rows:
        g = g or []
        x, y = K.project(np.array([p["x"] for p in g]), np.array([p["y"] for p in g]))
        way = sorted({I.pack_tile(tx, ty) for k in range(len(x) - 1)
                      for tx, ty in K.rasterize_segment_tiles(
                          x[k], y[k], x[k + 1], y[k + 1], size)})
        poly, cover = [], []
        if len(g) >= 3:
            txs, tys = (a.ravel() for a in np.meshgrid(
                np.arange(math.floor(x.min() / size), math.floor(x.max() / size) + 1),
                np.arange(math.floor(y.min() / size), math.floor(y.max() / size) + 1)))
            inside = K.ray_cast_pip((txs + 0.5) * size, (tys + 0.5) * size, x, y)
            poly = sorted(I.pack_tile(int(a), int(b))
                          for a, b in zip(txs[inside], tys[inside]))
            gx, gy = np.meshgrid(
                np.arange(x.min() - edge, x.max() + edge + step, step),
                np.arange(y.min() - edge, y.max() + edge + step, step))
            cover = np.unique(C.hex_encode_xy(gx.ravel(), gy.ravel(), res)).tolist()
        assert got[i] == (way, poly, cover), i
    assert got["null"] == got["empty"] == got["s1"] == ([], [], [])
    assert got["tri"][1] and got["tri_dup"][1] == got["tri"][1]


def test_payload_invariants(spark, data):
    """Per-row invariants after the Spark round trip: decode ok, caption
    equality, phash stability, PSNR >= 40 dB vs the true source pixels
    (BASELINE.json input_hint)."""
    ways_pdf, _, imgs_pdf, imgs = data
    stats = {r["image_id"]: r.asDict() for r in I.verify_payloads(imgs).collect()}
    assert all(s["ok"] for s in stats.values())
    assert all(s["caption_ok"] for s in stats.values())
    for s in stats.values():
        assert s["phash_dist"] <= 16, s  # lossless: 0; lossy: small drift
        if int(s["image_id"][3:]) % 2 == 0:  # png rows
            assert s["phash_dist"] == 0, s

    from osm_cycling_quality_index_spark.imaging import codec

    src_pdf, stack = synth.images_pdf(ways_pdf, n_images=120, return_pixels=True)
    blobs = {r["image_id"]: (bytes(r["bytes"]), r["fmt"], r["caption"]) for r in imgs.collect()}
    for j, img_id in enumerate(src_pdf["image_id"]):
        data_, fmt, caption = blobs[img_id]
        assert caption == src_pdf["caption"][j]  # caption equality
        dec = codec.decode(data_, fmt)
        p = codec.psnr(stack[j], dec)
        if fmt == "png":
            assert p == float("inf")
        else:
            assert p >= 40.0, (img_id, p)


def test_payload_psnr_via_synth_source(spark):
    """PSNR >= 40 dB (lossy) / exact (png) against the true source pixels."""
    import pandas as pd
    from osm_cycling_quality_index_spark.imaging import codec
    from osm_cycling_quality_index_spark.imaging.phash import phash64_batch32

    rng = np.random.default_rng(7)
    stack = rng.integers(0, 256, (40, 32, 32, 3), dtype=np.uint8)
    for j in range(40):
        fmt = "png" if j % 2 == 0 else "jpeg"
        blob = codec.encode(stack[j], fmt)
        dec = codec.decode(blob, fmt)
        if fmt == "png":
            assert (dec == stack[j]).all()
        else:
            assert codec.psnr(stack[j], dec) >= 40.0


def _ref_resize_area(gray, n):
    """The per-bin loop ``phash._resize_area`` vectorizes."""
    h, w = gray.shape
    ys = (np.arange(n + 1) * h // n).astype(np.int64)
    xs = (np.arange(n + 1) * w // n).astype(np.int64)
    ys[1:] = np.maximum(ys[1:], ys[:-1] + 1) if h >= n else ys[1:]
    xs[1:] = np.maximum(xs[1:], xs[:-1] + 1) if w >= n else xs[1:]
    out = np.empty((n, n), dtype=np.float64)
    csum = np.zeros((h + 1, w + 1), dtype=np.float64)
    csum[1:, 1:] = np.cumsum(np.cumsum(gray, axis=0), axis=1)
    for yi in range(n):
        y0, y1 = ys[yi], max(ys[yi + 1], ys[yi] + 1)
        for xi in range(n):
            x0, x1 = xs[xi], max(xs[xi + 1], xs[xi] + 1)
            area = (y1 - y0) * (x1 - x0)
            out[yi, xi] = (
                csum[y1, x1] - csum[y0, x1] - csum[y1, x0] + csum[y0, x0]
            ) / area
    return out


def _ref_phash64(pixels):
    """pHash with the per-bin resize and a per-bit packing loop."""
    from osm_cycling_quality_index_spark.imaging import phash

    gray = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    freq = phash._DCT @ _ref_resize_area(gray, 32) @ phash._DCT.T
    block = freq[:8, :8].flatten()
    med = np.median(block[1:])
    h = np.uint64(0)
    for b in (block > med).astype(np.uint64):
        h = (h << np.uint64(1)) | b
    return int(h.view(np.int64))


def test_phash64_matches_per_bin_reference():
    """``phash64`` is bit-identical to the per-bin loop, on images smaller,
    equal to and larger than 32x32 and on the synth images."""
    from osm_cycling_quality_index_spark.imaging.phash import _resize_area, phash64

    rng = np.random.default_rng(11)
    images = [rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
              for h, w in [(32, 32), (64, 48), (17, 40), (5, 7), (100, 100), (31, 33)]
              for _ in range(8)]
    _, stack = synth.images_pdf(synth.ways_pdf(n_roads=24), n_images=60, return_pixels=True)
    images += list(stack)
    for px in images:
        gray = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
        assert np.array_equal(_resize_area(gray, 32), _ref_resize_area(gray, 32)), px.shape
        assert phash64(px) == _ref_phash64(px), px.shape
