"""Round-2 additions: EPSG:25833 parity, production fingerprint, streaming
tumbling windows, broadcast geotag parity, ANN recall floor, GeoJSON
round-trip, scalable dictionary word ids."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# EPSG:25833 transverse Mercator (S4/S5 exact forms)
# ---------------------------------------------------------------------------

def test_tm_roundtrip():
    from osm_cycling_quality_index_spark.geo.kernels import project_tm, unproject_tm

    rng = np.random.default_rng(1)
    lon = 13.0 + rng.uniform(0, 0.8, 500)
    lat = 52.3 + rng.uniform(0, 0.4, 500)
    e, n = project_tm(lon, lat)
    lo, la = unproject_tm(e, n)
    assert np.max(np.abs(lo - lon)) < 1e-8
    assert np.max(np.abs(la - lat)) < 1e-6
    # zone-33 central meridian maps to the 500 km false easting
    e0, _ = project_tm(np.array([15.0]), np.array([52.5]))
    assert abs(e0[0] - 500000.0) < 1e-6


def test_tm_vs_equirect_distance_bound():
    """Inside the Berlin bbox the local tangent frame agrees with the true
    EPSG:25833 metric on inter-point distances to <=0.8% relative — the
    documented bound for the 22 m vote threshold."""
    from osm_cycling_quality_index_spark.geo.kernels import project, project_tm

    rng = np.random.default_rng(2)
    lon = 13.0 + rng.uniform(0, 0.8, 2000)
    lat = 52.3 + rng.uniform(0, 0.4, 2000)
    x, y = project(lon, lat)
    e, n = project_tm(lon, lat)
    d_eq = np.hypot(np.diff(x), np.diff(y))
    d_tm = np.hypot(np.diff(e), np.diff(n))
    rel = np.abs(d_eq - d_tm) / d_tm
    assert rel.max() < 0.008


# ---------------------------------------------------------------------------
# broadcast geotag == shuffle geotag (J3 strategies)
# ---------------------------------------------------------------------------

def _hostile_geo(spark):
    """Degenerate ways and points for the spatial-join parity tests: a
    zero-length way, a single-vertex way, a way with a duplicated vertex
    (a zero-length middle segment), two plain ways, and points on the
    degenerate vertices plus one far from every way (no candidate at
    either index level)."""
    geom = "array<struct<x:double,y:double>>"

    def line(*pts):
        return [{"x": x, "y": y} for x, y in pts]

    ways = spark.createDataFrame([
        ("z0", line((13.400, 52.500), (13.400, 52.500))),
        ("s1", line((13.401, 52.500))),
        ("dup", line((13.399, 52.5003), (13.3995, 52.5003),
                     (13.3995, 52.5003), (13.400, 52.5003))),
        ("a", line((13.398, 52.4995), (13.402, 52.4995))),
        ("b", line((13.398, 52.5010), (13.402, 52.5010))),
    ], f"id string, geometry {geom}")
    imgs = spark.createDataFrame([
        ("on_z0", 13.400, 52.500),
        ("on_dup", 13.3995, 52.5003),
        ("near_dup", 13.3995, 52.5004),
        ("on_s1", 13.401, 52.500),
        ("between", 13.4005, 52.5002),
        ("far", 15.4, 54.5),
    ], "image_id string, lon double, lat double")
    return ways, imgs


def test_geotag_broadcast_parity(spark):
    """geotag_join's two plans give the same rows bit for bit: the shuffle
    form (``knn_ways`` k=1), forced by disabling broadcasts, against the
    default, which on these small ways sides is the broadcast CSR form —
    MapInArrow with no cell exchange.  Both keep the images' own
    ``image_id`` type (a numeric id included), and a frame with payload
    columns comes out with them unchanged."""
    from osm_cycling_quality_index_spark.operators import images as I
    from osm_cycling_quality_index_spark.sources import synth

    def rows(df):
        return sorted(
            (r["image_id"], r["way_id"], r["dist_m"]) for r in df.collect())

    wpdf = synth.ways_pdf(n_roads=40)
    ways = synth.ways_df(spark, n_roads=40).select("id", "geometry")
    imgs = synth.images_df(spark, wpdf, n_images=400).select("image_id", "lon", "lat")
    payload = imgs.select(
        "image_id", "lon", "lat",
        F.encode(F.concat(F.lit("px-"), "image_id"), "utf-8").alias("bytes"),
        F.concat(F.lit("a photo of "), "image_id").alias("caption"))
    cases = [
        (ways, imgs),
        (ways, imgs.withColumn("image_id", F.xxhash64("image_id"))),
        _hostile_geo(spark),
        (ways, payload),
    ]
    key = "spark.sql.autoBroadcastJoinThreshold"
    for ways, imgs in cases:
        saved = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            shuffled = I.geotag_join(imgs, ways, res=9)
            assert "MapInArrow" not in _plan(shuffled)
            a = rows(shuffled)
        finally:
            spark.conf.set(key, saved)
        default = I.geotag_join(imgs, ways, res=9)
        plan = _plan(default)
        assert "MapInArrow" in plan
        assert "Exchange hashpartitioning(cell" not in plan
        assert rows(default) == a and len(a) == imgs.count()
        assert default.schema == shuffled.schema
        assert default.columns == ["image_id", *imgs.columns[1:], "way_id", "dist_m"]
        id_type = imgs.schema["image_id"].dataType
        assert default.schema["image_id"].dataType == id_type
        extra = [c for c in imgs.columns if c not in ("image_id", "lon", "lat")]
        if extra:
            assert sorted(map(tuple, default.select(*imgs.columns).collect())) \
                == sorted(map(tuple, imgs.collect()))
            assert sorted(map(tuple, shuffled.select(*imgs.columns).collect())) \
                == sorted(map(tuple, imgs.collect()))
    ways, imgs = _hostile_geo(spark)
    a = rows(I.geotag_join(imgs, ways, res=9))
    got = {i: (w, round(d, 6) if d is not None else None) for i, w, d in a}
    assert got["on_z0"] == ("z0", 0.0) and got["on_dup"] == ("dup", 0.0)
    assert got["far"] == (None, None) and len(got) == 6

    # a NULL vertex has no position: both forms raise the codec's ValueError
    # (the broadcast form on the driver, while it builds its index)
    ways, imgs = _hostile_geo(spark)
    ways = ways.unionByName(spark.createDataFrame(
        [("nv", [{"x": 13.4, "y": 52.5}, None, {"x": 13.41, "y": 52.5}])],
        ways.schema))
    spark.conf.set(key, "-1")
    try:
        with pytest.raises(Exception, match="ValueError: geometry has a NULL vertex"):
            I.geotag_join(imgs, ways, res=9).collect()
    finally:
        spark.conf.set(key, saved)
    with pytest.raises(ValueError, match="geometry has a NULL vertex"):
        I.geotag_join(imgs, ways, res=9).collect()


def test_geotag_size_rule_reads_the_geometry(spark, tmp_path):
    """The broadcast/shuffle choice is made on the index as built, not on
    Spark's size estimate: on a parquet ways table with wide tag columns
    and long polylines, the estimate of ``(id, geometry)`` and the
    vertex cap both pass a 1 MB threshold while the built index is over
    1 MB, so geotag_join must take the shuffle form.  The index's ids
    count with their string data: short ways with 40 KB ids take the
    shuffle form too."""
    from osm_cycling_quality_index_spark.operators import images as I

    rng = np.random.default_rng(7)
    tags = {f"tag{j}": "x" * 400 for j in range(30)}
    rows = []
    for i in range(30):
        lon = 13.30 + 0.005 * i + np.cumsum(rng.uniform(0.0, 0.0008, 200))
        lat = 52.45 + np.cumsum(rng.uniform(-0.0004, 0.0004, 200))
        rows.append({"id": f"w{i}", **tags,
                     "geometry": [{"x": float(x), "y": float(y)}
                                  for x, y in zip(lon, lat)]})
    geom = "array<struct<x:double,y:double>>"
    schema = ", ".join(["id string", *(f"{t} string" for t in tags),
                        f"geometry {geom}"])
    spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / "wide"))
    wide = spark.read.parquet(str(tmp_path / "wide"))

    def index_bytes(ways):
        idx = I.build_segment_index(ways, res=8, rings=1)
        return sum(idx[lvl][k].nbytes for lvl in ("fine", "coarse")
                   for k in ("cells", "starts", "seg", "wid"))

    limit = 1 << 20
    est = wide.select("id", "geometry")._jdf.queryExecution() \
        .optimizedPlan().stats().sizeInBytes()
    vertices = wide.agg(F.sum(F.size("geometry"))).first()[0]
    assert max(int(est), 16 * vertices) <= limit < index_bytes(wide)

    long_ids = spark.createDataFrame(
        [(f"{i:03d}" + "w" * 40_000, [{"x": 13.30 + 0.01 * i, "y": 52.45},
                                      {"x": 13.305 + 0.01 * i, "y": 52.45}])
         for i in range(30)], f"id string, geometry {geom}")
    assert index_bytes(long_ids) < limit < I._nbytes(
        I.build_segment_index(long_ids, res=8, rings=1))

    imgs = spark.createDataFrame(
        [(f"i{k}", 13.30 + 0.001 * k, 52.45) for k in range(50)],
        "image_id string, lon double, lat double")
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(limit))
    try:
        plans = [_plan(I.geotag_join(imgs, w)) for w in (wide, long_ids)]
    finally:
        spark.conf.set(key, saved)
    assert not any("MapInArrow" in plan for plan in plans)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_pandas_udf_reads_geometry(spark):
    """Every UDF that reads a geometry is an Arrow UDF over the one codec:
    in the physical plans of the geometry operators, every ArrowEvalPython
    node over ``geometry`` has eval type 250 (``arrow_udf``), none 200 (a
    pandas UDF, which hands the UDF one Python dict per vertex).  The
    shuffle form of the sidepath vote runs the check-point UDF.

    Each broadcast spatial join — the sidepath vote, geotag, kNN and
    ``pip_join`` — plans as one ``MapInArrow`` kernel (Arrow batches, no
    eval node) with no ``MapInPandas`` or ``ArrowEvalPython`` in the plan
    and no join above the kernel."""
    from osm_cycling_quality_index_spark.operators import images as I
    from osm_cycling_quality_index_spark.operators.dedup import (
        release_session_pinned,
    )
    from osm_cycling_quality_index_spark.operators.pipeline import cqi_pipeline
    from osm_cycling_quality_index_spark.operators.sidepath import sidepath_stage
    from osm_cycling_quality_index_spark.sources import synth

    ways = synth.ways_df(spark, n_roads=24)
    polys = ways.select(F.col("id").alias("poly_id"), "geometry")
    imgs = synth.images_df(spark, synth.ways_pdf(n_roads=24), n_images=50) \
        .select("image_id", "lon", "lat")
    broadcast = _plan(cqi_pipeline(ways)).splitlines()
    assert any("MapInArrow" in ln and "geometry" in ln for ln in broadcast)
    assert not any("ArrowEvalPython" in ln and ln.endswith(", 200") for ln in broadcast)
    kernels = {
        "sidepath vote": sidepath_stage(ways),
        "geotag_join": I.geotag_join(imgs, ways.select("id", "geometry")),
        "knn_ways_broadcast": I.knn_ways_broadcast(imgs, ways.select("id", "geometry")),
        "pip_join broadcast": I.pip_join(imgs, polys),
    }
    for name, df in kernels.items():
        lines = _plan(df).splitlines()
        at = [i for i, ln in enumerate(lines) if "MapInArrow" in ln]
        assert len(at) == 1, (name, lines)
        assert not any("MapInPandas" in ln or "ArrowEvalPython" in ln
                       for ln in lines), (name, lines)
        assert not any("Join" in ln for ln in lines[:at[0]]), (name, lines)
    frames = {
        "way_tile_assignment": I.way_tile_assignment(ways),
        "polygon_tile_assignment": I.polygon_tile_assignment(polys),
        "knn_ways": I.knn_ways(imgs, ways.select("id", "geometry"), k=3),
    }
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        frames["cqi_pipeline shuffle"] = cqi_pipeline(ways)
        frames["pip_join shuffle"] = I.pip_join(imgs, polys)
    finally:
        spark.conf.set(key, saved)
    try:
        for name, df in frames.items():
            evals = [ln.strip() for ln in _plan(df).splitlines()
                     if "ArrowEvalPython" in ln and "geometry" in ln]
            assert evals, name
            assert all(ln.endswith(", 250") for ln in evals), (name, evals)
    finally:
        release_session_pinned(spark)


def _spark_csr_rows(ways, res, rings, ids):
    """The Spark-built segment rows as a bit matrix (cell, way int, ax, ay,
    dx, dy) — the CSR content — in lexicographic row order."""
    from osm_cycling_quality_index_spark.operators import images as I

    pdf = I._way_segments_cells(ways, res, rings).toPandas()
    ids = np.array(ids.to_pylist(), dtype=object)
    assert list(np.unique(pdf["way_id"].to_numpy(dtype=object))) == list(ids)
    ax, ay, bx, by = (pdf[c].to_numpy(np.float64) for c in ("ax", "ay", "bx", "by"))
    return _sorted_bits(pdf["cell"].to_numpy(np.int64),
                        np.searchsorted(ids, pdf["way_id"].to_numpy(dtype=object)),
                        ax, ay, bx - ax, by - ay)


def _sorted_bits(*cols):
    m = np.column_stack([np.asarray(c).view(np.int64) for c in cols])
    return m[np.lexsort(m.T[::-1])] if len(m) else m


def test_segment_index_matches_spark_rows(spark):
    """The driver-built index holds exactly the Spark segment/cell rows, bit
    for bit, at the fine (res 8, ring 1) and coarse (res 5, ring 2) levels,
    on synth ways and on zero-length, single-vertex and duplicated-vertex
    ways."""
    from osm_cycling_quality_index_spark.operators import images as I
    from osm_cycling_quality_index_spark.sources import synth

    cases = [synth.ways_df(spark, n_roads=40).select("id", "geometry"),
             _hostile_geo(spark)[0]]
    for ways in cases:
        idx = I.build_segment_index(ways, res=8, rings=1, coarse_drop=3)
        for name, res, rings in (("fine", 8, 1), ("coarse", 5, 2)):
            lvl = idx[name]
            assert lvl["res"] == res
            assert np.all(np.diff(lvl["cells"]) > 0)
            want = _spark_csr_rows(ways, res, rings, lvl["ids"])
            cell = np.repeat(lvl["cells"], np.diff(lvl["starts"]))
            got = _sorted_bits(cell, lvl["wid"], *lvl["seg"].T)
            assert got.shape == want.shape and np.array_equal(got, want)
    # the hostile ways: z0 and dup keep their zero-length segments, s1 has none
    assert idx["fine"]["ids"].to_pylist() == ["a", "b", "dup", "z0"]


def test_segments_udf_is_the_kernel(spark):
    """make_segments_udf returns what geo.cells.segment_cells gives for the
    same geometries, and both sample each segment at np.linspace points;
    checkpoints_udf returns geo.kernels.points_along_line per way.  The
    inputs include a NULL geometry, an empty one, a single vertex and
    duplicated vertices."""
    from osm_cycling_quality_index_spark import params as P
    from osm_cycling_quality_index_spark.geo import cells as C
    from osm_cycling_quality_index_spark.geo import kernels as K
    from osm_cycling_quality_index_spark.geo.udfs import (
        checkpoints_udf, make_segments_udf,
    )
    from osm_cycling_quality_index_spark.sources import synth

    res = 9
    hostile = _hostile_geo(spark)[0]
    ways = synth.ways_df(spark, n_roads=12).select("id", "geometry").unionByName(
        hostile).unionByName(spark.createDataFrame(
            [("null", None), ("empty", [])], hostile.schema))
    out = ways.select("id", make_segments_udf(res)("geometry").alias("segs"),
                      checkpoints_udf("geometry").alias("chk")).collect()
    got = {r["id"]: [(s["ax"], s["ay"], s["bx"], s["by"], list(s["cells"]))
                     for s in r["segs"]] for r in out}
    pdf = ways.toPandas()
    geoms = [[] if g is None else g for g in pdf["geometry"]]
    lens = [len(g) for g in geoms]
    x, y = K.project(np.array([p["x"] for g in geoms for p in g]),
                     np.array([p["y"] for g in geoms for p in g]))
    (line, ax, ay, bx, by), (seg, cell) = C.segment_cells(
        x, y, np.concatenate([[0], np.cumsum(lens)]), res)
    want = {i: [] for i in pdf["id"]}
    step = C.hex_edge_m(res) / 2.0
    for s in range(len(line)):
        a, b, c, d = ax[s], ay[s], bx[s], by[s]
        cells = cell[seg == s].tolist()
        want[pdf["id"][line[s]]].append((a, b, c, d, cells))
        # the sampling rule, segment by segment
        t = np.linspace(0.0, 1.0, max(2, int(float(np.hypot(c - a, d - b)) / step) + 2))
        ref = np.unique(C.hex_encode_xy(a + t * (c - a), b + t * (d - b), res))
        assert cells == ref.tolist()
    assert got == want
    assert got["s1"] == [] and len(got["dup"]) == 3 and len(got["z0"]) == 1
    assert got["null"] == [] and got["empty"] == []

    chk = {r["id"]: [(p["px"], p["py"]) for p in r["chk"]] for r in out}
    for i, g in zip(pdf["id"], geoms):
        want = [] if len(g) == 0 else list(zip(*K.points_along_line(
            np.array([p["x"] for p in g]), np.array([p["y"] for p in g]),
            P.SIDEPATH_BUFFER_DISTANCE)))
        assert chk[i] == want, i
    assert chk["null"] == [] and len(chk["s1"]) == 2


def test_pip_join_brute_force(spark):
    """pip_join (cell-bucketed candidates + ray cast), in both forms, must
    equal the numpy ray_cast_pip kernel applied all-pairs, one row per
    (point, polygon row) also where polygon rows share a poly_id."""
    import numpy as np

    from osm_cycling_quality_index_spark.geo.kernels import (
        LAT0, LON0, MPD_X, MPD_Y, project, ray_cast_pip,
    )
    from osm_cycling_quality_index_spark.operators.images import pip_join

    rng = np.random.default_rng(3)
    polys = []
    for i in range(15):
        x0, y0 = rng.uniform(0, 6000, 2)
        w, h = rng.uniform(300, 2500, 2)
        ring = [(x0, y0), (x0 + w, y0 + rng.uniform(-200, 200)),
                (x0 + rng.uniform(-200, 200), y0 + h)]
        polys.append((f"g{i}", [
            {"x": float(LON0 + x / MPD_X), "y": float(LAT0 + y / MPD_Y)}
            for x, y in ring
        ]))
    pts = [(str(j), float(LON0 + x / MPD_X), float(LAT0 + y / MPD_Y),
            float(x), float(y))
           for j, (x, y) in enumerate(rng.uniform(0, 6500, (1500, 2)))]
    tdf = spark.createDataFrame(
        [(p[0], p[1], p[2]) for p in pts], "image_id string, lon double, lat double")
    # repeated poly_ids: g0 again with another ring, and an exact repeat
    # of g1; each polygon row counts apart
    polys += [("g0", polys[2][1]), polys[1]]
    pdf = spark.createDataFrame(
        polys, "poly_id string, geometry array<struct<x double, y double>>")
    qx = np.array([p[3] for p in pts])
    qy = np.array([p[4] for p in pts])
    want = []
    for pid, ring in polys:
        rx, ry = project(np.array([v["x"] for v in ring]),
                         np.array([v["y"] for v in ring]))
        for j in np.flatnonzero(ray_cast_pip(qx, qy, rx, ry)):
            want.append((pts[j][0], pid))
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    got = [sorted((r["image_id"], r["poly_id"])
                  for r in pip_join(tdf, pdf, res=7).collect())]
    spark.conf.set(key, "-1")
    try:
        got.append(sorted((r["image_id"], r["poly_id"])
                          for r in pip_join(tdf, pdf, res=7).collect()))
    finally:
        spark.conf.set(key, saved)
    assert got[0] == got[1] == sorted(want) and len(want) > 0
    assert len(set(want)) < len(want)


def test_knn_broadcast_parity(spark):
    """knn_ways_broadcast (zero-shuffle CSR-index form) must reproduce the
    shuffle path bit-for-bit: same two-round guarantee semantics, same
    (dist, way_id) tie-break, same drop of candidate-less points — for
    k=3 and k=2, and on degenerate geometry."""
    from osm_cycling_quality_index_spark.operators import images as I
    from osm_cycling_quality_index_spark.sources import synth

    def synth_case(n_roads, n_images):
        wpdf = synth.ways_pdf(n_roads=n_roads)
        return (synth.ways_df(spark, n_roads=n_roads).select("id", "geometry"),
                synth.images_df(spark, wpdf, n_images=n_images)
                .select("image_id", "lon", "lat"))

    cases = [(*synth_case(40, 400), 3), (*synth_case(30, 200), 2),
             (*_hostile_geo(spark), 3)]
    for ways, imgs, k in cases:
        a = I.knn_ways(imgs, ways, k=k, res=8, rings=2).select(
            "image_id", "way_id", "rank", F.round("dist_m", 9).alias("d"))
        b = I.knn_ways_broadcast(imgs, ways, k=k, res=8, rings=2).select(
            "image_id", "way_id", "rank", F.round("dist_m", 9).alias("d"))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    got = {(r["image_id"], r["rank"]): r["way_id"] for r in a.collect()}
    assert got[("on_z0", 1)] == "z0" and got[("on_dup", 1)] == "dup"
    assert not any(i == "far" for i, _ in got) and len(got) == 5 * 3


# ---------------------------------------------------------------------------
# ANN: LSH top-k recall floor vs brute force
# ---------------------------------------------------------------------------

def test_ann_lsh_recall(spark):
    from osm_cycling_quality_index_spark.operators import ann

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_emb")
    )
    exact = ann.brute_force_topk(emb, queries, k=5)
    approx = ann.lsh_topk(emb, queries, k=5)
    hits = exact.join(approx, ["query_id", "vec_id"], "left_semi").count()
    total = exact.count()
    recall = hits / total
    # 8 hyperplanes over 500 synthetic vectors: measured recall ~0.5+;
    # the floor asserts the bucketing isn't degenerate, and documents the
    # approximation quality the scale path trades for zero cross-bucket work
    assert recall >= 0.3, f"recall@5 = {recall:.2f}"


# ---------------------------------------------------------------------------
# GeoJSON source/sink round-trip (S1/S2/S3/S6)
# ---------------------------------------------------------------------------

def test_ivf_recall(spark):
    """IVF-flat recall floor vs brute force (16 seed centroids, probe 4):
    asserts the inverted lists aren't degenerate and documents the quality
    of the deterministic-seed quantizer."""
    from osm_cycling_quality_index_spark.operators import ann

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_emb")
    )
    exact = ann.brute_force_topk(emb, queries, k=5)
    approx = ann.ivf_topk(emb, queries, k=5)
    hits = exact.join(approx, ["query_id", "vec_id"], "left_semi").count()
    recall = hits / exact.count()
    assert recall >= 0.5, f"recall@5 = {recall:.2f}"


def test_geojson_roundtrip(spark, tmp_path):
    from osm_cycling_quality_index_spark.sources import geojson, synth

    ways = synth.ways_df(spark, n_roads=25)
    out = str(tmp_path / "ways_out")
    geojson.write_geojson_features(ways.select("id", "geometry", "highway"), out)
    back = geojson.read_geojson(spark, out)
    assert back.count() == ways.count()
    # multi-file merge + duplicate-geometry drop (S2+S3): reading the same
    # path twice doubles rows, dedup restores the original count
    doubled = geojson.read_geojson(spark, out, out)
    assert doubled.count() == 2 * ways.count()
    assert geojson.drop_duplicate_geometries(doubled).count() == ways.count()
    # geometry survives the round-trip
    a = ways.select("id", F.to_json(F.struct("geometry")).alias("g"))
    b = back.select("id", F.to_json(F.struct("geometry")).alias("g"))
    assert a.exceptAll(b).count() == 0


# ---------------------------------------------------------------------------
# word ids: range-partitioned rank == global dense_rank
# ---------------------------------------------------------------------------

def test_word_ids_rank(spark):
    from osm_cycling_quality_index_spark.operators.dedup import tokenize, word_ids

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = tokenize(docs, "text", "word")
    got = word_ids(toks, mode="dictionary")
    vocab = sorted(r["word"] for r in toks.select("word").distinct().collect())
    want = {w: i + 1 for i, w in enumerate(vocab)}
    for r in got.select("word", "word_id").distinct().collect():
        assert r["word_id"] == want[r["word"]], r


def test_checkpoint_snapshot_resume(spark, tmp_path):
    """Snapshot commit is atomic (manifest replace) and resume returns the
    last committed stage.  The lineage lives in the manifest entry (stage,
    snapshot id, row count, data files with sizes), not in the rows."""
    import json
    import os

    from osm_cycling_quality_index_spark.checkpoint import SnapshotTable

    t = SnapshotTable(str(tmp_path / "ckpt"))
    assert t.latest() is None and t.read_latest(spark) is None
    df1 = spark.range(10).withColumnRenamed("id", "k")
    e1 = t.write(df1, "stage_a")
    df2 = spark.range(5).withColumnRenamed("id", "k")
    e2 = t.write(df2, "stage_b")
    assert t.latest()["id"] == e2["id"]
    assert t.committed("stage_a")["id"] == e1["id"] and t.committed("stage_c") is None
    back_b = t.read_latest(spark)
    assert back_b.columns == ["k"] and back_b.count() == 5
    back_a = t.read_latest(spark, "stage_a")
    assert back_a.count() == 10
    # the committed entries carry the lineage; the stored rows do not
    with open(tmp_path / "ckpt" / "_manifest.json") as fh:
        entries = json.load(fh)["snapshots"]
    assert [(e["stage"], e["id"], e["rows"]) for e in entries] == [
        ("stage_a", e1["id"], 10), ("stage_b", e2["id"], 5)]
    assert e1["id"] != e2["id"]
    for e in entries:
        assert e["files"] and all(
            os.path.getsize(os.path.join(e["path"], f)) == n for f, n in e["files"].items())
        assert all(f.startswith("part-") for f in e["files"])
    assert spark.read.parquet(e1["path"]).columns == ["k"]
    # an empty frame still writes one schema-only file and commits
    e3 = t.write(spark.range(0).withColumnRenamed("id", "k"), "stage_empty")
    assert (e3["rows"], e3["nonempty_partitions"], len(e3["files"])) == (0, 0, 1)
    assert t.read_latest(spark, "stage_empty").count() == 0


def test_streaming_geotag_broadcast(spark, tmp_path):
    """The broadcast CSR geotag join is a stateless map, so it runs
    unchanged under Structured Streaming; streamed output must equal the
    batch join on the same points."""
    from osm_cycling_quality_index_spark.operators import images as I
    from osm_cycling_quality_index_spark.sources import synth

    wpdf = synth.ways_pdf(n_roads=20)
    ways = synth.ways_df(spark, n_roads=20).select("id", "geometry")
    imgs = synth.images_df(spark, wpdf, n_images=300).select("image_id", "lon", "lat")
    src = str(tmp_path / "imgs_in")
    imgs.write.parquet(src)
    idx = I.build_segment_index(ways, res=9, rings=1)
    stream = spark.readStream.schema(imgs.schema).parquet(src)
    out = I.geotag_join_broadcast(stream, ways, res=9, index=idx)
    q = (
        out.writeStream.format("memory").queryName("geotag_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT image_id, way_id, ROUND(dist_m, 6) AS d FROM geotag_stream")
    want = I.geotag_join_broadcast(imgs, ways, res=9, index=idx).select(
        "image_id", "way_id", F.round("dist_m", 6).alias("d"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_streaming_geotag_join(spark, tmp_path):
    """geotag_join on a streaming source takes the broadcast form whatever
    the size rule says (the shuffle form persists, which a stream cannot),
    and streams the rows of the batch join's shuffle form."""
    from osm_cycling_quality_index_spark.operators import images as I
    from osm_cycling_quality_index_spark.sources import synth

    wpdf = synth.ways_pdf(n_roads=20)
    ways = synth.ways_df(spark, n_roads=20).select("id", "geometry")
    imgs = synth.images_df(spark, wpdf, n_images=300).select("image_id", "lon", "lat")
    src = str(tmp_path / "imgs_in")
    imgs.write.parquet(src)
    stream = spark.readStream.schema(imgs.schema).parquet(src)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = I.geotag_join(stream, ways, res=9)
        want = sorted(tuple(r) for r in I.geotag_join(imgs, ways, res=9).select(
            "image_id", "way_id", "dist_m").collect())
    finally:
        spark.conf.set(key, saved)
    q = (
        out.writeStream.format("memory").queryName("geotag_join_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.sql(
        "SELECT image_id, way_id, dist_m FROM geotag_join_stream").collect())
    assert got == want and len(got) == 300


def test_qml_style_sink(tmp_path):
    """S7: the generated QML is well-formed XML with the reference's 11
    graduated classes over `index` (bounds, labels, colors)."""
    import xml.etree.ElementTree as ET

    from osm_cycling_quality_index_spark.sources.style import (
        INDEX_CLASSES, write_qml_style,
    )

    p = write_qml_style(str(tmp_path / "scored.qml"))
    root = ET.parse(p).getroot()
    rend = root.find("renderer-v2")
    assert rend.get("attr") == "index" and rend.get("type") == "graduatedSymbol"
    ranges = rend.find("ranges").findall("range")
    assert len(ranges) == 11
    assert [r.get("label") for r in ranges] == [c[2] for c in INDEX_CLASSES]
    assert float(ranges[0].get("lower")) == 0.0
    assert float(ranges[-1].get("upper")) == 100.0
    symbols = rend.find("symbols").findall("symbol")
    colors = []
    for s in symbols:
        for opt in s.iter("Option"):
            if opt.get("name") == "line_color":
                colors.append(opt.get("value"))
    assert colors == [c[3] for c in INDEX_CLASSES]


def test_word_ids_layout_invariance(spark):
    """Regression for the round-2 nondeterminism bug: dictionary word ids
    must be identical whatever the physical partitioning of the token frame
    (the old spark_partition_id()-based rank broke under AQE re-layout)."""
    from osm_cycling_quality_index_spark.operators.dedup import tokenize, word_ids

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = tokenize(docs, "text", "shingle")
    layouts = [
        toks,
        toks.repartition(3),
        toks.repartition(17, "doc_id"),
        toks.coalesce(1),
    ]
    results = [
        {(r["word"], r["word_id"])
         for r in word_ids(t).select("word", "word_id").distinct().collect()}
        for t in layouts
    ]
    assert all(r == results[0] for r in results[1:])
    assert len(results[0]) > 100


def test_ivf_lloyd_recall(spark):
    """The Lloyd-refined IVF quantizer (production knob) meets the same
    recall floor as the seed quantizer and stays deterministic."""
    from osm_cycling_quality_index_spark.operators import ann

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_emb")
    )
    exact = ann.brute_force_topk(emb, queries, k=5)
    a1 = ann.ivf_topk(emb, queries, k=5, lloyd_iters=2)
    a2 = ann.ivf_topk(emb, queries, k=5, lloyd_iters=2)
    assert a1.exceptAll(a2).count() == 0 and a2.exceptAll(a1).count() == 0
    hits = exact.join(a1, ["query_id", "vec_id"], "left_semi").count()
    recall = hits / exact.count()
    assert recall >= 0.5, f"lloyd recall@5 = {recall:.2f}"


def test_main_resume_from_checkpoint(tmp_path):
    """main.py re-run with the same --checkpoint must resume from the
    committed snapshot (same scored output, snapshot count unchanged for
    the scored stage)."""
    import json
    import subprocess
    import sys

    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    ckpt = str(tmp_path / "ckpt")
    cmd = [sys.executable, "main.py", "--synth-roads", "25",
           "--output", None, "--checkpoint", ckpt, "--master", "local[4]"]
    for out in (out1, out2):
        cmd[5] = out
        r = subprocess.run(cmd, cwd="/root/repo", capture_output=True, text=True)
        assert r.returncode == 0, r.stderr[-2000:]
    with open(f"{ckpt}/_manifest.json") as fh:
        snaps = [s["stage"] for s in json.load(fh)["snapshots"]]
    assert snaps.count("scored") == 1  # second run resumed, didn't rewrite
    from osm_cycling_quality_index_spark.session import get_spark
    spark = get_spark(master="local[4]")
    a = spark.read.parquet(f"{out1}/scored")
    b = spark.read.parquet(f"{out2}/scored")
    assert a.exceptAll(b).count() == 0
    assert a.count() == b.count() > 0


def test_asof_join_semantics(spark):
    """Edge semantics: no-preceding-right -> NULL, equal timestamps match
    (right sorts first), carry resets per key, payload fields stay atomic."""
    from osm_cycling_quality_index_spark.operators.asof import asof_join

    L = spark.createDataFrame(
        [(1, "u1", 10), (2, "u1", 20), (3, "u1", 5), (4, "u2", 7)],
        "event_id long, user_id string, ts long")
    R = spark.createDataFrame(
        [("u1", 10, 100, "a"), ("u1", 15, 101, None), ("u2", 99, 102, "c")],
        "user_id string, ts long, event_id long, tag string")
    out = {r["event_id"]: (r["r_event_id"], r["r_tag"])
           for r in asof_join(L, R, payload=("event_id", "tag")).collect()}
    assert out[1] == (100, "a")        # equal ts matches
    assert out[2] == (101, None)       # later right wins; NULL field stays atomic
    assert out[3] == (None, None)      # nothing precedes ts=5
    assert out[4] == (None, None)      # other key's rows don't leak


def test_range_join_brute_force(spark):
    """Binned range join equals the brute-force theta-join for arbitrary
    spans (including spans much larger than the bin)."""
    import numpy as np

    from osm_cycling_quality_index_spark.operators.ranges import range_join

    rng = np.random.default_rng(13)
    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(rng.uniform(0, 1000, 800))],
        "point_id long, v double")
    ivs = []
    for i in range(60):
        lo = float(rng.uniform(0, 950))
        ivs.append((i, lo, lo + float(rng.uniform(1, 400))))
    iv = spark.createDataFrame(ivs, "interval_id long, lo double, hi double")
    got = {(r["point_id"], r["interval_id"])
           for r in range_join(pts, iv, bin_size=50.0).collect()}
    want = {(r["point_id"], r["interval_id"])
            for r in pts.crossJoin(iv).where(
                (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))).collect()}
    assert got == want and len(want) > 1000


def test_rollup_composition(spark):
    """Hypertable property: the daily rollup composed from hourly partials
    equals aggregating the raw events directly (fixed-point partials make
    the sums exact in any order)."""
    from osm_cycling_quality_index_spark.functions.rounding import pyround
    from osm_cycling_quality_index_spark.streaming.sessions import (
        hourly_partials, rollup_daily,
    )

    e = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "value_cents", F.round(F.col("value") * 100, 0).cast("long"))
    composed = rollup_daily(hourly_partials(e, "value_cents"), scale=100.0)
    direct = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        pyround(F.sum("value_cents") / (F.count(F.lit(1)) * 100.0), 4)
        .alias("avg_value"),
    )
    assert composed.exceptAll(direct).count() == 0
    assert direct.exceptAll(composed).count() == 0


def test_kmv_merge_property(spark):
    """The KMV estimator lands within the expected ~1/sqrt(k) band of
    truth at k=32."""
    from osm_cycling_quality_index_spark.operators.sketch import (
        kmv_estimate, kmv_sketch,
    )

    e = spark.read.parquet(f"{SF}/events.parquet")
    direct = kmv_sketch(e, "user_id", "event_type", k=32)
    est = {r["event_type"]: r["est_distinct"]
           for r in kmv_estimate(direct, k=32).collect()}
    exact = {r["event_type"]: r["n"]
             for r in e.groupBy("event_type").agg(
                 F.countDistinct("user_id").alias("n")).collect()}
    for t, n in exact.items():
        assert abs(est[t] - n) / n < 0.35, (t, est[t], n)


def test_ann_degenerate_embeddings(spark):
    """Empty or NULL embeddings are dropped by the bucketing (the old
    explode form's behavior), never crash the job or pollute bucket 0."""
    from osm_cycling_quality_index_spark.operators.ann import (
        hyperplane_buckets, lsh_topk,
    )

    emb = spark.createDataFrame(
        [(0, [0.1, 0.2]), (1, [0.3, -0.1]), (2, []), (3, None)],
        "vec_id long, embedding array<float>")
    b = hyperplane_buckets(emb)
    assert {r["vec_id"] for r in b.collect()} == {0, 1}
    q = spark.createDataFrame(
        [(0, [0.1, 0.2])], "query_id long, query_emb array<float>")
    rows = lsh_topk(emb, q, k=5).collect()
    assert all(r["cos_sim"] is not None for r in rows) and len(rows) >= 1


# ---------------------------------------------------------------------------
# dedup groups: pairs -> connected components -> one keeper per cluster
# ---------------------------------------------------------------------------

def test_connected_components_transitive_chain(spark):
    """A~B, B~C (A,C never compared) must land in ONE component; a 6-node
    path forces the hash-min label to propagate over multiple rounds."""
    from osm_cycling_quality_index_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        # component 1: path 10-11-12-13-14-15 (diameter 5 -> >1 round)
        [(10, 11), (11, 12), (12, 13), (13, 14), (14, 15),
         # component 2: triangle with a duplicate + reversed edge
         (20, 21), (21, 22), (22, 20), (21, 20)],
        "src long, dst long")
    got = {r["node"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
                   20: 20, 21: 20, 22: 20}


def test_dedup_groups_keeper_and_singletons(spark):
    from osm_cycling_quality_index_spark.operators.dedup import dedup_groups

    corpus = spark.createDataFrame(
        [(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 4), (4, 6), (2, 3)], "doc_a long, doc_b long")
    rows = {r["doc_id"]: r for r in dedup_groups(corpus, pairs).collect()}
    assert {d: r["group_id"] for d, r in rows.items()} == {
        1: 1, 4: 1, 6: 1, 2: 2, 3: 2, 5: 5, 7: 7}
    assert {d: r["n_members"] for d, r in rows.items()} == {
        1: 3, 4: 3, 6: 3, 2: 2, 3: 2, 5: 1, 7: 1}
    assert [d for d, r in sorted(rows.items()) if r["is_keeper"]] == [1, 2, 5, 7]


# ---------------------------------------------------------------------------
# real BPE subword counts (committed merges table)
# ---------------------------------------------------------------------------

def test_bpe_three_way_equality(spark):
    """Column replace-chain == classic greedy encoder on the corpus, plus a
    pathological same-pair run (two replace passes are exhaustive for the
    distinct-symbol rules the import guard enforces; see functions/bpe.py
    module doc) and the boundary-semantics edges."""
    from pyspark.sql import functions as F

    from osm_cycling_quality_index_spark.functions.bpe import (
        _count_doc, bpe_encode_word, bpe_token_count,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    col = {r["doc_id"]: r["n"] for r in
           d.select("doc_id", bpe_token_count(F.col("text")).alias("n")).collect()}
    ref = {r["doc_id"]: _count_doc(r["text"], {})
           for r in d.select("doc_id", "text").collect()}
    assert col == ref and len(col) == d.count()
    # merged pieces exist (i.e. this is not a char counter)
    assert bpe_encode_word("lower") == ["low", "er"]
    # run of 8 'e r' pairs + empty text edge
    edge = spark.createDataFrame(
        [(0, "erererererererer"), (1, ""), (2, "er")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["n"] for r in
           edge.select("doc_id", bpe_token_count(F.col("text")).alias("n")).collect()}
    want = {r["doc_id"]: _count_doc(r["text"], {})
            for r in edge.select("doc_id", "text").collect()}
    assert got == want and got[1] == 0
    # boundary-semantics edges: tab is an ordinary symbol, a literal '|'
    # behaves like a space, NULL stays NULL — column path and reference
    # counter must agree on all three
    hard = spark.createDataFrame(
        [(0, "a\tb"), (1, "a|b er"), (2, None), (3, "  er  "),
         (4, "er\ner"), (5, "a\nb c"), (6, "\n\n"), (7, "low\r\ner")],
        "doc_id long, text string")
    col2 = {r["doc_id"]: r["n"] for r in
            hard.select("doc_id", bpe_token_count(F.col("text")).alias("n")).collect()}
    ref2 = {r["doc_id"]: _count_doc(r["text"], {})
            for r in hard.select("doc_id", "text").collect()}
    assert col2 == ref2, (col2, ref2)
    assert col2[2] is None


def test_connected_components_random_graph(spark):
    """Property: Spark hash-min label propagation == reference union-find
    on a deterministic pseudo-random graph (~300 nodes, long paths mixed
    with cliques, several isolated pairs) that needs multiple rounds."""
    from osm_cycling_quality_index_spark.operators.dedup import (
        connected_components,
    )

    edges = []
    # long path 0..59 (diameter 59 stresses round count via doubling)
    edges += [(i, i + 1) for i in range(59)]
    # cliques of 6 at 100.., 200..
    for base in (100, 200):
        edges += [(base + i, base + j) for i in range(6) for j in range(i + 1, 6)]
    # pseudo-random sparse edges over 300..399 (deterministic LCG)
    x = 7
    for _ in range(60):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a = 300 + (x % 100)
        x = (x * 1103515245 + 12345) % (1 << 31)
        b = 300 + (x % 100)
        if a != b:
            edges.append((a, b))

    parent = {}
    def find(v):
        while parent.setdefault(v, v) != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v
    for a, b in edges:
        parent[find(a)] = find(b)
    # reference label: min node id per component
    comp_min = {}
    for v in list(parent):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    want = {v: comp_min[find(v)] for v in parent}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"]
           for r in connected_components(df, max_iter=64).collect()}
    assert got == want


def test_dedup_groups_no_pairs(spark):
    """Empty near-dup pair list: every corpus row is its own keeper."""
    from osm_cycling_quality_index_spark.operators.dedup import dedup_groups

    corpus = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    rows = dedup_groups(corpus, pairs).collect()
    assert len(rows) == 5
    assert all(r["group_id"] == r["doc_id"] and r["n_members"] == 1
               and r["is_keeper"] == 1 for r in rows)


def test_no_cartesian_in_any_driver_query(spark):
    """Plan-shape regression guard: no driver query may compile to a
    CartesianProduct or BroadcastNestedLoopJoin — every candidate join in
    the engine is an equi-join by design (cell buckets, LSH bands, bins).
    Allowed exceptions are the queries whose crossJoin is explicit and
    broadcast-bounded by design: semi_anti_counts (1x1 cross of two
    single-row aggregates), embedding_topk (the brute-force exact
    baseline IS all-pairs — corpus x broadcast query frame), and
    ivf_topk (corpus x broadcast KB-sized centroid table for inverted
    list assignment)."""
    import __spark_entry__ as E

    allowed = {"semi_anti_counts", "embedding_topk", "ivf_topk"}
    sf = SF
    bad = {}
    for name, fn in E.queries().items():
        if name in allowed:
            continue
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        hits = [op for op in ("CartesianProduct", "BroadcastNestedLoopJoin")
                if op in plan]
        if hits:
            bad[name] = hits
        spark.catalog.clearCache()
    assert not bad, bad


# ---------------------------------------------------------------------------
# corpus quality: repetition stats + benchmark decontamination
# ---------------------------------------------------------------------------

def test_repetition_stats_hand_cases(spark):
    from osm_cycling_quality_index_spark.operators.quality import (
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [(0, "a b a b a b"),      # dup 2/3 of words repeat; top bigram 'a b' 3/5
         (1, "x y z"),            # all distinct; each bigram once -> 1/2
         (2, "w"),                # one word: no bigrams
         (3, "")],                # empty
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert got[0]["n_words"] == 6
    assert abs(got[0]["dup_word_frac"] - round(1 - 2 / 6, 6)) < 1e-9
    assert abs(got[0]["top_bigram_frac"] - 0.6) < 1e-9  # 'a b' 3 of 5
    assert got[1]["top_bigram_frac"] == 0.5
    assert got[2]["n_words"] == 1 and got[2]["top_bigram_frac"] == 0.0
    assert got[3]["n_words"] == 0 and got[3]["dup_word_frac"] == 0.0


def test_decontaminate_flags_only_real_overlap(spark):
    from osm_cycling_quality_index_spark.operators.quality import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(0, "prefix the quick brown fox jumps over suffix"),  # 5-gram hit
         (1, "the quick brown fox sleeps all day long"),       # only 4-gram
         (2, "completely unrelated words here today friend")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_hits"], r["contaminated"])
           for r in decontaminate(corpus, bench, n=5).collect()}
    assert got[0][1] == 1 and got[0][0] >= 1
    assert got[1] == (0, 0)
    assert got[2] == (0, 0)
