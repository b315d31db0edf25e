"""Sidepath spatial join + vote vs a brute-force oracle (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, StringType, StructField, StructType,
)

from osm_cycling_quality_index_spark.geo.kernels import MPD_X, MPD_Y
from osm_cycling_quality_index_spark.operators.conform import conform_ways
from osm_cycling_quality_index_spark.operators.sidepath import sidepath_stage

from oracle_sidepath import brute_force_votes

GEOMETRY_T = ArrayType(StructType([StructField("x", DoubleType()), StructField("y", DoubleType())]))


def _line(lon0, lat0, length_m, lat_off_m=0.0):
    return [
        {"x": lon0, "y": lat0 + lat_off_m / MPD_Y},
        {"x": lon0 + length_m / MPD_X, "y": lat0 + lat_off_m / MPD_Y},
    ]


def _run(spark, ways: list[dict]) -> dict[str, dict]:
    cols = sorted({k for w in ways for k in w} - {"geometry"})
    fields = [StructField("geometry", GEOMETRY_T)] + [StructField(c, StringType()) for c in cols]
    rows = [
        tuple([w.get("geometry")] + [w.get(c) for c in cols]) for w in ways
    ]
    df = conform_ways(spark.createDataFrame(rows, StructType(fields)))
    out = sidepath_stage(df)
    return {
        r["id"]: r.asDict()
        for r in out.select("id", "highway", "proc_sidepath", "proc_highway",
                            "proc_maxspeed", "name").collect()
    }


def _compare(spark, ways):
    got = _run(spark, ways)
    expected = brute_force_votes(ways)
    for pid, exp in expected.items():
        g = got[pid]
        assert g["proc_sidepath"] == exp["proc_sidepath"], (pid, g, exp)
        assert g["proc_highway"] == exp["proc_highway"], (pid, g, exp)
        assert g["proc_maxspeed"] == exp["proc_maxspeed"], (pid, g, exp)
        assert g["name"] == exp["name"], (pid, g, exp)


def test_basic_sidepath_cases(spark):
    ways = [
        # road + parallel path at 10 m -> sidepath of 'secondary', maxspeed 50
        {"id": "r1", "geometry": _line(13.40, 52.50, 800), "highway": "secondary",
         "name": "Alpha", "maxspeed": "50"},
        {"id": "p1", "geometry": _line(13.40, 52.50, 800, 10), "highway": "cycleway"},
        # path at 60 m -> not a sidepath
        {"id": "p2", "geometry": _line(13.40, 52.50, 800, 60), "highway": "cycleway"},
        # short path near road end (checks = 2, both must hit)
        {"id": "p3", "geometry": _line(13.40, 52.505, 80, 10), "highway": "footway",
         "bicycle": "yes"},
        {"id": "r2", "geometry": _line(13.40, 52.505, 800), "highway": "residential",
         "name": "Beta", "maxspeed": "30"},
        # explicit is_sidepath tag wins over geometry
        {"id": "p4", "geometry": _line(13.60, 52.60, 400), "highway": "cycleway",
         "is_sidepath": "yes"},
        # different layer -> no vote despite 10 m distance
        {"id": "r3", "geometry": _line(13.50, 52.55, 800), "highway": "primary",
         "maxspeed": "60", "layer": "1"},
        {"id": "p5", "geometry": _line(13.50, 52.55, 800, 10), "highway": "cycleway"},
        # same non-NULL layer -> vote works
        {"id": "p6", "geometry": _line(13.50, 52.55, 800, -10), "highway": "cycleway",
         "layer": "1"},
    ]
    _compare(spark, ways)
    got = _run(spark, ways)
    assert got["p1"]["proc_sidepath"] == "yes"
    assert got["p1"]["proc_highway"] == "secondary"
    assert got["p1"]["proc_maxspeed"] == 50
    assert got["p1"]["name"] == "Alpha"
    assert got["p2"]["proc_sidepath"] == "no"
    assert got["p5"]["proc_sidepath"] == "no"
    assert got["p6"]["proc_sidepath"] == "yes"


def test_partial_overlap_vote_threshold(spark):
    """Path running past the end of a road: vote fraction decides
    (reference/cycling_quality_index.py:317-341)."""
    ways = [
        {"id": "r1", "geometry": _line(13.40, 52.50, 300), "highway": "residential",
         "name": "Gamma", "maxspeed": "30"},
        # 1000 m path, road covers only its first 300 m (+22 m buffer):
        # checks = 11+1, hits ~4 -> 4 < 0.66*12 -> no
        {"id": "pa", "geometry": _line(13.40, 52.50, 1000, 10), "highway": "cycleway"},
        # 400 m path: checks 5+1=6, hits ~4 -> 4 >= 0.66*6=3.96 -> yes
        {"id": "pb", "geometry": _line(13.40, 52.50, 400, -10), "highway": "cycleway"},
    ]
    _compare(spark, ways)
    got = _run(spark, ways)
    assert got["pa"]["proc_sidepath"] == "no"
    assert got["pb"]["proc_sidepath"] == "yes"


def test_randomized_layout_matches_oracle(spark):
    rng = np.random.default_rng(99)
    ways = []
    hw_pool = ["residential", "secondary", "primary", "unclassified", "living_street"]
    for i in range(40):
        lat = 52.40 + i * 0.003
        lon = 13.10 + (i % 5) * 0.05
        length = float(rng.integers(100, 1500))
        ways.append({
            "id": f"r{i}", "geometry": _line(lon, lat, length),
            "highway": hw_pool[i % 5], "name": f"N{i % 7}",
            "maxspeed": str(int(rng.choice([30, 50, 60]))),
        })
        off = float(rng.uniform(-40, 40))
        plen = float(rng.integers(60, 1800))
        ways.append({
            "id": f"p{i}", "geometry": _line(lon, lat, plen, off),
            "highway": ["cycleway", "footway", "path"][i % 3],
            "bicycle": "yes",
        })
    _compare(spark, ways)


def test_pipeline_build_uses_no_deprecated_api(spark):
    """Building the whole CQI chain, sidepath vote included, emits no
    FutureWarning (Spark 4.1 deprecates a Column key in ``getItem``)."""
    import warnings

    from osm_cycling_quality_index_spark.operators.pipeline import cqi_pipeline
    from osm_cycling_quality_index_spark.sources.synth import ways_df

    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        cqi_pipeline(ways_df(spark, n_roads=24))


def _overlapping_roads():
    """Two same-class roads over one stretch (every check point of ``p1``
    sees both) next to a road of another class that only some check points
    see: a class's vote counts each check point once, however many of its
    roads the point sees."""
    return [
        {"id": "r1", "geometry": _line(13.40, 52.50, 300), "highway": "secondary",
         "name": "Alpha", "maxspeed": "50"},
        {"id": "r2", "geometry": _line(13.40, 52.50, 300, 4), "highway": "secondary",
         "name": "Alpha", "maxspeed": "30"},
        {"id": "r3", "geometry": _line(13.40, 52.50, 700, 20), "highway": "primary",
         "name": "Beta", "maxspeed": "60"},
        # checks 7+1: secondary sees 4, primary all 8
        {"id": "p1", "geometry": _line(13.40, 52.50, 700, 10), "highway": "cycleway"},
        # checks 3+1: secondary and primary both see all 4 -> rank wins
        {"id": "p2", "geometry": _line(13.40, 52.50, 250, 12), "highway": "cycleway"},
    ]


def _hostile_ways():
    """Degenerate paths and roads: NULL, empty, single-vertex and
    zero-length geometry, roads with NULL layer, highway, name or id, a
    path on a layer no road has, the overlapping same-class roads, and
    three path rows sharing an id: one 10 m from a road, two equal ones at
    60 m."""
    pt = _line(13.45, 52.52, 0)[:1]
    return [
        *_overlapping_roads(),
        {"id": "pnull", "geometry": None, "highway": "cycleway"},
        {"id": "pempty", "geometry": [], "highway": "path"},
        {"id": "psingle", "geometry": pt, "highway": "footway"},
        {"id": "pzero", "geometry": pt + pt, "highway": "cycleway"},
        {"id": "rzero", "geometry": pt + pt, "highway": "residential", "name": "Zed"},
        {"id": "rnullhw", "geometry": _line(13.45, 52.52, 200, 6), "name": "Zed",
         "maxspeed": "20"},
        {"id": None, "geometry": _line(13.45, 52.52, 200, -6), "highway": "service"},
        {"id": "rnulls", "geometry": _line(13.45, 52.52, 200, 9), "highway": "residential",
         "layer": None, "maxspeed": "x"},
        {"id": "plong", "geometry": _line(13.45, 52.52, 200, 3), "highway": "cycleway"},
        {"id": "player", "geometry": _line(13.45, 52.52, 200, 3), "highway": "path",
         "layer": "2"},
        {"id": "rsingle", "geometry": _line(13.46, 52.52, 0)[:1], "highway": "primary"},
        {"id": "rdup", "geometry": _line(13.47, 52.52, 300), "highway": "secondary"},
        {"id": "pdup", "geometry": _line(13.47, 52.52, 300, 10), "highway": "cycleway"},
        *[{"id": "pdup", "geometry": _line(13.47, 52.52, 300, 60), "highway": "cycleway"}] * 2,
    ]


def _frame(spark, ways):
    cols = sorted({k for w in ways for k in w} - {"geometry"})
    fields = [StructField("geometry", GEOMETRY_T)] + [StructField(c, StringType()) for c in cols]
    rows = [tuple([w.get("geometry")] + [w.get(c) for c in cols]) for w in ways]
    return conform_ways(spark.createDataFrame(rows, StructType(fields)))


def test_overlapping_same_class_roads_count_check_points(spark):
    """Both forms agree with the brute-force oracle when two roads of one
    class overlap: the class counts a check point once, not once per road."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    ways = _overlapping_roads()
    _compare(spark, ways)
    spark.conf.set(key, "-1")
    try:
        _compare(spark, ways)
    finally:
        spark.conf.set(key, saved)
    got = _run(spark, ways)
    assert got["p1"]["proc_sidepath"] == "yes" and got["p1"]["proc_highway"] == "primary"
    assert got["p2"]["proc_highway"] == "primary" and got["p2"]["proc_maxspeed"] == 60


def test_sidepath_broadcast_parity(spark):
    """The broadcast form (the roads' CSR index in one mapInArrow kernel,
    no cell exchange) and the shuffle form (threshold -1: the cell join
    and a grouped Arrow vote, no mapInArrow) give the same rows, on the
    golden network and on hostile ways, for the stage and for the raw vote
    (maps compared as dicts); both keep every input row once, and path rows
    sharing an id vote apart."""
    from osm_cycling_quality_index_spark.operators.sidepath import sidepath_votes
    from osm_cycling_quality_index_spark.sources.synth import ways_df

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def rows(df):
        return sorted((tuple(tuple(sorted(v.items())) if isinstance(v, dict) else v
                             for v in r) for r in df.drop("geometry").collect()), key=repr)

    def outputs(ways):
        is_path = F.col("highway").isin("cycleway", "footway", "path")
        is_road = ~F.col("highway").isin("cycleway", "footway", "path", "track") \
            | F.col("highway").isNull()
        stage = sidepath_stage(ways)
        return plan(stage), rows(stage), rows(sidepath_votes(ways, is_path, is_road))

    key = "spark.sql.autoBroadcastJoinThreshold"
    for ways in (conform_ways(ways_df(spark, n_roads=24)),
                 _frame(spark, _hostile_ways())):
        for c in ("layer", "name", "maxspeed"):
            if c not in ways.columns:
                ways = ways.withColumn(c, F.lit(None).cast("string"))
        saved = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            shuffle_plan, *shuffled = outputs(ways)
        finally:
            spark.conf.set(key, saved)
        default_plan, *default = outputs(ways)
        assert "MapInArrow" not in shuffle_plan
        assert "MapInArrow" in default_plan
        assert "Exchange hashpartitioning(cell" not in default_plan
        assert default == shuffled
        assert len(default[0]) == len(default[1]) == ways.count()
    stage = sidepath_stage(ways).where("id = 'pdup'")
    assert sorted(r["proc_sidepath"] for r in stage.collect()) == ["no", "no", "yes"]
