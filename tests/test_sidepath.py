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

GEOM_T = ArrayType(StructType([StructField("x", DoubleType()), StructField("y", DoubleType())]))


def _line(lon0, lat0, length_m, lat_off_m=0.0):
    return [
        {"x": lon0, "y": lat0 + lat_off_m / MPD_Y},
        {"x": lon0 + length_m / MPD_X, "y": lat0 + lat_off_m / MPD_Y},
    ]


def _run(spark, ways: list[dict]) -> dict[str, dict]:
    cols = sorted({k for w in ways for k in w} - {"geometry"})
    fields = [StructField("geometry", GEOM_T)] + [StructField(c, StringType()) for c in cols]
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
