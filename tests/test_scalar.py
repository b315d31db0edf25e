"""Table-driven scalar-operator tests with hand-computed expectations from
the reference formulas (SURVEY.md §5, FIXTURES.md §3e)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_cycling_quality_index_spark.operators.conform import conform_ways
from osm_cycling_quality_index_spark.operators.derive import derive_attributes
from osm_cycling_quality_index_spark.operators.scoring import score
from osm_cycling_quality_index_spark.operators.waytype import classify


def run_scalar(spark, rows: list[dict], proc: dict | None = None):
    """Run classify+derive+score over raw tag rows (no geometry stage)."""
    df = conform_ways(spark.createDataFrame(rows), keep_geometry=False)
    if proc:
        df = df.withColumns({k: F.lit(v) for k, v in proc.items()})
    out = score(derive_attributes(classify(df)))
    return {r["id"]: r.asDict() for r in out.collect()}


# -- width factor curve (reference/cycling_quality_index.py:1331-1346) -------

def _fac_width_dedicated(width, oneway=False):
    calc = width if oneway else width / 1.6
    calc = max(0.001, calc)
    if calc <= 3:
        f = 1.1 / (1 + 20 * math.e ** (-2.1 * calc))
    else:
        f = 2 / (1 + 1.8 * math.e ** (-0.24 * calc))
    return round(max(0.0, f), 3)


def test_width_factor_curve(spark):
    widths = [0.5, 1.4, 2.0, 3.0, 4.81, 8.0]
    rows = [
        {"id": f"w{i}", "highway": "cycleway", "width": str(w), "oneway": "yes"}
        for i, w in enumerate(widths)
    ] + [
        # oneway split: same width, calc differs by /1.6 (:1313-1314)
        {"id": "s_yes", "highway": "cycleway", "width": "3.2", "oneway": "yes"},
        {"id": "s_no", "highway": "cycleway", "width": "3.2", "oneway": "no"},
    ]
    out = run_scalar(spark, rows)
    for i, w in enumerate(widths):
        assert out[f"w{i}"]["fac_width"] == pytest.approx(
            _fac_width_dedicated(w, oneway=True)
        ), w
    assert out["s_yes"]["fac_width"] == pytest.approx(_fac_width_dedicated(3.2, True))
    assert out["s_no"]["fac_width"] == pytest.approx(_fac_width_dedicated(3.2, False))
    assert out["s_yes"]["fac_width"] != out["s_no"]["fac_width"]


def test_default_width_oneway_inflation(spark):
    """Missing width: the way-type default is inflated x1.6 for non-oneways
    (reference/cycling_quality_index.py:762-763).  A bare cycleway with no
    sidepath info classifies as 'cycle path' (path default 2.0); with
    is_sidepath=yes it is a 'cycle track' (cycleway default 1.5)."""
    rows = [
        {"id": "a", "highway": "cycleway", "oneway": "yes", "is_sidepath": "yes"},
        {"id": "b", "highway": "cycleway", "oneway": "no", "is_sidepath": "yes"},
        {"id": "c", "highway": "cycleway", "oneway": "yes"},
        {"id": "d", "highway": "cycleway", "oneway": "no"},
    ]
    out = run_scalar(spark, rows)
    assert out["a"]["proc_width"] == 1.5
    assert out["b"]["proc_width"] == pytest.approx(2.4)
    assert out["c"]["proc_width"] == 2.0
    assert out["d"]["proc_width"] == pytest.approx(3.2)
    assert out["a"]["data_missing"].startswith("width")


def test_carriageway_default_oneway_division(spark):
    """Shared-road default width is round(w/1.6, 1) for oneways
    (reference/cycling_quality_index.py:982-983)."""
    rows = [
        {"id": "a", "highway": "residential", "oneway": "yes"},
        {"id": "b", "highway": "residential", "oneway": "no"},
    ]
    out = run_scalar(spark, rows)
    # 11/1.6 = 6.875 -> round 6.9; capped at 4 (oneway unmarked parking)
    assert out["a"]["proc_width"] == 4.0
    # 11 capped at 5.5
    assert out["b"]["proc_width"] == 5.5


# -- maxspeed step function (reference/parameter.py:162-169, :1381-1384) -----

def test_maxspeed_steps(spark):
    cases = [(10, 1.0), (20, 1.05), (29, 1.05), (30, 1.0), (50, 0.95), (60, 0.85),
             (69, 0.85), (70, 0.7), (99, 0.7), (100, 0.5), (299, 0.5)]
    rows = [
        {"id": f"s{v}", "highway": "residential", "maxspeed": str(v)} for v, _ in cases
    ]
    df = conform_ways(spark.createDataFrame(rows), keep_geometry=False)
    df = df.withColumns({
        "proc_highway": F.lit("residential"),
        "proc_maxspeed": F.col("maxspeed").cast("int"),
    })
    out = {r["id"]: r.asDict() for r in score(derive_attributes(classify(df))).collect()}
    for v, expected in cases:
        assert out[f"s{v}"]["fac_maxspeed"] == expected, v


def test_maxspeed_tokens(spark):
    from osm_cycling_quality_index_spark.functions.tags import normalize_maxspeed

    df = conform_ways(
        spark.createDataFrame([
            {"id": "walk", "highway": "residential", "maxspeed": "walk"},
            {"id": "none", "highway": "residential", "maxspeed": "none"},
            {"id": "ls", "highway": "living_street"},
            {"id": "junk", "highway": "residential", "maxspeed": "fast"},
        ]),
        keep_geometry=False,
    )
    got = {
        r["id"]: r["ms"]
        for r in df.withColumn(
            "ms", normalize_maxspeed(F.col("maxspeed"), F.col("highway"))
        ).collect()
    }
    assert got == {"walk": 10.0, "none": 299.0, "ls": 10.0, "junk": None}


# -- weakest surface (reference/definitions.py:114-126) ----------------------

def test_weakest_surface(spark):
    cases = [
        ("asphalt;sett", "sett"),
        ("sett;asphalt", "sett"),
        ("asphalt;unknown", "asphalt"),
        ("unknown;stranger", None),
        ("grass;asphalt;gravel", "grass"),
    ]
    rows = [
        {"id": f"c{i}", "highway": "cycleway", "surface": s, "width": "2"}
        for i, (s, _) in enumerate(cases)
    ]
    out = run_scalar(spark, rows)
    for i, (s, expected) in enumerate(cases):
        assert out[f"c{i}"]["proc_surface"] == expected, s


# -- oneway derivation (reference/cycling_quality_index.py:703-743) ----------

def test_oneway(spark):
    cases = [
        ({"highway": "residential"}, "no"),
        ({"highway": "residential", "oneway": "yes"}, "yes"),
        ({"highway": "residential", "oneway": "yes", "oneway:bicycle": "no"}, "yes_motor_vehicles"),
        ({"highway": "residential", "oneway": "-1", "oneway:bicycle": "no"}, "-1_motor_vehicles"),
        ({"highway": "residential", "oneway:bicycle": "yes"}, "yes"),
        ({"highway": "cycleway"}, "no"),
        ({"highway": "cycleway", "oneway": "yes"}, "yes"),
        ({"highway": "cycleway", "oneway": "yes", "oneway:bicycle": "no"}, "no"),
        ({"highway": "residential", "cycleway:right": "share_busway", "oneway": "junkval"}, "no"),
    ]
    rows = [dict(id=f"c{i}", **tags) for i, (tags, _) in enumerate(cases)]
    out = run_scalar(spark, rows)
    for i, (tags, expected) in enumerate(cases):
        assert out[f"c{i}"]["proc_oneway"] == expected, tags


# -- access ladders (reference/definitions.py:54-72) -------------------------

def test_access_ladder_filters(spark):
    rows = [
        {"id": "keep1", "highway": "residential"},
        {"id": "keep2", "highway": "residential", "access": "no", "bicycle": "yes"},
        {"id": "drop1", "highway": "residential", "access": "no"},
        {"id": "drop2", "highway": "residential", "vehicle": "private"},
        {"id": "keep3", "highway": "residential", "vehicle": "private", "bicycle": "permissive"},
        {"id": "drop3", "highway": "path", "informal": "yes"},
        {"id": "keep4", "highway": "path", "informal": "yes", "bicycle": "yes"},
    ]
    out = run_scalar(spark, rows)
    assert set(out) == {"keep1", "keep2", "keep3", "keep4"}


# -- way type tree (reference/cycling_quality_index.py:523-686) --------------

def test_way_type(spark):
    cases = [
        ({"highway": "residential", "bicycle_road": "yes"}, "bicycle road"),
        ({"highway": "footway", "footway": "crossing", "bicycle": "yes"}, "crossing"),
        ({"highway": "footway", "footway": "link", "bicycle": "yes"}, "link"),
        ({"highway": "pedestrian", "bicycle": "yes"}, "shared footway"),
        ({"highway": "path", "foot": "designated"}, "shared footway"),
        ({"highway": "path", "segregated": "yes"}, "segregated path"),
        ({"highway": "path"}, "shared path"),
        ({"highway": "cycleway", "foot": "yes"}, "shared path"),
        ({"highway": "cycleway", "is_sidepath": "yes"}, "cycle track"),
        ({"highway": "cycleway", "is_sidepath": "yes", "separation:left": "bollard"}, "cycle lane (protected)"),
        ({"highway": "cycleway", "is_sidepath": "yes", "separation:left": "kerb"}, "cycle track"),
        ({"highway": "cycleway", "is_sidepath": "no"}, "cycle path"),
        ({"highway": "service"}, "track or service"),
        ({"highway": "track"}, "track or service"),
        ({"highway": "primary"}, "shared traffic lane"),
        ({"highway": "residential"}, "shared road"),
        ({"highway": "residential", "lane_markings": "yes"}, "shared traffic lane"),
    ]
    rows = [dict(id=f"c{i}", **tags) for i, (tags, _) in enumerate(cases)]
    out = run_scalar(spark, rows)
    for i, (tags, expected) in enumerate(cases):
        assert out[f"c{i}"]["way_type"] == expected, tags


def test_way_type_offset_sides(spark):
    """Offset branch rows classify by side-specific tags
    (reference/cycling_quality_index.py:611-680)."""
    rows = [
        {"id": "r", "highway": "residential", "cycleway:right": "lane",
         "cycleway:right:lane": "exclusive", "oneway": "yes"},
        {"id": "t", "highway": "residential", "cycleway:left": "track", "oneway": "no"},
        {"id": "s", "highway": "residential", "sidewalk:right:bicycle": "yes"},
        # all four branches
        {"id": "a", "highway": "residential", "cycleway:both": "lane",
         "sidewalk:both:bicycle": "yes"},
        # NULL highway still spawns: `highway != 'cycleway'` is True (:377)
        {"id": "n", "highway": None, "cycleway:left": "lane"},
        # a cycleway's own cycleway tags spawn nothing
        {"id": "c", "highway": "cycleway", "cycleway:both": "track"},
    ]
    from osm_cycling_quality_index_spark.operators.offset import offset_stage

    df = conform_ways(spark.createDataFrame(rows), keep_geometry=False)
    out = score(derive_attributes(classify(offset_stage(df)))).collect()
    got = {(r["id"], r["side"]): r["way_type"] for r in out}
    assert got[("r", None)] == "shared road"
    assert got[("r", "right")] == "cycle lane (exclusive)"
    assert got[("t", "left")] == "cycle track"
    assert got[("s", "right")] == "shared footway"
    assert ("t", "right") not in got  # no right cycleway tagged
    branches = sorted(
        (r["id"], r["side"] or "", r["type"] or "", r["offset"]) for r in out
    )
    centerline = [(i, "", "", None) for i in "acnrst"]
    assert branches == sorted(centerline + [
        ("a", "left", "cycleway", 0.0), ("a", "left", "sidewalk", 0.0),
        ("a", "right", "cycleway", 0.0), ("a", "right", "sidewalk", 0.0),
        ("n", "left", "cycleway", 0.0),
        ("r", "right", "cycleway", 0.0),
        ("s", "right", "sidewalk", 0.0),
        ("t", "left", "cycleway", 0.0),
    ])


def test_offset_udf_null_distance(spark):
    """A NULL offset distance leaves the geometry bit-identical.  Degenerate
    geometry gets the per-way kernel's answer: a NULL geometry stays NULL,
    an empty one stays empty, a single vertex stays put, and duplicated
    vertices go through geo.kernels.offset_polyline."""
    from osm_cycling_quality_index_spark.geo import kernels as K
    from osm_cycling_quality_index_spark.geo.udfs import make_offset_udf
    from osm_cycling_quality_index_spark.operators.offset import offset_stage

    line = [{"x": 13.4, "y": 52.5}, {"x": 13.41, "y": 52.5001}]
    dup = [line[0], line[0], line[1], line[1], {"x": 13.42, "y": 52.5}]
    df = spark.createDataFrame(
        [("keep", line, None), ("move", line, 2.0), ("null", None, 2.0),
         ("empty", [], 2.0), ("s1", line[:1], 2.0), ("dup", dup, -3.0)],
        "id string, geometry array<struct<x:double,y:double>>, d double",
    )
    got = {r["id"]: r["g"] and [p.asDict() for p in r["g"]] for r in
           df.select("id", make_offset_udf()("geometry", "d").alias("g")).collect()}
    assert got["keep"] == line
    assert not any(math.isnan(v) for p in got["keep"] for v in p.values())
    assert got["move"] != line
    assert got["null"] is None and got["empty"] == [] and got["s1"] == line[:1]
    for i, g, d in (("move", line, 2.0), ("dup", dup, -3.0)):
        lon, lat = K.offset_polyline(np.array([p["x"] for p in g]),
                                     np.array([p["y"] for p in g]), d)
        assert got[i] == [{"x": x, "y": y} for x, y in zip(lon, lat)], i

    # realistic mode runs the UDF over every row: a way that spawns no
    # branch keeps its centerline geometry
    ways = conform_ways(spark.createDataFrame(
        [("w", line, "residential")],
        "id string, geometry array<struct<x:double,y:double>>, highway string",
    ), keep_geometry=True)
    out = offset_stage(ways, mode="realistic").collect()
    assert [(r["id"], r["side"]) for r in out] == [("w", None)]
    assert [p.asDict() for p in out[0]["geometry"]] == line


# -- LTS (reference/cycling_quality_index.py:1583-1626) ----------------------

def test_lts(spark):
    cases = [
        ({"highway": "cycleway", "is_sidepath": "no"}, {}, 1),
        ({"highway": "path", "width": "2.5", "foot": "designated", "bicycle": "yes"},
         {"proc_maxspeed": 50, "proc_sidepath": "yes"}, 3),
        ({"highway": "residential"}, {"proc_highway": "residential", "proc_maxspeed": 30}, 2),
        ({"highway": "residential"}, {"proc_highway": "residential", "proc_maxspeed": 50}, 4),
        ({"highway": "service"}, {"proc_maxspeed": 10}, 1),
        ({"highway": "service"}, {}, 2),
    ]
    for i, (tags, proc, expected) in enumerate(cases):
        # proc overrides differ per case; group cases with equal proc maps
        out = run_scalar(spark, [dict(id="x", **tags)], proc=proc or None)
        assert out["x"]["stress_level"] == expected, (tags, proc)


# -- index composition & bonuses ---------------------------------------------

def test_index_banker_rounding(spark):
    """int(round(x)) uses banker's rounding (reference :1571)."""
    # 100 * fac_1 exactly x.5 is hard to hit; verify bround behavior directly
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(v=24.5), Row(v=25.5), Row(v=24.63)])
    got = [r[0] for r in df.select(F.bround("v", 0).cast("int")).collect()]
    assert got == [24, 26, 25]


def test_motor_vehicle_access_override(spark):
    rows = [{"id": "x", "highway": "residential", "motor_vehicle": "destination",
             "width": "5", "surface": "asphalt", "smoothness": "good", "lit": "yes",
             "maxspeed": "30"}]
    out = run_scalar(spark, rows, proc={"proc_highway": "residential", "proc_maxspeed": 30})
    assert out["x"]["base_index"] == 70
    assert "motor vehicle restricted" in out["x"]["data_bonus"]
    # fac_width gets the restricted-access boost (:1343-1344)
    calc = 5 / 1.6 - 2  # shared road, not oneway
    f = 1.1 / (1 + 20 * math.e ** (-2.1 * max(0.001, calc)))
    f = f + (1 - f) / 2
    assert out["x"]["fac_width"] == pytest.approx(round(max(0.25, f), 3))


def test_data_incompleteness_weights(spark):
    rows = [{"id": "x", "highway": "residential"}]
    out = run_scalar(spark, rows, proc={"proc_highway": "residential"})
    # missing: width(25) + parking(25) + surface(30) + smoothness(10)
    #          + maxspeed(15) + lit(15) = 120
    assert out["x"]["data_missing"] == "width;parking;surface;smoothness;maxspeed;lit"
    assert out["x"]["data_incompleteness"] == 120.0


def test_segregated_path_double_width_missing(spark):
    """highway=path segregated with no widths appends 'width' twice
    (reference/cycling_quality_index.py:778+787)."""
    rows = [{"id": "x", "highway": "path", "segregated": "yes"}]
    out = run_scalar(spark, rows)
    assert out["x"]["data_missing"].startswith("width;width")
    assert out["x"]["data_incompleteness"] >= 50


def test_traffic_sign_mandatory(spark):
    rows = [
        {"id": "a", "highway": "cycleway", "traffic_sign": "DE:237"},
        {"id": "b", "highway": "cycleway", "traffic_sign": "DE:1022-10"},
        {"id": "c", "highway": "cycleway", "traffic_sign": "DE:1022-10;DE:240"},
        {"id": "d", "highway": "cycleway", "traffic_sign": "DE:240,DE:none"},
        {"id": "e", "highway": "cycleway"},
    ]
    out = run_scalar(spark, rows, proc={"proc_sidepath": "yes"})
    assert out["a"]["proc_mandatory"] == "yes"
    assert out["b"]["proc_mandatory"] == "no"
    assert out["c"]["proc_mandatory"] == "yes"  # later token wins
    assert out["d"]["proc_mandatory"] == "no"
    assert out["e"]["proc_mandatory"] is None


def test_dooring_malus(spark):
    """Cycle lane next to parking with a small buffer: dooring malus
    (reference/cycling_quality_index.py:1547-1559).  The offset branch
    derives buffer:right from cycleway:right:buffer:right (:487-490)."""
    rows = [{"id": "x", "highway": "residential", "cycleway:right": "lane",
             "cycleway:right:width": "2", "surface": "asphalt", "maxspeed": "30",
             "parking:right": "lane", "cycleway:right:buffer:right": "0.5",
             "lit": "yes"}]
    from osm_cycling_quality_index_spark.operators.offset import offset_stage

    df = conform_ways(spark.createDataFrame(rows), keep_geometry=False)
    out = score(derive_attributes(classify(offset_stage(df))))
    side = [r.asDict() for r in out.collect() if r["side"] == "right"][0]
    assert side["way_type"] == "cycle lane (advisory)"
    assert side["proc_traffic_mode_left"] == "motor_vehicle"
    assert side["proc_traffic_mode_right"] == "parking"
    assert side["proc_buffer_right"] == 0.5
    assert "insufficient dooring buffer" in side["data_malus"]
    # diff = abs(0.5 - 1)/5 = 0.1 -> fac_4 = 1 - 0.1
    assert side["fac_4"] == pytest.approx(0.9)
