"""Golden end-to-end fixture (SURVEY.md §5: the reference's own methodology
is a committed full-pipeline output diffed on rerun).

The per-operator semantics are verified against independent oracles
(test_scalar, test_sidepath, tools/check_oracles.py); this test freezes the
full composition — conform -> sidepath vote -> offset split -> classify ->
derive -> score -> retain — so any regression in stage wiring shows up as a
row diff.  Regenerate deliberately with
``python tests/regen_golden.py`` after an intended semantic change.
"""

from __future__ import annotations

import json
import math
import os
import re

from osm_cycling_quality_index_spark import params as P
from osm_cycling_quality_index_spark.operators.pipeline import cqi_pipeline
from osm_cycling_quality_index_spark.sources.synth import ways_df

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "expected_scored.json")


#: the written schema: names, order and types
SCHEMA = [
    ("geometry", "array<struct<x:double,y:double>>"),
    ("id", "string"), ("name", "string"), ("way_type", "string"),
    ("index", "int"), ("index_10", "int"), ("stress_level", "int"),
    ("side", "string"), ("offset", "double"),
    ("proc_width", "double"), ("proc_surface", "string"),
    ("proc_smoothness", "string"), ("proc_oneway", "string"),
    ("proc_sidepath", "string"), ("proc_highway", "string"),
    ("proc_maxspeed", "int"),
    ("proc_traffic_mode_left", "string"), ("proc_traffic_mode_right", "string"),
    ("proc_separation_left", "string"), ("proc_separation_right", "string"),
    ("proc_buffer_left", "double"), ("proc_buffer_right", "double"),
    ("proc_mandatory", "string"), ("proc_traffic_sign", "string"),
    ("fac_width", "double"), ("fac_surface", "double"), ("fac_highway", "double"),
    ("fac_maxspeed", "double"), ("base_index", "int"),
    ("fac_1", "double"), ("fac_2", "double"), ("fac_3", "double"), ("fac_4", "double"),
    ("data_bonus", "string"), ("data_malus", "string"),
    ("data_incompleteness", "double"), ("data_missing", "string"),
    ("data_missing_width", "int"), ("data_missing_surface", "int"),
    ("data_missing_smoothness", "int"), ("data_missing_maxspeed", "int"),
    ("data_missing_parking", "int"), ("data_missing_lit", "int"),
    ("filter_way_type", "string"), ("filter_usable", "int"),
]


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def test_pipeline_matches_golden(spark):
    out = cqi_pipeline(ways_df(spark, n_roads=24))
    # the offset split is one exploded pass, not a union of branch copies
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert not re.search(r"^[\s:+\-!]*Union\b", plan, re.M)
    # conformance keeps only the tags the input has; the written schema
    # must not depend on that
    assert out.dtypes == SCHEMA
    cols = list(P.ATTRIBUTES_LIST_FINALLY_RETAINED)
    got = [
        {c: _norm(r[c]) for c in cols}
        for r in out.select(*cols).orderBy("id", "side").collect()
    ]
    with open(GOLDEN) as fh:
        expected = json.load(fh)
    assert len(got) == len(expected), (len(got), len(expected))
    for g, e in zip(got, expected):
        for c in cols:
            ev = e[c]
            gv = g[c]
            if isinstance(gv, float) and ev is not None:
                assert math.isclose(gv, float(ev), rel_tol=0, abs_tol=1e-9), (
                    g["id"], g["side"], c, gv, ev)
            else:
                assert (str(gv) if gv is not None else None) == (
                    str(ev) if ev is not None else None
                ), (g["id"], g["side"], c, gv, ev)
