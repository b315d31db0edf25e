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


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def test_pipeline_matches_golden(spark):
    out = cqi_pipeline(ways_df(spark, n_roads=24))
    # the offset split is one exploded pass, not a union of branch copies
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert not re.search(r"^[\s:+\-!]*Union\b", plan, re.M)
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
