"""Output checks that run outside the timed passes and without Spark: the
committed golden scores, a numpy brute-force nearest-way oracle, and
order-independent table hashes for pass-to-pass equality."""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd

from osm_cycling_quality_index_spark import params as P
from osm_cycling_quality_index_spark.geo.kernels import project

GOLDEN = os.path.join("tests", "golden", "expected_scored.json")


def table_hash(df: pd.DataFrame, drop_prefix: str = "_lineage_") -> tuple[int, int]:
    """(rows, order-independent hash) of a frame, lineage columns dropped."""
    df = df[sorted(c for c in df.columns if not c.startswith(drop_prefix))]
    if df.empty:
        return 0, 0
    rows = pd.util.hash_pandas_object(df.astype(str), index=False)
    return len(df), int(rows.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))


def golden_mismatches(scored: pd.DataFrame) -> list[str]:
    """Compare the golden network's rows of a scored output with the
    committed fixture, as tests/test_pipeline_golden.py does."""
    with open(GOLDEN) as fh:
        expected = json.load(fh)
    cols = list(P.ATTRIBUTES_LIST_FINALLY_RETAINED)
    got = scored[~scored["id"].str.startswith("b")][cols]
    got = got.astype(object).where(pd.notna(got), None)
    rows = sorted(got.to_dict("records"),
                  key=lambda r: (r["id"], r["side"] is not None, r["side"] or ""))
    if len(rows) != len(expected):
        return [f"golden rows {len(rows)} != {len(expected)}"]
    bad = []
    for g, e in zip(rows, expected):
        for c in cols:
            gv, ev = g[c], e[c]
            if isinstance(gv, float) and ev is not None:
                ok = math.isclose(gv, float(ev), rel_tol=0, abs_tol=1e-9)
            else:
                ok = (str(gv) if gv is not None else None) == (
                    str(ev) if ev is not None else None)
            if not ok:
                bad.append(f"{g['id']}/{g['side']}/{c}: {gv!r} != {ev!r}")
    return bad


def _segments(ways: pd.DataFrame):
    ids, ax, ay, bx, by = [], [], [], [], []
    for wid, geom in zip(ways["id"], ways["geometry"]):
        x, y = project([p["x"] for p in geom], [p["y"] for p in geom])
        for i in range(len(x) - 1):
            ids.append(wid)
            ax.append(x[i]); ay.append(y[i]); bx.append(x[i + 1]); by.append(y[i + 1])
    return np.array(ids), *(np.array(v) for v in (ax, ay, bx, by))


def nearest_way_mismatches(ways: pd.DataFrame, tagged: pd.DataFrame,
                           sample: np.ndarray, tol_m: float = 1e-6) -> list[str]:
    """Brute-force nearest way for the ``sample`` rows of a geotag output.
    A row agrees when its distance is the true minimum and its way is at
    that distance (ties may pick either way)."""
    ids, ax, ay, bx, by = _segments(ways)
    dx, dy = bx - ax, by - ay
    ll = dx * dx + dy * dy
    rows = tagged.iloc[sample]
    px, py = project(rows["lon"].to_numpy(), rows["lat"].to_numpy())
    bad = []
    for k in range(0, len(rows), 256):
        qx, qy = px[k:k + 256, None], py[k:k + 256, None]
        t = np.where(ll > 0, ((qx - ax) * dx + (qy - ay) * dy) / np.where(ll > 0, ll, 1), 0.0)
        t = np.clip(t, 0.0, 1.0)
        d = np.hypot(qx - (ax + t * dx), qy - (ay + t * dy))
        best = d.min(axis=1)
        for j, (_, r) in enumerate(rows.iloc[k:k + 256].iterrows()):
            own = d[j][ids == r["way_id"]]
            if (r["dist_m"] is None or not math.isclose(r["dist_m"], best[j], abs_tol=tol_m)
                    or own.size == 0 or not math.isclose(own.min(), best[j], abs_tol=tol_m)):
                bad.append(f"{r['image_id']}: way {r['way_id']} at {r['dist_m']} vs "
                           f"{ids[d[j].argmin()]} at {best[j]}")
    return bad
