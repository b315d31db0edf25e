"""Round-7 (optimization round) regression tests: the size-adaptive
connected-components local path must be bit-identical to the distributed
label-propagation loop, on long and string node ids."""

from __future__ import annotations

import pytest


def _cc(spark, edges_df, monkeypatch, local: bool):
    from osm_cycling_quality_index_spark.operators import dedup

    # CC_LOCAL_EDGES=0 forces the distributed loop; a huge bound forces the
    # local union-find (the default takes it for these tiny graphs anyway)
    monkeypatch.setenv("CC_LOCAL_EDGES", "1000000" if local else "0")
    got = {r["node"]: r["component"]
           for r in dedup.connected_components(edges_df, max_iter=64).collect()}
    dedup.release_session_pinned(spark)
    return got


def test_cc_local_matches_distributed_long_ids(spark, monkeypatch):
    edges = []
    # long path (diameter 40), two cliques, isolated pairs, dup/reversed edges
    edges += [(i, i + 1) for i in range(40)]
    for base in (100, 200):
        edges += [(base + i, base + j)
                  for i in range(5) for j in range(i + 1, 5)]
    edges += [(301, 300), (300, 301), (400, 401)]
    df = spark.createDataFrame(edges, "src long, dst long")
    local = _cc(spark, df, monkeypatch, local=True)
    dist = _cc(spark, df, monkeypatch, local=False)
    assert local == dist
    assert local[40] == 0 and local[301] == 300  # non-vacuous


def test_cc_local_matches_distributed_string_ids(spark, monkeypatch):
    # string ids: the local path must order like Spark (binary/UTF-8),
    # including length-prefix cases ('w2' vs 'w10')
    edges = [("w2", "w10"), ("w10", "w3"), ("a", "B"), ("B", "z"),
             ("p1", "p2")]
    df = spark.createDataFrame(edges, "src string, dst string")
    local = _cc(spark, df, monkeypatch, local=True)
    dist = _cc(spark, df, monkeypatch, local=False)
    assert local == dist
    assert local["w2"] == "w10"  # 'w10' < 'w2' byte-wise


def test_sidepath_vote_null_names_match_oracle(spark):
    """The consolidated single-pass vote aggregate (round 7) must keep the
    NULLS-FIRST name tie-break and NULL-class handling of the old per-vote
    window branches: roads with no name / unlisted highway exercise the
    struct-ordering min/max paths."""
    import sys as _sys
    from pathlib import Path

    _sys.path.insert(0, str(Path(__file__).parent))
    from oracle_sidepath import brute_force_votes
    from test_sidepath import _compare, _line

    ways = []
    for i in range(12):
        lat = 52.40 + i * 0.003
        lon = 13.10
        ways.append({
            "id": f"r{i}", "geometry": _line(lon, lat, 900.0),
            # half the roads have no name; two per path so name counts tie
            "highway": ["residential", "bridleway"][i % 2],
            "name": None if i % 2 else f"N{i % 3}",
            "maxspeed": "30",
        })
        ways.append({
            "id": f"r{i}b", "geometry": _line(lon, lat, 900.0, 6.0),
            "highway": "residential", "name": None, "maxspeed": "50",
        })
        ways.append({
            "id": f"p{i}", "geometry": _line(lon, lat, 800.0, 12.0),
            "highway": ["cycleway", "footway", "path"][i % 3],
            "bicycle": "yes",
        })
    _compare(spark, ways)
    assert brute_force_votes(ways)  # non-vacuous


def test_cc_max_iter_guard(spark):
    from osm_cycling_quality_index_spark.operators.dedup import (
        connected_components,
    )

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        connected_components(df, max_iter=0)


def test_lang_quality_keeps_negative_and_null_keys(spark, tmp_path):
    """``q_lang_quality`` keeps a customer whose key is negative or NULL,
    with text '', as its DuckDB oracle does (both keep the dividend's sign
    in ``%``); compared the way ``tools/check_oracles.py`` compares."""
    import importlib.util
    from pathlib import Path

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    root = Path(__file__).parent.parent
    spec = importlib.util.spec_from_file_location(
        "check_oracles", root / "tools" / "check_oracles.py")
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)

    keys = [-7, -1, None, 0, 13, 14]
    pq.write_table(pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"c{k}" for k in keys],
        "c_nationkey": pa.array([1] * len(keys), pa.int32()),
        "c_acctbal": [0.0] * len(keys),
        "c_mktsegment": ["BUILDING"] * len(keys),
    }), tmp_path / "customer.parquet")

    sdf = E.queries()["lang_quality"](spark, str(tmp_path))
    cols = sorted(sdf.columns)
    got = check.normalize([r.asDict() for r in sdf.collect()], cols)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW customer AS SELECT * FROM '{tmp_path}/customer.parquet'")
    rel = con.sql(E.oracle_sql()["lang_quality"])
    want = check.normalize([dict(zip(rel.columns, row)) for row in rel.fetchall()],
                           sorted(rel.columns))
    assert len(want) == len(keys)
    assert got == want
