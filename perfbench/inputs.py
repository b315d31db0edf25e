"""Seeded benchmark inputs, written as parquet under the run's work dir.

The way networks come from ``sources.synth.ways_pdf``, which is fixed by its
size; the seed moves everything else: the offset of the ``city_job`` bulk
network, point and image placement, payload pixels and the hot cell of
``geotag_hotcell``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from osm_cycling_quality_index_spark.geo import cells as C
from osm_cycling_quality_index_spark.geo.kernels import MPD_Y, unproject
from osm_cycling_quality_index_spark.sources.synth import IMAGE_SCHEMA, images_pdf, ways_pdf

#: the road network of tests/golden/expected_scored.json
GOLDEN_ROADS = 24
#: the bulk network is shifted at least this far north, so no bulk way lies
#: within any spatial-join radius of a golden way and golden rows stay exact
BULK_SHIFT_LAT = 0.35
HOT_RES = 8

_GEOM = pa.list_(pa.struct([("x", pa.float64()), ("y", pa.float64())]))


def _write_ways(pdf: pd.DataFrame, path: str) -> None:
    fields = [pa.field(c, _GEOM if c == "geometry" else pa.string()) for c in pdf.columns]
    table = pa.Table.from_pandas(pdf, schema=pa.schema(fields), preserve_index=False)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _write_images(pdf: pd.DataFrame, path: str) -> None:
    types = {"string": pa.string(), "binary": pa.binary(), "int": pa.int32(),
             "bigint": pa.int64(), "double": pa.float64()}
    schema = pa.schema([pa.field(f.name, types[f.dataType.simpleString()])
                        for f in IMAGE_SCHEMA.fields])
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def city_ways(seed: int, bulk_roads: int) -> pd.DataFrame:
    """The golden 24-road network plus a bulk network with ``b`` prefixed
    ids, moved north by a seeded offset."""
    golden = ways_pdf(n_roads=GOLDEN_ROADS)
    bulk = ways_pdf(n_roads=bulk_roads)
    bulk["id"] = "b" + bulk["id"]
    dx, dy = np.random.default_rng(seed).uniform(0, 0.05, 2)
    dy += BULK_SHIFT_LAT
    bulk["geometry"] = bulk["geometry"].map(
        lambda g: [{"x": p["x"] + dx, "y": p["y"] + dy} for p in g])
    ways = pd.concat([golden, bulk], ignore_index=True)
    return ways.astype({c: object for c in ways.columns if c != "geometry"}).where(
        pd.notna(ways), None)


def write_city_job(work: str, seed: int, bulk_roads: int) -> dict:
    ways = city_ways(seed, bulk_roads)
    path = os.path.join(work, "ways")
    _write_ways(ways, path)
    return {"ways": path, "n_ways": len(ways), "input_bytes": dir_bytes(path)}


def hot_cluster(seed: int, roads: pd.DataFrame, n_roads: int,
                n_ways: int) -> tuple[int, pd.DataFrame]:
    """A seeded res-8 hot cell and a cluster of ``n_ways`` short ways around
    its center.  The cell sits on a seeded road that has a sidepath 10 m
    away (every 8th road), so each seed puts it in the same surroundings."""
    rng = np.random.default_rng(seed + 1)
    g = roads.loc[roads["id"] == f"r{8 * rng.integers(0, n_roads // 8)}", "geometry"].iloc[0]
    t = rng.uniform(0.3, 0.7)
    lon = g[0]["x"] + t * (g[-1]["x"] - g[0]["x"])
    cell = int(C.hex_encode(lon, g[0]["y"], HOT_RES))
    cx, cy = C.hex_center_xy(np.array([cell]))
    ang = rng.uniform(0, np.pi, n_ways)
    r = rng.uniform(0, 150, n_ways)
    th = rng.uniform(0, 2 * np.pi, n_ways)
    x0 = cx[0] + r * np.cos(th)
    y0 = cy[0] + r * np.sin(th)
    x1, y1 = x0 + 30 * np.cos(ang), y0 + 30 * np.sin(ang)
    lon0, lat0 = unproject(x0, y0)
    lon1, lat1 = unproject(x1, y1)
    geoms = [[{"x": float(a), "y": float(b)}, {"x": float(c), "y": float(d)}]
             for a, b, c, d in zip(lon0, lat0, lon1, lat1)]
    return cell, pd.DataFrame({"id": [f"h{k}" for k in range(n_ways)], "geometry": geoms})


def write_geotag_hotcell(work: str, seed: int, n_roads: int, n_points: int,
                         hot_frac: float, hot_ways: int, n_images: int) -> dict:
    roads = ways_pdf(n_roads=n_roads)[["id", "geometry"]]
    cell, cluster = hot_cluster(seed, roads, n_roads, hot_ways)
    ways = pd.concat([roads, cluster], ignore_index=True)
    rng = np.random.default_rng(seed)
    n_hot = int(n_points * hot_frac)
    n_rest = n_points - n_hot
    # background points: uniform along a random way, up to 40 m off it
    geoms = list(ways["geometry"])
    idx = rng.integers(0, len(geoms), n_rest)
    t = rng.uniform(0, 1, n_rest)
    x0 = np.array([g[0]["x"] for g in geoms])[idx]
    x1 = np.array([g[-1]["x"] for g in geoms])[idx]
    y0 = np.array([g[0]["y"] for g in geoms])[idx]
    y1 = np.array([g[-1]["y"] for g in geoms])[idx]
    lon_rest = x0 + t * (x1 - x0)
    lat_rest = y0 + t * (y1 - y0) + rng.uniform(-40, 40, n_rest) / MPD_Y
    # hot points: a disc of 200 m around the hot cell's center
    cx, cy = C.hex_center_xy(np.array([cell]))
    r = 200 * np.sqrt(rng.uniform(0, 1, n_hot))
    th = rng.uniform(0, 2 * np.pi, n_hot)
    lon_hot, lat_hot = unproject(cx[0] + r * np.cos(th), cy[0] + r * np.sin(th))
    lon = np.concatenate([lon_rest, lon_hot])
    lat = np.concatenate([lat_rest, lat_hot])
    order = rng.permutation(n_points)
    points = pd.DataFrame({
        "image_id": np.char.add("p", np.arange(n_points).astype(str)),
        "lon": lon[order], "lat": lat[order],
    })
    paths = {d: os.path.join(work, d) for d in ("ways", "points", "images")}
    _write_ways(ways, paths["ways"])
    os.makedirs(paths["points"], exist_ok=True)
    pq.write_table(pa.Table.from_pandas(points, preserve_index=False),
                   os.path.join(paths["points"], "part-0.parquet"))
    _write_images(images_pdf(ways, n_images=n_images, seed=seed), paths["images"])
    return {**paths, "hot_cell": cell, "n_ways": len(ways), "n_points": n_points,
            "n_images": n_images, "input_bytes": sum(dir_bytes(p) for p in paths.values())}
