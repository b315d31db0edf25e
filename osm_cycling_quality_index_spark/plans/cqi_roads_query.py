"""Road-width correctness query: the full F16 shared-road width derivation
(parking widths + orientations + half_on_kerb, ``width:lanes``, lane counts,
cycle-lane widths and the 9-term buffer ladders, 5.5 m / 4 m unmarked-parking
caps, min-lane floor) over ways synthesized from orders, with a complete
DuckDB mirror.

This covers the reference's largest scalar block
(reference/cycling_quality_index.py:746-1013) that the base ``cqi_score_ways``
pool deliberately excludes; the Spark side runs the same general engine
(classify -> derive -> score).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import params as P
from ..functions.rounding import force_double, sql_pyround, sql_pyround_int
from ..functions.tags import normalize_maxspeed

_HW = ["residential", "primary", "secondary", "unclassified", "living_street", "tertiary"]
_ONEWAY = [None, "yes", "no", "-1"]
_WIDTH = [None, "6.5", "9.5", "junk", None, "12", None]
_LANES = [None, "2", None, "3", None, "junk"]
_WIDTH_LANES = [None, "3|3|3.5", None, "2.8", None]
_PARK_R = [None, "lane", "half_on_kerb", "no", None]
_PARK_L = [None, "lane", None, "no", "half_on_kerb", None, None]
_PARK_RO = [None, "diagonal", "perpendicular", None]
_CW = [None, "lane", "track", None, "no", None, None, None]
_CW_R_BUF = [None, "0.5", "no", None, "1.2", None, None, "none", None]
_MAXSPEED = [None, "30", "50", None, "70"]
_SURFACE = [None, "asphalt", "gravel"]
_LIT = [None, "yes", "no"]

#: (column, key, values) — single-value tags gated on key % mod == hit
_SPOT = [
    ("width:effective", "k2", 9, 4, "5.0"),
    ("parking:both", "k1", 11, 3, "lane"),
    ("parking:left:orientation", "k1", 3, 1, "diagonal"),
    ("parking:both:orientation", "k2", 13, 2, "perpendicular"),
    ("parking:right:width", "k1", 9, 2, "2.5"),
    ("parking:left:width", "k2", 11, 5, "3.0"),
    ("parking:both:width", "k1", 13, 4, "2.0"),
    ("cycleway:right", "k1", 10, 1, "lane"),
    ("cycleway:left", "k2", 12, 3, "lane"),
    ("cycleway:both", "k1", 15, 2, "lane"),
    ("cycleway:width", "k2", 10, 1, "1.5"),
    ("cycleway:right:width", "k1", 12, 5, "1.85"),
    ("cycleway:left:width", "k2", 14, 3, "1.6"),
    ("cycleway:both:width", "k1", 16, 7, "1.7"),
    ("cycleway:buffer:both", "k1", 8, 3, "0.75"),
    ("cycleway:left:buffer:left", "k2", 15, 4, "1.0"),
    ("cycleway:buffer", "k1", 17, 5, "none"),
    ("lane_markings", "k2", 5, 0, "yes"),
]


from .synth_util import pick as _pick, sql_pick as _sql_pick  # noqa: E402


def _ways_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-row-group test file: repartition or run on one core
    # (see cqi_query._ways_df for the full rationale)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    k1, k2 = F.col("o_orderkey"), F.col("o_custkey")
    keys = {"k1": k1, "k2": k2}
    cols = {
        "id": k1.cast("string"),
        "highway": _pick(k1, _HW),
        "oneway": _pick(k1 + 1, _ONEWAY),
        "width": _pick(k1, _WIDTH),
        "lanes": _pick(k2, _LANES),
        "width:lanes": _pick(k1, _WIDTH_LANES),
        "parking:right": _pick(k1 + 2, _PARK_R),
        "parking:left": _pick(k2, _PARK_L),
        "parking:right:orientation": _pick(k2, _PARK_RO),
        "cycleway": _pick(k2, _CW),
        "cycleway:right:buffer": _pick(k2 + 1, _CW_R_BUF),
        "maxspeed": _pick(k2, _MAXSPEED),
        "surface": _pick(k1, _SURFACE),
        "lit": _pick(k2, _LIT),
    }
    for col, key, mod, hit, val in _SPOT:
        cols[col] = F.when(keys[key] % mod == hit, F.lit(val))
    return o.select(*[v.alias(k) for k, v in cols.items()])


def q_cqi_score_roads_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CQI scalar chain (conform -> classify -> derive -> score) over
    the synthesized roads."""
    return score_roads(_ways_df(spark, sf_dir))


def score_roads(ways: DataFrame) -> DataFrame:
    """Score a roads frame with the query's simulated stage-1 outputs."""
    from ..operators.conform import conform_ways, retain
    from ..operators.derive import derive_attributes
    from ..operators.scoring import score
    from ..operators.waytype import classify

    df = conform_ways(ways, keep_geometry=False)
    df = df.withColumns({
        "proc_highway": F.col("highway"),
        "proc_maxspeed": normalize_maxspeed(
            F.col("maxspeed"), F.col("highway")
        ).cast("int"),
    })
    out = score(derive_attributes(classify(df)))
    return retain(out, [
        "id", "way_type", "proc_oneway", "proc_width", "proc_surface",
        "proc_maxspeed", "proc_mandatory",
        "fac_width", "fac_surface", "fac_maxspeed",
        "base_index", "fac_1", "fac_2", "fac_4",
        "index", "index_10", "stress_level",
        "data_missing", "data_incompleteness",
        "data_missing_width", "data_missing_parking", "filter_usable",
    ])


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

def _case_map(key: str, mapping: dict, default=None) -> str:
    arms = " ".join(f"WHEN {key} = '{k}' THEN {v}" for k, v in mapping.items())
    tail = f" ELSE {default}" if default is not None else ""
    return f"(CASE {arms}{tail} END)"


def cqi_roads_oracle_sql() -> str:
    hw_width = {h: P.DEFAULT_HIGHWAY_WIDTH_DICT[h] for h in _HW}
    hw_width_ow = {h: pyround_f(w / 1.6, 1) for h, w in hw_width.items()}
    sf = P.SURFACE_FACTOR_DICT
    hf = P.HIGHWAY_FACTOR_DICT
    w8 = P.HIGHWAY_FACTOR_DICT_WEIGHTS
    bi = P.BASE_INDEX_DICT
    inc = P.DATA_INCOMPLETENESS_DICT
    surf_valid = "(" + ",".join(f"'{s}'" for s in sf) + ")"

    spot_cols = ",\n         ".join(
        f"CASE WHEN {key} % {mod} = {hit} THEN '{val}' END AS \"{col}\""
        for col, key, mod, hit, val in _SPOT
    )
    fw_round = sql_pyround("GREATEST(0.25, fwv)", 3)
    index_round = sql_pyround_int("index_f")
    r2 = {n: sql_pyround(f"{n}_raw", 2) for n in ("fac1", "fac2", "fac4")}

    return force_double(f"""
WITH raw AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS id,
         o_orderkey AS k1, o_custkey AS k2,
         {_sql_pick("o_orderkey", _HW)} AS highway,
         {_sql_pick("(o_orderkey + 1)", _ONEWAY)} AS oneway,
         {_sql_pick("o_orderkey", _WIDTH)} AS width,
         {_sql_pick("o_custkey", _LANES)} AS lanes,
         {_sql_pick("o_orderkey", _WIDTH_LANES)} AS width_lanes,
         {_sql_pick("(o_orderkey + 2)", _PARK_R)} AS parking_right,
         {_sql_pick("o_custkey", _PARK_L)} AS parking_left,
         {_sql_pick("o_custkey", _PARK_RO)} AS parking_right_orientation,
         {_sql_pick("o_custkey", _CW)} AS cycleway,
         {_sql_pick("(o_custkey + 1)", _CW_R_BUF)} AS cycleway_right_buffer,
         {_sql_pick("o_custkey", _MAXSPEED)} AS maxspeed,
         {_sql_pick("o_orderkey", _SURFACE)} AS surface,
         {_sql_pick("o_custkey", _LIT)} AS lit,
         {spot_cols}
  FROM orders
),
wt AS (
  SELECT *,
    CASE WHEN "lane_markings" = 'yes'
              OR (("lane_markings" IS NULL OR "lane_markings" <> 'yes')
                  AND highway IN ('primary','secondary'))
         THEN 'shared traffic lane' ELSE 'shared road' END AS way_type,
    COALESCE(CASE WHEN oneway IN ('yes','no','-1') THEN oneway END, 'no') AS proc_oneway,
    CAST(CASE WHEN maxspeed = 'walk' THEN 10.0
              WHEN maxspeed IS NULL AND highway = 'living_street' THEN 10.0
              WHEN maxspeed = 'none' THEN 299.0
              ELSE TRY_CAST(maxspeed AS DOUBLE) END AS INT) AS proc_maxspeed
  FROM raw
),
ow AS (SELECT *, proc_oneway = 'yes' AS ow_yes FROM wt),
-- width:lanes arm (shared traffic lane only; :791-808)
pw0x AS (
  SELECT *,
    CASE WHEN way_type = 'shared traffic lane' THEN
      CASE WHEN width_lanes IS NOT NULL AND contains(width_lanes, '|')
           THEN TRY_CAST(string_split(width_lanes, '|')[-1] AS DOUBLE)
           ELSE {P.DEFAULT_WIDTH_TRAFFIC_LANE} END
    END AS pw0,
    (way_type = 'shared traffic lane'
     AND NOT (width_lanes IS NOT NULL AND contains(width_lanes, '|'))) AS dm_width_lanes
  FROM ow
),
-- effective width / lane-count fallback (:810-820)
pw1x AS (
  SELECT *,
    TRY_CAST(width AS DOUBLE) AS wnum,
    CASE WHEN TRY_CAST("width:effective" AS DOUBLE) IS NOT NULL
              AND TRY_CAST("width:effective" AS DOUBLE) <> 0
         THEN TRY_CAST("width:effective" AS DOUBLE)
         WHEN NOT (TRY_CAST(width AS DOUBLE) IS NOT NULL AND TRY_CAST(width AS DOUBLE) <> 0)
              AND TRY_CAST(lanes AS DOUBLE) IS NOT NULL AND TRY_CAST(lanes AS DOUBLE) <> 0
         THEN TRY_CAST(lanes AS DOUBLE) * {P.DEFAULT_WIDTH_TRAFFIC_LANE}
    END AS pw1
  FROM pw0x
),
fullx AS (
  SELECT *,
    NOT (pw0 IS NOT NULL AND pw0 <> 0) AND NOT (pw1 IS NOT NULL AND pw1 <> 0) AS fullb,
    (wnum IS NOT NULL AND wnum <> 0) AS w_ok
  FROM pw1x
),
-- parking widths (:824-877); both-keys split into sides first
park AS (
  SELECT *,
    COALESCE(parking_left, "parking:both") AS pl,
    COALESCE(parking_right, "parking:both") AS pr,
    COALESCE("parking:left:orientation", "parking:both:orientation") AS plo,
    COALESCE(parking_right_orientation, "parking:both:orientation") AS pro,
    COALESCE(NULLIF(TRY_CAST("parking:left:width" AS DOUBLE), 0),
             NULLIF(TRY_CAST("parking:both:width" AS DOUBLE), 0)) AS plw0,
    COALESCE(NULLIF(TRY_CAST("parking:right:width" AS DOUBLE), 0),
             NULLIF(TRY_CAST("parking:both:width" AS DOUBLE), 0)) AS prw0
  FROM fullx
),
parkw AS (
  SELECT *,
    COALESCE(CASE WHEN pr = 'half_on_kerb' THEN prw1 / 2 ELSE prw1 END, 0) AS prw,
    COALESCE(CASE WHEN pl = 'half_on_kerb' THEN plw1 / 2 ELSE plw1 END, 0) AS plw
  FROM (
    SELECT *,
      CASE WHEN pr IN ('lane','half_on_kerb') AND prw0 IS NULL THEN
        CASE WHEN pro = 'diagonal' THEN {P.DEFAULT_WIDTH_PARKING_DIAGONAL}
             WHEN pro = 'perpendicular' THEN {P.DEFAULT_WIDTH_PARKING_PERPENDICULAR}
             ELSE {P.DEFAULT_WIDTH_PARKING_PARALLEL} END
        ELSE prw0 END AS prw1,
      CASE WHEN pl IN ('lane','half_on_kerb') AND plw0 IS NULL THEN
        CASE WHEN plo = 'diagonal' THEN {P.DEFAULT_WIDTH_PARKING_DIAGONAL}
             WHEN plo = 'perpendicular' THEN {P.DEFAULT_WIDTH_PARKING_PERPENDICULAR}
             ELSE {P.DEFAULT_WIDTH_PARKING_PARALLEL} END
        ELSE plw0 END AS plw1
    FROM park
  )
),
-- cycle-lane widths + buffer ladders (:879-972); cwl only inherits the bare
-- cycleway tag on non-oneway roads (raw oneway tag, not proc)
cyc AS (
  SELECT *,
    COALESCE("cycleway:right", cycleway, "cycleway:both") AS cwr,
    COALESCE("cycleway:left",
             CASE WHEN oneway IS NULL OR oneway = 'no' THEN cycleway END,
             "cycleway:both") AS cwl
  FROM parkw
),
cyc2 AS (
  SELECT *, (cwr = 'lane' OR cwl = 'lane') AS lane_any FROM cyc
),
cycw AS (
  SELECT *,
    CASE WHEN lane_any AND cwr = 'lane' AND cwrw IS NULL
         THEN {P.DEFAULT_WIDTH_CYCLE_LANE}
         ELSE COALESCE(TRY_CAST(cwrw AS DOUBLE), 0) END AS cwrw_num,
    CASE WHEN lane_any AND cwl = 'lane' AND cwlw IS NULL
         THEN {P.DEFAULT_WIDTH_CYCLE_LANE}
         ELSE COALESCE(TRY_CAST(cwlw AS DOUBLE), 0) END AS cwlw_num
  FROM (
    SELECT *,
      CASE WHEN lane_any THEN
        COALESCE("cycleway:right:width", "cycleway:width", "cycleway:both:width")
      ELSE "cycleway:right:width" END AS cwrw,
      CASE WHEN lane_any THEN
        COALESCE("cycleway:left:width",
                 CASE WHEN oneway IS NULL OR oneway = 'no' THEN "cycleway:width" END,
                 "cycleway:both:width")
      ELSE "cycleway:left:width" END AS cwlw
    FROM cyc2
  )
),
-- 9-term buffer ladders reduced to the generated tags, in ladder order:
-- right:buffer(3rd), buffer:both(8th), buffer(9th) for the right-lane chains;
-- left:buffer:left(1st), buffer:both, buffer for the left chain
bufs AS (
  SELECT *,
    CASE WHEN lane_any AND cwr = 'lane'
         THEN COALESCE(cycleway_right_buffer, "cycleway:buffer:both", "cycleway:buffer") END AS crbl,
    CASE WHEN lane_any AND cwr = 'lane'
         THEN COALESCE(cycleway_right_buffer, "cycleway:buffer:both", "cycleway:buffer") END AS crbr,
    CASE WHEN lane_any AND cwl = 'lane'
         THEN COALESCE("cycleway:left:buffer:left", "cycleway:buffer:both", "cycleway:buffer") END AS clbl,
    CASE WHEN lane_any AND cwl = 'lane'
         THEN COALESCE("cycleway:buffer:both", "cycleway:buffer") END AS clbr
  FROM cycw
),
bufn AS (
  SELECT *,
    (CASE WHEN crbl IS NULL OR crbl IN ('no','none') THEN 0 ELSE TRY_CAST(crbl AS DOUBLE) END
   + CASE WHEN crbr IS NULL OR crbr IN ('no','none') THEN 0 ELSE TRY_CAST(crbr AS DOUBLE) END
   + CASE WHEN clbl IS NULL OR clbl IN ('no','none') THEN 0 ELSE TRY_CAST(clbl AS DOUBLE) END
   + CASE WHEN clbr IS NULL OR clbr IN ('no','none') THEN 0 ELSE TRY_CAST(clbr AS DOUBLE) END
    ) AS buffer_sum
  FROM bufs
),
-- carriageway default + subtraction + caps + floor (:974-1008)
basew AS (
  SELECT *,
    (fullb AND NOT w_ok) AS missing_width,
    CASE WHEN w_ok THEN wnum
         WHEN ow_yes THEN {_case_map("highway", hw_width_ow)}
         ELSE {_case_map("highway", hw_width)} END AS base_w
  FROM bufn
),
pw2x AS (
  SELECT *, base_w - cwrw_num - cwlw_num - buffer_sum AS pw2,
    (pr IS NOT NULL OR pl IS NOT NULL) AS has_parking
  FROM basew
),
pw3x AS (
  SELECT *,
    CASE WHEN has_parking THEN pw2 - prw - plw
         WHEN way_type = 'shared road' THEN
           CASE WHEN NOT ow_yes THEN LEAST(pw2, 5.5) ELSE LEAST(pw2, 4.0) END
         ELSE pw2 END AS pw3,
    (fullb AND pr IS NULL AND pl IS NULL AND way_type = 'shared road') AS dm_parking
  FROM pw2x
),
pwx AS (
  SELECT *,
    CASE WHEN pw0 IS NOT NULL AND pw0 <> 0 THEN pw0
         WHEN pw1 IS NOT NULL AND pw1 <> 0 THEN pw1
         WHEN pw3 < {P.DEFAULT_WIDTH_TRAFFIC_LANE} AND missing_width
           THEN {P.DEFAULT_WIDTH_TRAFFIC_LANE}
         ELSE pw3 END AS pw_raw
  FROM pw3x
),
pwf AS (
  SELECT *,
    CASE WHEN pw_raw IS NOT NULL AND pw_raw <> 0 THEN pw_raw END AS proc_width,
    (fullb AND missing_width) AS dm_width_1
  FROM pwx
),
-- surface / factors / mandatory
surf AS (
  SELECT *,
    CASE WHEN s1 IN {surf_valid} THEN s1 END AS proc_surface,
    (surface IS NULL) AS dm_surface
  FROM (
    SELECT *, COALESCE(surface, CASE WHEN highway = 'living_street' THEN 'paving_stones' ELSE 'asphalt' END) AS s1 FROM pwf
  )
),
fac AS (
  SELECT *,
    {_case_map("proc_surface", sf)} AS fac_surface,
    COALESCE({_case_map("highway", hf)}, 1.0) AS fac_highway,
    CASE WHEN proc_maxspeed IS NOT NULL AND proc_maxspeed <> 0 THEN
      CASE WHEN proc_maxspeed >= 100 THEN 0.5 WHEN proc_maxspeed >= 70 THEN 0.7
           WHEN proc_maxspeed >= 60 THEN 0.85 WHEN proc_maxspeed >= 50 THEN 0.95
           WHEN proc_maxspeed >= 30 THEN 1.0 WHEN proc_maxspeed >= 20 THEN 1.05
           ELSE 1.0 END
      ELSE 1.0 END AS fac_maxspeed,
    (proc_maxspeed IS NULL OR proc_maxspeed = 0) AS dm_maxspeed,
    (lit IS NULL) AS dm_lit,
    CASE WHEN cycleway IN ('lane','share_busway')
              OR "cycleway:both" IN ('lane','share_busway')
              OR (ow_yes AND "cycleway:right" IN ('lane','share_busway'))
         THEN 'use_sidepath'
         WHEN cycleway = 'track' OR "cycleway:both" = 'track'
              OR (ow_yes AND "cycleway:right" = 'track')
         THEN 'optional_sidepath' END AS proc_mandatory
  FROM surf
),
fw AS (
  SELECT *,
    CASE WHEN calc IS NOT NULL AND calc <> 0 THEN {fw_round} END AS fac_width
  FROM (
    SELECT *, 1.1 / (1 + 20 * exp(-2.1 * GREATEST(0.001, calc))) AS fwv
    FROM (
      SELECT *,
        CASE WHEN proc_width IS NOT NULL AND proc_width <> 0 THEN
          CASE WHEN way_type = 'shared traffic lane'
               THEN GREATEST(proc_width - 2 + (4.5 - proc_width) / 3, 0.0)
               ELSE (CASE WHEN NOT ow_yes THEN proc_width / 1.6 ELSE proc_width END) - 2 END
          ELSE proc_width END AS calc
      FROM fac
    )
  )
),
sc AS (
  SELECT *,
    {_case_map("way_type", bi)} AS base_index,
    CASE WHEN fac_width IS NOT NULL AND fac_width <> 0
              AND fac_surface IS NOT NULL AND fac_surface <> 0
         THEN ((GREATEST(1 - fac_width, 0) + 0.5) * fac_width
             + (GREATEST(1 - fac_surface, 0) + 0.5) * fac_surface)
            / ((GREATEST(1 - fac_width, 0) + 0.5) + (GREATEST(1 - fac_surface, 0) + 0.5))
         WHEN fac_width IS NOT NULL AND fac_width <> 0 THEN fac_width
         WHEN fac_surface IS NOT NULL AND fac_surface <> 0 THEN fac_surface
         ELSE 1.0 END AS fac1_raw,
    {_case_map("way_type", w8, default=1.0)} AS weight
  FROM fw
),
sc2 AS (
  SELECT *,
    CASE WHEN f2 IS NOT NULL AND f2 <> 0 THEN f2 ELSE 1.0 END AS fac2_raw,
    1.0 - 0.1 * (CASE WHEN lit = 'no' THEN 1.0 ELSE 0.0 END) AS fac4_raw
  FROM (
    SELECT *, fac_highway * fac_maxspeed
             + (1 - fac_highway * fac_maxspeed) * (1 - weight) AS f2
    FROM sc
  )
),
idx AS (
  SELECT *,
    GREATEST(LEAST(100.0, base_index * fac1_raw * fac2_raw * fac4_raw), 0.0) AS index_f
  FROM sc2
),
fin AS (SELECT *, {index_round} AS index FROM idx)
SELECT id, way_type, proc_oneway, proc_width, proc_surface,
  proc_maxspeed, proc_mandatory,
  fac_width, fac_surface, fac_maxspeed,
  CAST(base_index AS INT) AS base_index,
  {r2["fac1"]} AS fac_1, {r2["fac2"]} AS fac_2, {r2["fac4"]} AS fac_4,
  index, CAST(FLOOR(index / 10) AS INT) AS index_10,
  CAST(CASE
    WHEN proc_maxspeed IS NOT NULL AND proc_maxspeed <> 0 AND proc_maxspeed <= 10
         AND highway IN ('residential','living_street')
    THEN 1
    WHEN proc_maxspeed IS NOT NULL AND proc_maxspeed <> 0 AND proc_maxspeed <= 30
         AND highway IN ('tertiary','tertiary_link','unclassified','road',
                         'residential','living_street')
    THEN 2 ELSE 4 END AS INT) AS stress_level,
  concat_ws(';',
    CASE WHEN dm_width_lanes THEN 'width:lanes' END,
    CASE WHEN dm_width_1 THEN 'width' END,
    CASE WHEN dm_parking THEN 'parking' END,
    CASE WHEN dm_surface THEN 'surface' END,
    'smoothness',
    CASE WHEN dm_maxspeed THEN 'maxspeed' END,
    CASE WHEN dm_lit THEN 'lit' END) AS data_missing,
  CAST({inc["width:lanes"]} * CASE WHEN dm_width_lanes THEN 1 ELSE 0 END
   + {inc["width"]} * CASE WHEN dm_width_1 THEN 1 ELSE 0 END
   + {inc["parking"]} * CASE WHEN dm_parking THEN 1 ELSE 0 END
   + {inc["surface"]} * CASE WHEN dm_surface THEN 1 ELSE 0 END
   + {inc["smoothness"]}
   + {inc["maxspeed"]} * CASE WHEN dm_maxspeed THEN 1 ELSE 0 END
   + {inc["lit"]} * CASE WHEN dm_lit THEN 1 ELSE 0 END AS DOUBLE) AS data_incompleteness,
  CAST(CASE WHEN dm_width_1 THEN 1 END AS INT) AS data_missing_width,
  CAST(CASE WHEN dm_parking THEN 1 END AS INT) AS data_missing_parking,
  CAST(CASE WHEN proc_mandatory IN ('prohibited','use_sidepath') THEN 0 ELSE 1 END AS INT) AS filter_usable
FROM fin
""")


def pyround_f(x: float, nd: int) -> float:
    """Python banker's round at build time (matches the engine's pyround)."""
    return round(x, nd)
