"""Flagship correctness query: the full CQI scalar pipeline over ways
synthesized from lineitem, with a complete DuckDB oracle.

The tag pool is a controlled subset (no offset-spawning or parking/lane
tags), so the oracle SQL mirrors the reference semantics *for these inputs*
exactly — the Spark side always runs the full general engine
(classify -> derive -> score from operators/), which is the point of the
cross-check.  Scalar semantics cited from reference/cycling_quality_index.py
throughout operators/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import params as P
from ..functions.rounding import force_double, sql_pyround, sql_pyround_int
from ..functions.tags import normalize_maxspeed

_HW = ["cycleway", "footway", "path", "residential", "primary", "secondary",
       "living_street", "service", "track", "trunk"]
_BICYCLE = [None, "yes", "designated", "no", "permissive", "use_sidepath", None]
_ONEWAY = [None, "yes", "no", "-1"]
_SURFACE = [None, "asphalt", "sett", "asphalt;sett", "gravel", "lava"]
_SMOOTH = [None, "good", "bad", None, "excellent"]
_MAXSPEED = [None, "30", "50", "walk", "none", "100"]
_LIT = [None, "yes", "no"]
_FOOT = [None, "yes", "designated"]
_SIDEPATH = [None, "yes", "no"]
_TRACKTYPE = [None, "grade1", "grade2", "grade3", "grade5"]
_MV = [None] * 8 + ["no", "destination", "agricultural"]
_SIGN = [None, "DE:237", "DE:1022-10", "DE:240,DE:none"]
_CROSSING = [None, "traffic_signals", "marked", "zebra", "unmarked", "no"]
_CR_MARK = [None, "yes", "no", "dots"]
_COLOUR = [None, "red", "grey", "green"]
_BUF_L = [None, "0.5", "junk", "1.5"]

_PATHLIKE = ["cycleway", "footway", "path"]


from .synth_util import pick as _pick, sql_pick as _sql_pick  # noqa: E402 (shared synth/oracle pairing)


def _ways_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the test-data files are single-row-group parquet, so scan parallelism
    # is structurally 1 whatever the split size; the scalar pipeline is
    # compute-bound (>10^4 expr ops/row), so one 10 MB round-robin exchange
    # to fill every core is the right trade.  On real multi-row-group input
    # the scan parallelizes naturally and this repartition is AQE-coalesced
    # noise, not a bottleneck.
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    k1, k2, k3 = F.col("l_partkey"), F.col("l_suppkey"), F.col("l_orderkey")
    width = (
        F.when(k2 % 17 == 0, F.lit("junk"))
        .when(
            k2 % 3 == 0,
            F.concat(
                (F.col("l_quantity").cast("int") % 9).cast("string"),
                F.lit("."),
                (k1 % 10).cast("string"),
            ),
        )
    )
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string").alias("id"),
        _pick(k1, _HW).alias("highway"),
        _pick(k2, _BICYCLE).alias("bicycle"),
        _pick(k1, _ONEWAY).alias("oneway"),
        width.alias("width"),
        _pick(k1, _SURFACE).alias("surface"),
        _pick(k2, _SMOOTH).alias("smoothness"),
        _pick(k3, _MAXSPEED).alias("maxspeed"),
        _pick(k1, _LIT).alias("lit"),
        F.when(k3 % 5 == 0, "yes").alias("segregated"),
        _pick(k3, _FOOT).alias("foot"),
        F.when(k2 % 4 == 1, "yes").alias("lane_markings"),
        _pick((k2 + k3), _SIDEPATH).alias("is_sidepath"),
        _pick(k1, _TRACKTYPE).alias("tracktype"),
        _pick(k2, _MV).alias("motor_vehicle"),
        _pick(k3, _SIGN).alias("traffic_sign"),
        # crossing / dooring arms (reference :1098-1214, :1504-1566)
        F.when(k3 % 7 == 3, "crossing").alias("footway"),
        _pick(k1, _CROSSING).alias("crossing"),
        _pick(k2, _CR_MARK).alias("crossing:markings"),
        _pick(k3, _COLOUR).alias("surface:colour"),
        F.when(k2 % 6 == 1, "parking").alias("traffic_mode:left"),
        F.when(k3 % 8 == 5, "parking").alias("traffic_mode:right"),
        _pick(k1, _BUF_L).alias("buffer:left"),
        F.when(k2 % 9 == 2, "0.8").alias("buffer:right"),
        F.when(k3 % 11 == 6, "0.4").alias("buffer:both"),
    )


def q_cqi_score_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CQI scalar chain (conform -> classify -> derive -> score) over
    the synthesized ways."""
    return score_ways(_ways_df(spark, sf_dir))


def score_ways(ways: DataFrame) -> DataFrame:
    """Score a ways frame with the query's simulated stage-1 outputs."""
    from ..operators.conform import conform_ways, retain
    from ..operators.derive import derive_attributes
    from ..operators.scoring import score
    from ..operators.waytype import classify

    df = conform_ways(ways, keep_geometry=False)
    pathlike = F.col("highway").isin(_PATHLIKE)
    df = df.withColumns({
        # simulated stage-1 outputs (the geometric vote is exercised by
        # geo_sidepath_vote; here the scalar stages are under test)
        "proc_sidepath": F.when(pathlike, F.col("is_sidepath")),
        "proc_highway": F.when(
            pathlike, F.when(F.col("is_sidepath") == "yes", F.lit("secondary"))
        ).otherwise(F.col("highway")),
        "proc_maxspeed": F.when(
            pathlike, F.when(F.col("is_sidepath") == "yes", F.lit(50.0))
        ).otherwise(normalize_maxspeed(F.col("maxspeed"), F.col("highway"))).cast("int"),
    })
    out = score(derive_attributes(classify(df)))
    return retain(out, [
        "id", "way_type", "proc_width", "proc_surface", "proc_smoothness",
        "proc_oneway", "proc_sidepath", "proc_highway", "proc_maxspeed",
        "proc_traffic_mode_left", "proc_traffic_mode_right",
        "proc_separation_left", "proc_separation_right",
        "proc_mandatory", "proc_traffic_sign",
        "fac_width", "fac_surface", "fac_highway", "fac_maxspeed",
        "base_index", "fac_1", "fac_2", "fac_3", "fac_4",
        "index", "index_10", "stress_level",
        "data_missing", "data_bonus", "data_malus", "data_incompleteness",
        "data_missing_width", "data_missing_surface", "data_missing_smoothness",
        "data_missing_maxspeed", "data_missing_parking", "data_missing_lit",
        "filter_usable", "filter_way_type",
    ])


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

def _case_map(key: str, mapping: dict, default=None) -> str:
    arms = " ".join(f"WHEN {key} = '{k}' THEN {v}" for k, v in mapping.items())
    tail = f" ELSE {default}" if default is not None else ""
    return f"(CASE {arms}{tail} END)"


def cqi_oracle_sql() -> str:
    ydp = "('yes','designated','permissive')"
    ow_list = "('yes','no','-1','alternating','reversible')"
    # carriageway defaults / 1.6 pre-rounded with Python banker's round,
    # exactly like the engine (reference :983)
    hw_width = {h: P.DEFAULT_HIGHWAY_WIDTH_DICT[h] for h in
                ["residential", "primary", "secondary", "living_street",
                 "service", "track", "trunk", "footway", "cycleway", "path"]}
    hw_width_ow = {h: round(w / 1.6, 1) for h, w in hw_width.items()}
    surf_default = {h: P.DEFAULT_HIGHWAY_SURFACE_DICT[h] for h in _HW}
    sf = {k: v for k, v in P.SURFACE_FACTOR_DICT.items()}
    smf = P.SMOOTHNESS_FACTOR_DICT
    hf = P.HIGHWAY_FACTOR_DICT
    w8 = P.HIGHWAY_FACTOR_DICT_WEIGHTS
    bi = P.BASE_INDEX_DICT
    mvi = P.MOTOR_VEHICLE_ACCESS_INDEX_DICT
    inc = P.DATA_INCOMPLETENESS_DICT

    surf_valid = "(" + ",".join(f"'{s}'" for s in sf) + ")"
    shared5 = "('bicycle road','shared road','shared traffic lane','shared bus lane','track or service')"
    roadish4 = "('bicycle road','shared road','shared traffic lane','track or service')"
    sidepath4 = "('cycle track','shared path','segregated path','shared footway')"
    mv_keys = "(" + ",".join(f"'{k}'" for k in mvi) + ")"
    fw_round = sql_pyround(
        "GREATEST(CASE WHEN dedicated THEN 0.0 ELSE 0.25 END, "
        f"CASE WHEN way_type IN {roadish4} AND mva_restricted "
        "THEN fwv + (1 - fwv) / 2 ELSE fwv END)", 3)
    index_round = sql_pyround_int("index_f")
    r2_fac1 = sql_pyround("fac1_raw", 2)
    r2_fac2 = sql_pyround("fac2_raw", 2)
    r2_fac4 = sql_pyround("fac4_raw", 2)

    return force_double(f"""
WITH raw AS (
  SELECT CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) AS id,
         l_partkey AS k1, l_suppkey AS k2, l_orderkey AS k3,
         {_sql_pick("l_partkey", _HW)} AS highway,
         {_sql_pick("l_suppkey", _BICYCLE)} AS bicycle,
         {_sql_pick("l_partkey", _ONEWAY)} AS oneway,
         CASE WHEN l_suppkey % 17 = 0 THEN 'junk'
              WHEN l_suppkey % 3 = 0 THEN
                CAST(CAST(l_quantity AS INT) % 9 AS VARCHAR) || '.' ||
                CAST(l_partkey % 10 AS VARCHAR)
         END AS width,
         {_sql_pick("l_partkey", _SURFACE)} AS surface,
         {_sql_pick("l_suppkey", _SMOOTH)} AS smoothness,
         {_sql_pick("l_orderkey", _MAXSPEED)} AS maxspeed,
         {_sql_pick("l_partkey", _LIT)} AS lit,
         CASE WHEN l_orderkey % 5 = 0 THEN 'yes' END AS segregated,
         {_sql_pick("l_orderkey", _FOOT)} AS foot,
         CASE WHEN l_suppkey % 4 = 1 THEN 'yes' END AS lane_markings,
         {_sql_pick("(l_suppkey + l_orderkey)", _SIDEPATH)} AS is_sidepath,
         {_sql_pick("l_partkey", _TRACKTYPE)} AS tracktype,
         {_sql_pick("l_suppkey", _MV)} AS motor_vehicle,
         {_sql_pick("l_orderkey", _SIGN)} AS traffic_sign,
         CASE WHEN l_orderkey % 7 = 3 THEN 'crossing' END AS footway_t,
         {_sql_pick("l_partkey", _CROSSING)} AS crossing,
         {_sql_pick("l_suppkey", _CR_MARK)} AS crossing_markings,
         {_sql_pick("l_orderkey", _COLOUR)} AS surface_colour,
         CASE WHEN l_suppkey % 6 = 1 THEN 'parking' END AS tm_left,
         CASE WHEN l_orderkey % 8 = 5 THEN 'parking' END AS tm_right,
         {_sql_pick("l_partkey", _BUF_L)} AS buffer_left,
         CASE WHEN l_suppkey % 9 = 2 THEN '0.8' END AS buffer_right,
         CASE WHEN l_orderkey % 11 = 6 THEN '0.4' END AS buffer_both
  FROM lineitem
),
proc0 AS (
  SELECT *,
    highway IN ('cycleway','footway','path') AS pathlike,
    CASE WHEN highway IN ('cycleway','footway','path') THEN is_sidepath END AS proc_sidepath,
    CASE WHEN highway IN ('cycleway','footway','path')
         THEN CASE WHEN is_sidepath = 'yes' THEN 'secondary' END
         ELSE highway END AS proc_highway,
    CAST(CASE WHEN highway IN ('cycleway','footway','path')
         THEN CASE WHEN is_sidepath = 'yes' THEN 50.0 END
         ELSE CASE WHEN maxspeed = 'walk' THEN 10.0
                   WHEN maxspeed IS NULL AND highway = 'living_street' THEN 10.0
                   WHEN maxspeed = 'none' THEN 299.0
                   ELSE TRY_CAST(maxspeed AS DOUBLE) END
         END AS INT) AS proc_maxspeed
  FROM raw
),
filtered AS (
  SELECT * FROM proc0
  WHERE (bicycle IS NULL OR bicycle IN
           ('yes','permissive','designated','use_sidepath','optional_sidepath','discouraged'))
    -- restricted-footway deletion only applies when no override way type
    -- (crossing) wins (reference :546-550 inside the tree)
    AND NOT (highway = 'footway' AND (bicycle IS NULL OR bicycle NOT IN {ydp})
             AND (footway_t IS NULL OR footway_t <> 'crossing'))
),
wt AS (
  SELECT *,
    CASE
      WHEN footway_t = 'crossing' THEN 'crossing'
      WHEN highway = 'footway' THEN 'shared footway'
      WHEN highway = 'path' THEN
        CASE WHEN foot = 'designated' AND (bicycle IS NULL OR bicycle <> 'designated')
               THEN 'shared footway'
             WHEN segregated = 'yes' THEN 'segregated path'
             ELSE 'shared path' END
      WHEN highway = 'cycleway' THEN
        CASE WHEN foot IN {ydp} THEN 'shared path'
             WHEN is_sidepath IS NULL THEN
               CASE WHEN proc_sidepath = 'yes' THEN 'cycle track' ELSE 'cycle path' END
             WHEN is_sidepath = 'yes' THEN 'cycle track'
             ELSE 'cycle path' END
      WHEN highway IN ('service','track') THEN 'track or service'
      ELSE CASE WHEN lane_markings = 'yes'
                     OR highway IN ('motorway','trunk','primary','secondary')
                THEN 'shared traffic lane' ELSE 'shared road' END
    END AS way_type
  FROM filtered
),
ow AS (
  SELECT *, COALESCE(CASE WHEN oneway IN {ow_list} THEN oneway END, 'no') AS proc_oneway,
         COALESCE(CASE WHEN oneway IN {ow_list} THEN oneway END, 'no') = 'yes' AS ow_yes
  FROM wt
),
wid AS (
  SELECT *,
    TRY_CAST(width AS DOUBLE) AS wnum,
    (TRY_CAST(width AS DOUBLE) IS NOT NULL AND TRY_CAST(width AS DOUBLE) <> 0) AS w_ok
  FROM ow
),
pw AS (
  SELECT *,
    CASE
      WHEN way_type IN ('cycle path','cycle track','shared path','shared footway','crossing') THEN
        CASE WHEN w_ok THEN wnum
             ELSE (CASE WHEN way_type IN ('cycle path','shared path') THEN 2.0
                        WHEN way_type = 'shared footway' THEN 2.0 ELSE 1.5 END)
                  * (CASE WHEN proc_oneway = 'no' THEN 1.6 ELSE 1.0 END) END
      WHEN way_type = 'segregated path' THEN
        CASE WHEN w_ok THEN wnum / 2
             ELSE 2.0 * (CASE WHEN proc_oneway = 'no' THEN 1.6 ELSE 1.0 END) END
      WHEN way_type = 'shared traffic lane' THEN 3.2
      ELSE -- shared road / track or service: full derivation, no parking/lanes
        CASE WHEN (CASE WHEN way_type = 'shared road'
                     THEN LEAST(CASE WHEN w_ok THEN wnum
                            ELSE {_case_map("highway", hw_width)} *
                                 CASE WHEN ow_yes THEN 0 ELSE 1 END
                               + CASE WHEN ow_yes THEN {_case_map("highway", hw_width_ow)} ELSE 0 END
                            END,
                          CASE WHEN ow_yes THEN 4.0 ELSE 5.5 END)
                     ELSE CASE WHEN w_ok THEN wnum
                            ELSE {_case_map("highway", hw_width)} *
                                 CASE WHEN ow_yes THEN 0 ELSE 1 END
                               + CASE WHEN ow_yes THEN {_case_map("highway", hw_width_ow)} ELSE 0 END
                            END END) < 3.2 AND NOT w_ok
          THEN 3.2
          ELSE (CASE WHEN way_type = 'shared road'
                     THEN LEAST(CASE WHEN w_ok THEN wnum
                            ELSE {_case_map("highway", hw_width)} *
                                 CASE WHEN ow_yes THEN 0 ELSE 1 END
                               + CASE WHEN ow_yes THEN {_case_map("highway", hw_width_ow)} ELSE 0 END
                            END,
                          CASE WHEN ow_yes THEN 4.0 ELSE 5.5 END)
                     ELSE CASE WHEN w_ok THEN wnum
                            ELSE {_case_map("highway", hw_width)} *
                                 CASE WHEN ow_yes THEN 0 ELSE 1 END
                               + CASE WHEN ow_yes THEN {_case_map("highway", hw_width_ow)} ELSE 0 END
                            END END)
        END
    END AS pw_raw,
    -- data_missing flags for width
    CASE WHEN way_type IN ('cycle path','cycle track','shared path','shared footway','crossing')
         THEN NOT w_ok
         WHEN way_type = 'segregated path' THEN TRUE  -- cycleway:width always NULL (:771-779)
         WHEN way_type IN ('shared road','track or service') THEN NOT w_ok
         ELSE FALSE END AS dm_width_1,
    CASE WHEN way_type = 'segregated path' THEN NOT w_ok ELSE FALSE END AS dm_width_2,
    way_type = 'shared traffic lane' AS dm_width_lanes,
    way_type = 'shared road' AS dm_parking
  FROM wid
),
pwf AS (
  SELECT *, CASE WHEN pw_raw IS NOT NULL AND pw_raw <> 0 THEN pw_raw END AS proc_width
  FROM pw
),
surf AS (
  SELECT *,
    CASE WHEN s1 IN {surf_valid} THEN s1 END AS proc_surface,
    smooth_raw AS proc_smoothness,
    dm_surface, dm_smoothness
  FROM (
    SELECT *,
      CASE WHEN surface = 'asphalt;sett' THEN 'sett' ELSE
        CASE WHEN surface IS NOT NULL THEN surface ELSE
          CASE WHEN way_type = 'segregated path' THEN 'paving_stones'
               WHEN way_type = 'cycle track' THEN '{P.DEFAULT_CYCLEWAY_SURFACE_TRACKS}'
               WHEN way_type = 'track or service' THEN
                 CASE WHEN tracktype = 'grade1' THEN 'asphalt'
                      WHEN tracktype = 'grade2' THEN 'compacted'
                      WHEN tracktype = 'grade3' THEN 'unpaved'
                      WHEN tracktype = 'grade5' THEN 'grass'
                      ELSE 'unpaved' END
               ELSE {_case_map("highway", {h: f"'{s}'" for h, s in surf_default.items()})} END
        END
      END AS s1,
      (surface IS NULL) AS dm_surface,
      smoothness AS smooth_raw,
      (smoothness IS NULL) AS dm_smoothness
    FROM pwf
  )
),
tm AS (
  SELECT *,
    COALESCE(tm_left,
      CASE WHEN way_type = 'cycle path' THEN 'no'
           WHEN way_type IN {sidepath4} AND proc_sidepath = 'yes' THEN 'motor_vehicle'
           WHEN way_type IN ('shared road','shared traffic lane','shared bus lane','crossing')
             THEN 'motor_vehicle'
      END) AS proc_traffic_mode_left,
    COALESCE(tm_right,
      CASE WHEN way_type = 'cycle path' THEN 'no'
           WHEN way_type = 'crossing' THEN 'motor_vehicle'
           WHEN way_type IN {sidepath4} AND proc_sidepath = 'yes' THEN 'foot'
      END) AS proc_traffic_mode_right,
    'no' AS proc_separation_left, 'no' AS proc_separation_right,
    COALESCE(TRY_CAST(buffer_left AS DOUBLE), TRY_CAST(buffer_both AS DOUBLE)) AS bl,
    COALESCE(TRY_CAST(buffer_right AS DOUBLE), TRY_CAST(buffer_both AS DOUBLE)) AS br
  FROM surf
),
mand AS (
  SELECT *,
    CASE WHEN highway = 'trunk' THEN 'prohibited'
         WHEN way_type IN {roadish4} THEN
           CASE WHEN bicycle IN ('use_sidepath','optional_sidepath') THEN bicycle END
         WHEN proc_sidepath = 'yes' AND traffic_sign IS NOT NULL THEN
           CASE WHEN traffic_sign = 'DE:237' THEN 'yes'
                WHEN traffic_sign = 'DE:1022-10' THEN 'no'
                WHEN traffic_sign = 'DE:240,DE:none' THEN 'no' END
    END AS proc_mandatory
  FROM tm
),
fac AS (
  SELECT *,
    (motor_vehicle IN {mv_keys}) AS mva_restricted,
    (way_type NOT IN {shared5} OR motor_vehicle = 'no') AS dedicated,
    {_case_map("proc_smoothness", smf)} AS f_smooth,
    {_case_map("proc_surface", sf)} AS f_surf_raw,
    COALESCE({_case_map("proc_highway", hf)}, 1.0) AS fac_highway,
    CASE WHEN proc_maxspeed IS NOT NULL AND proc_maxspeed <> 0 THEN
      CASE WHEN proc_maxspeed >= 100 THEN 0.5 WHEN proc_maxspeed >= 70 THEN 0.7
           WHEN proc_maxspeed >= 60 THEN 0.85 WHEN proc_maxspeed >= 50 THEN 0.95
           WHEN proc_maxspeed >= 30 THEN 1.0 WHEN proc_maxspeed >= 20 THEN 1.05
           ELSE 1.0 END
      ELSE 1.0 END AS fac_maxspeed,
    ((proc_maxspeed IS NULL OR proc_maxspeed = 0)
      AND way_type <> 'track or service'
      AND (proc_sidepath IS NULL OR proc_sidepath <> 'no')
      AND (proc_highway IS NULL OR proc_highway NOT IN ('pedestrian','service','track'))
    ) AS dm_maxspeed
  FROM mand
),
fw AS (
  SELECT *,
    COALESCE(f_smooth, f_surf_raw) AS fac_surface,
    CASE WHEN calc IS NOT NULL AND calc <> 0 THEN
      {fw_round}
    END AS fac_width
  FROM (
    SELECT *,
      CASE WHEN cw <= 3 OR way_type IN {shared5}
           THEN 1.1 / (1 + 20 * exp(-2.1 * cw))
           ELSE 2 / (1 + 1.8 * exp(-0.24 * cw)) END AS fwv
    FROM (
      SELECT *, GREATEST(0.001, calc) AS cw FROM (
        SELECT *,
          CASE WHEN dedicated THEN
            CASE WHEN proc_width IS NOT NULL AND proc_width <> 0 AND NOT ow_yes
                 THEN proc_width / 1.6 ELSE proc_width END
          ELSE
            CASE WHEN proc_width IS NOT NULL AND proc_width <> 0 THEN
              CASE WHEN way_type = 'shared traffic lane'
                   THEN GREATEST(proc_width - 2 + (4.5 - proc_width) / 3, 0.0)
                   ELSE (CASE WHEN NOT ow_yes THEN proc_width / 1.6 ELSE proc_width END) - 2 END
              ELSE proc_width END
          END AS calc
        FROM fac
      )
    )
  )
),
sc AS (
  SELECT *,
    CASE WHEN way_type IN {roadish4} AND mva_restricted
         THEN {_case_map("motor_vehicle", mvi)}
         ELSE {_case_map("way_type", bi)} END AS base_index,
    CASE WHEN fac_width IS NOT NULL AND fac_width <> 0
              AND fac_surface IS NOT NULL AND fac_surface <> 0
         THEN ((GREATEST(1 - fac_width, 0) + 0.5) * fac_width
             + (GREATEST(1 - fac_surface, 0) + 0.5) * fac_surface)
            / ((GREATEST(1 - fac_width, 0) + 0.5) + (GREATEST(1 - fac_surface, 0) + 0.5))
         WHEN fac_width IS NOT NULL AND fac_width <> 0 THEN fac_width
         WHEN fac_surface IS NOT NULL AND fac_surface <> 0 THEN fac_surface
         ELSE 1.0 END AS fac1_raw,
    CASE WHEN way_type IN ('shared path','segregated path','shared footway')
              AND (proc_sidepath IS NULL OR proc_sidepath <> 'yes')
         THEN 0.0 ELSE {_case_map("way_type", w8, default=1.0)} END AS weight
  FROM fw
),
sc2 AS (
  SELECT *,
    CASE WHEN f2 IS NOT NULL AND f2 <> 0 THEN f2 ELSE 1.0 END AS fac2_raw,
    (CASE WHEN lit = 'no' THEN 1.0 ELSE 0.0 END) AS unlit,
    (lit IS NULL) AS dm_lit,
    (bicycle = 'permissive') AS permissive
  FROM (
    SELECT *, fac_highway * fac_maxspeed
             + (1 - fac_highway * fac_maxspeed) * (1 - weight) AS f2
    FROM sc
  )
),
sc3 AS (
  SELECT *,
    1.0
    + (CASE WHEN coloured THEN
         CASE WHEN way_type = 'crossing' THEN 0.15 ELSE 0.05 END ELSE 0.0 END)
    + (CASE WHEN signalled THEN 0.2 WHEN marked THEN 0.1 ELSE 0.0 END)
    - 0.1 * unlit
    - (CASE WHEN dooring THEN ddiff ELSE 0.0 END)
    - (CASE WHEN permissive THEN 0.2 ELSE 0.0 END) AS fac4_raw
  FROM (
    SELECT *,
      ((way_type IN ('crossing','shared bus lane','link','bicycle road')
        OR (way_type IN ('shared path','segregated path') AND proc_sidepath = 'yes'))
       AND surface_colour IS NOT NULL
       AND surface_colour NOT IN ('no','none','grey','gray','black')) AS coloured,
      (way_type = 'crossing' AND COALESCE(crossing = 'traffic_signals', FALSE)) AS signalled,
      (way_type = 'crossing' AND NOT COALESCE(crossing = 'traffic_signals', FALSE)
       AND (COALESCE(crossing IN ('marked','zebra'), FALSE)
            OR (crossing_markings IS NOT NULL AND crossing_markings <> 'no'))) AS marked,
      (way_type = 'crossing' AND crossing IS NULL) AS dm_crossing,
      (way_type = 'crossing' AND crossing_markings IS NULL) AS dm_crossing_markings,
      (((proc_traffic_mode_left = 'parking' AND bl IS NOT NULL AND bl <> 0 AND bl < 1)
        OR (proc_traffic_mode_right = 'parking' AND br IS NOT NULL AND br <> 0 AND br < 1))
       AND way_type IN ('cycle track','shared path','segregated path')
       AND proc_sidepath = 'yes') AS dooring,
      (CASE WHEN proc_traffic_mode_left = 'parking' AND proc_traffic_mode_right = 'parking'
                 AND bl IS NOT NULL AND bl <> 0 AND br IS NOT NULL AND br <> 0
            THEN abs((bl + br) / 2 - 1) / 5
            WHEN proc_traffic_mode_right = 'parking' AND br IS NOT NULL AND br <> 0
            THEN abs(br - 1) / 5
            WHEN proc_traffic_mode_left = 'parking' AND bl IS NOT NULL AND bl <> 0
            THEN abs(bl - 1) / 5
            ELSE 0.0 END) AS ddiff
    FROM sc2
  )
),
idx AS (
  SELECT *,
    GREATEST(LEAST(100.0, base_index * fac1_raw * fac2_raw * 1.0 * fac4_raw), 0.0) AS index_f
  FROM sc3
),
fin AS (
  SELECT *, {index_round} AS index
  FROM idx
)
SELECT id, way_type, proc_width, proc_surface, proc_smoothness,
  proc_oneway, proc_sidepath, proc_highway, proc_maxspeed,
  proc_traffic_mode_left, proc_traffic_mode_right,
  proc_separation_left, proc_separation_right,
  proc_mandatory, traffic_sign AS proc_traffic_sign,
  fac_width, fac_surface, fac_highway, fac_maxspeed,
  CAST(base_index AS INT) AS base_index,
  {r2_fac1} AS fac_1, {r2_fac2} AS fac_2,
  1.0 AS fac_3, {r2_fac4} AS fac_4,
  index, CAST(FLOOR(index / 10) AS INT) AS index_10,
  CAST(CASE
    WHEN way_type IN ('cycle path','cycle track','segregated path') THEN 1
    WHEN way_type IN ('shared path','shared footway') THEN
      CASE WHEN proc_oneway NOT IN ('yes','-1')
                AND proc_width IS NOT NULL AND proc_width <> 0 AND proc_width < 3
                AND proc_maxspeed IS NOT NULL AND proc_maxspeed > 30
           THEN 3 ELSE 1 END
    WHEN way_type = 'crossing' THEN
      CASE WHEN proc_maxspeed IS NOT NULL AND proc_maxspeed <> 0 AND proc_maxspeed <= 10 THEN 1
           WHEN proc_maxspeed IS NOT NULL AND proc_maxspeed <> 0 AND proc_maxspeed <= 30 THEN 2
           WHEN proc_width IS NOT NULL AND proc_width <> 0 AND proc_width >= 1.5 THEN 3
           ELSE 4 END
    WHEN way_type IN ('shared road','shared traffic lane') THEN
      CASE WHEN proc_maxspeed IS NOT NULL AND proc_maxspeed <> 0 AND proc_maxspeed <= 10
                AND proc_highway IN ('residential','living_street')
           THEN 1
           WHEN proc_maxspeed IS NOT NULL AND proc_maxspeed <> 0 AND proc_maxspeed <= 30
                AND proc_highway IN ('tertiary','tertiary_link','unclassified','road',
                                     'residential','living_street')
           THEN 2 ELSE 4 END
    WHEN way_type = 'track or service' THEN
      CASE WHEN proc_maxspeed IS NOT NULL AND proc_maxspeed <> 0 AND proc_maxspeed <= 10
           THEN 1 ELSE 2 END
  END AS INT) AS stress_level,
  concat_ws(';',
    CASE WHEN dm_width_lanes THEN 'width:lanes' END,
    CASE WHEN dm_width_1 THEN 'width' END,
    CASE WHEN dm_width_2 THEN 'width' END,
    CASE WHEN dm_parking THEN 'parking' END,
    CASE WHEN dm_surface THEN 'surface' END,
    CASE WHEN dm_smoothness THEN 'smoothness' END,
    CASE WHEN dm_maxspeed THEN 'maxspeed' END,
    CASE WHEN dm_crossing THEN 'crossing' END,
    CASE WHEN dm_crossing_markings THEN 'crossing_markings' END,
    CASE WHEN dm_lit THEN 'lit' END) AS data_missing,
  concat_ws(';',
    CASE WHEN way_type IN {roadish4} AND mva_restricted THEN 'motor vehicle restricted' END,
    CASE WHEN fac_width > 1 THEN 'wide width' END,
    CASE WHEN fac_surface > 1 THEN 'excellent surface' END,
    CASE WHEN weight >= 0.5 AND fac2_raw > 1 THEN 'slow traffic' END,
    CASE WHEN coloured THEN 'surface colour' END,
    CASE WHEN signalled THEN 'signalled crossing' END,
    CASE WHEN marked THEN 'marked crossing' END) AS data_bonus,
  concat_ws(';',
    CASE WHEN fac_width IS NOT NULL AND fac_width <> 0 AND fac_width <= 0.5 THEN 'narrow width' END,
    CASE WHEN fac_surface IS NOT NULL AND fac_surface <> 0 AND fac_surface <= 0.5 THEN 'bad surface' END,
    CASE WHEN weight >= 0.5 AND fac_highway <= 0.7 THEN 'along a major road' END,
    CASE WHEN weight >= 0.5 AND fac_maxspeed <= 0.7 THEN 'along a road with high speed limits' END,
    CASE WHEN unlit = 1.0 THEN 'no street lighting' END,
    CASE WHEN dooring THEN 'insufficient dooring buffer' END,
    CASE WHEN permissive THEN 'cycling not intended' END) AS data_malus,
  CAST({inc["width:lanes"]} * CASE WHEN dm_width_lanes THEN 1 ELSE 0 END
   + {inc["width"]} * ((CASE WHEN dm_width_1 THEN 1 ELSE 0 END)
                       + (CASE WHEN dm_width_2 THEN 1 ELSE 0 END))
   + {inc["parking"]} * CASE WHEN dm_parking THEN 1 ELSE 0 END
   + {inc["surface"]} * CASE WHEN dm_surface THEN 1 ELSE 0 END
   + {inc["smoothness"]} * CASE WHEN dm_smoothness THEN 1 ELSE 0 END
   + {inc["maxspeed"]} * CASE WHEN dm_maxspeed THEN 1 ELSE 0 END
   + {inc["crossing"]} * CASE WHEN dm_crossing THEN 1 ELSE 0 END
   + {inc["crossing_markings"]} * CASE WHEN dm_crossing_markings THEN 1 ELSE 0 END
   + {inc["lit"]} * CASE WHEN dm_lit THEN 1 ELSE 0 END AS DOUBLE) AS data_incompleteness,
  CAST(CASE WHEN dm_width_1 OR dm_width_2 THEN 1 END AS INT) AS data_missing_width,
  CAST(CASE WHEN dm_surface THEN 1 END AS INT) AS data_missing_surface,
  CAST(CASE WHEN dm_smoothness THEN 1 END AS INT) AS data_missing_smoothness,
  CAST(CASE WHEN dm_maxspeed THEN 1 END AS INT) AS data_missing_maxspeed,
  CAST(CASE WHEN dm_parking THEN 1 END AS INT) AS data_missing_parking,
  CAST(CASE WHEN dm_lit THEN 1 END AS INT) AS data_missing_lit,
  CAST(CASE WHEN proc_mandatory IN ('prohibited','use_sidepath') THEN 0 ELSE 1 END AS INT) AS filter_usable,
  CASE WHEN way_type IN ('cycle path','cycle track','shared path','segregated path','shared footway') THEN 'separated'
       WHEN way_type = 'crossing' THEN 'cycle lanes'
       WHEN way_type IN ('shared road','shared traffic lane','track or service') THEN 'shared traffic'
  END AS filter_way_type
FROM fin
""")
