"""Parameter tables for the cycling-quality engine.

Data tables (lookup dicts, default values, attribute lists) carrying the same
semantics as the reference's ``parameter.py`` (cited per table as
reference/parameter.py:line).  These are *data*, not code: the values define
the scoring model and must match the reference exactly for output parity.
"""

from __future__ import annotations

# CRS discipline (reference/parameter.py:3-5): ingest EPSG:4326, metric math in
# a local tangent frame (we use equirectangular scale factors instead of a full
# EPSG:25833 transverse-Mercator reprojection; distances agree to <<1% inside a
# city-scale bbox), output EPSG:4326.

#: right- or left-hand traffic (reference/parameter.py:9)
RIGHT_HAND_TRAFFIC = True

#: offset distance mode for sidepath ways (reference/parameter.py:15)
OFFSET_DISTANCE = 0

#: check for adjacent roads ... meters around a way (reference/parameter.py:18)
SIDEPATH_BUFFER_SIZE = 22.0
#: do checks every ... meters along a way (reference/parameter.py:19)
SIDEPATH_BUFFER_DISTANCE = 100.0

#: default oneway values on cycle lanes/tracks (reference/parameter.py:22-23)
DEFAULT_ONEWAY_CYCLE_LANE = "yes"
DEFAULT_ONEWAY_CYCLE_TRACK = "yes"

#: highway values implying cycling prohibition (reference/parameter.py:26)
CYCLING_HIGHWAY_PROHIBITION_LIST = ["motorway", "motorway_link", "trunk", "trunk_link"]

#: default road/way widths in meters (reference/parameter.py:29-53)
DEFAULT_HIGHWAY_WIDTH_FALLBACK = 11.0
DEFAULT_HIGHWAY_WIDTH_DICT = {
    "motorway": 15.0,
    "motorway_link": 6.0,
    "trunk": 15.0,
    "trunk_link": 6.0,
    "primary": 17.0,
    "primary_link": 4.0,
    "secondary": 15.0,
    "secondary_link": 4.0,
    "tertiary": 13.0,
    "tertiary_link": 4.0,
    "unclassified": 11.0,
    "residential": 11.0,
    "living_street": 6.0,
    "pedestrian": 6.0,
    "road": 11.0,
    "service": 4.0,
    "track": 2.5,
    "cycleway": 1.5,
    "footway": 2.0,
    "bridleway": 2.0,
    "steps": 2.0,
    "path": 2.0,
}

#: default widths for lanes/parking (reference/parameter.py:56-61)
DEFAULT_WIDTH_TRAFFIC_LANE = 3.2
DEFAULT_WIDTH_BUS_LANE = 4.5
DEFAULT_WIDTH_CYCLE_LANE = 1.4
DEFAULT_WIDTH_PARKING_PARALLEL = 2.2
DEFAULT_WIDTH_PARKING_DIAGONAL = 4.5
DEFAULT_WIDTH_PARKING_PERPENDICULAR = 5.0

#: default surfaces (reference/parameter.py:69-100)
DEFAULT_CYCLEWAY_SURFACE_TRACKS = "paving_stones"
DEFAULT_CYCLEWAY_SURFACE_LANES = "asphalt"
DEFAULT_HIGHWAY_SURFACE_DICT = {
    "motorway": "asphalt",
    "motorway_link": "asphalt",
    "trunk": "asphalt",
    "trunk_link": "asphalt",
    "primary": "asphalt",
    "primary_link": "asphalt",
    "secondary": "asphalt",
    "secondary_link": "asphalt",
    "tertiary": "asphalt",
    "tertiary_link": "asphalt",
    "unclassified": "asphalt",
    "residential": "asphalt",
    "living_street": "paving_stones",
    "pedestrian": "paving_stones",
    "road": "asphalt",
    "service": "asphalt",
    "track": "concrete",
    "cycleway": "paving_stones",
    "footway": "paving_stones",
    "path": "paving_stones",
}
DEFAULT_TRACK_SURFACE_DICT = {
    "grade1": "asphalt",
    "grade2": "compacted",
    "grade3": "unpaved",
    "grade4": "ground",
    "grade5": "grass",
}

#: surface quality factors (reference/parameter.py:102-132; note the duplicate
#: 'paving_stones' key in the reference collapses to a single entry, same value)
SURFACE_FACTOR_DICT = {
    "asphalt": 1.0,
    "paved": 1.0,
    "concrete": 1.0,
    "chipseal": 1.0,
    "metal": 1.0,
    "paving_stones": 0.7,
    "compacted": 0.7,
    "fine_gravel": 0.7,
    "concrete:plates": 0.7,
    "bricks": 0.7,
    "sett": 0.3,
    "cobblestone": 0.3,
    "concrete:lanes": 0.3,
    "unpaved": 0.3,
    "wood": 0.3,
    "unhewn_cobblestone": 0.2,
    "ground": 0.2,
    "dirt": 0.2,
    "earth": 0.2,
    "mud": 0.2,
    "gravel": 0.2,
    "pebblestone": 0.2,
    "grass": 0.2,
    "grass_paver": 0.2,
    "stepping_stones": 0.2,
    "woodchips": 0.2,
    "sand": 0.15,
    "rock": 0.15,
}

SMOOTHNESS_FACTOR_DICT = {  # reference/parameter.py:134-143
    "excellent": 1.1,
    "good": 1.0,
    "intermediate": 0.7,
    "bad": 0.3,
    "very_bad": 0.2,
    "horrible": 0.15,
    "very_horrible": 0.1,
    "impassable": 0.0,
}

HIGHWAY_FACTOR_DICT = {  # reference/parameter.py:145-160
    "motorway": 0.1,
    "motorway_link": 0.1,
    "trunk": 0.15,
    "trunk_link": 0.15,
    "primary": 0.35,
    "primary_link": 0.35,
    "secondary": 0.65,
    "secondary_link": 0.65,
    "tertiary": 0.85,
    "tertiary_link": 0.85,
    "unclassified": 0.95,
    "road": 0.95,
    "residential": 1.0,
    "living_street": 1.1,
}

#: step function over maxspeed; reference iterates ascending keys and keeps the
#: last threshold <= speed (reference/parameter.py:162-169 +
#: reference/cycling_quality_index.py:1381-1384).  Encoded descending here.
MAXSPEED_FACTOR_STEPS = [
    (100, 0.5),
    (70, 0.7),
    (60, 0.85),
    (50, 0.95),
    (30, 1.0),
    (20, 1.05),
]

HIGHWAY_FACTOR_DICT_WEIGHTS = {  # reference/parameter.py:171-188
    "bicycle road": 1.0,
    "shared road": 1.0,
    "shared traffic lane": 1.0,
    "cycle lane (advisory)": 0.7,
    "cycle lane (central)": 0.7,
    "shared bus lane": 0.7,
    "crossing": 0.7,
    "link": 0.7,
    "cycle lane (exclusive)": 0.5,
    "cycle lane (protected)": 0.2,
    "cycle track": 0.2,
    "shared path": 0.2,
    "segregated path": 0.2,
    "shared footway": 0.2,
    "track or service": 0.0,
    "cycle path": 0.0,
}

BASE_INDEX_DICT = {  # reference/parameter.py:215-232
    "cycle path": 100,
    "cycle track": 90,
    "shared path": 70,
    "segregated path": 80,
    "shared footway": 50,
    "cycle lane (advisory)": 70,
    "cycle lane (exclusive)": 80,
    "cycle lane (protected)": 90,
    "cycle lane (central)": 60,
    "shared bus lane": 65,
    "bicycle road": 70,
    "shared road": 60,
    "shared traffic lane": 60,
    "track or service": 65,
    "link": 60,
    "crossing": 60,
}

MOTOR_VEHICLE_ACCESS_INDEX_DICT = {  # reference/parameter.py:235-246
    "no": 100,
    "agricultural": 90,
    "forestry": 90,
    "agricultural;forestry": 90,
    "forestry;agricultural": 90,
    "private": 80,
    "customers": 80,
    "delivery": 80,
    "permit": 80,
    "destination": 70,
}

#: DE traffic signs making a way mandatory / explicitly not mandatory
#: (reference/parameter.py:250-251)
MANDATORY_TRAFFIC_SIGN_LIST = ["237", "240", "241"]
NOT_MANDATORY_TRAFFIC_SIGN_LIST = ["none", "1022"]

DATA_INCOMPLETENESS_DICT = {  # reference/parameter.py:254-264
    "width": 25.0,
    "surface": 30.0,
    "smoothness": 10.0,
    "width:lanes": 10.0,
    "parking": 25.0,
    "crossing": 10.0,
    "crossing_markings": 10.0,
    "maxspeed": 15.0,
    "lit": 15.0,
}

#: sidepath vote class ranking (reference/cycling_quality_index.py:290);
#: None represents the NULL entry at the end of the list.
HIGHWAY_CLASS_LIST = [
    "motorway", "motorway_link", "trunk", "trunk_link",
    "primary", "primary_link", "secondary", "secondary_link",
    "tertiary", "tertiary_link", "unclassified", "residential",
    "road", "living_street", "service", "pedestrian", None,
]

#: path-like highway classes used for the sidepath check split
#: (reference/cycling_quality_index.py:217-219)
PATH_HIGHWAY_LIST = ["cycleway", "footway", "path", "bridleway", "steps"]

#: input attribute allow-list (reference/parameter.py:267-461)
ATTRIBUTES_LIST = [
    "id", "layer", "highway", "name",
    "oneway", "oneway:bicycle",
    "segregated", "tracktype", "is_sidepath", "is_sidepath:of", "priority_road",
    "access", "vehicle", "motor_vehicle", "bicycle", "foot",
    "bicycle_road", "footway", "path", "bridleway", "informal",
    "maxspeed", "lit", "incline",
    "surface", "surface:bicycle", "smoothness", "smoothness:bicycle",
    "lanes", "width", "width:carriageway", "width:effective",
    "width:lanes", "width:lanes:forward", "width:lanes:backward",
    "lane_markings",
    "separation", "separation:both", "separation:left", "separation:right",
    "buffer", "buffer:both", "buffer:left", "buffer:right",
    "traffic_mode:both", "traffic_mode:left", "traffic_mode:right",
    "surface:colour", "traffic_sign",
    "parking:both", "parking:left", "parking:right",
    "parking:both:orientation", "parking:left:orientation", "parking:right:orientation",
    "parking:both:width", "parking:left:width", "parking:right:width",
    "sidewalk:bicycle", "sidewalk:both:bicycle", "sidewalk:left:bicycle", "sidewalk:right:bicycle",
    "sidewalk:surface", "sidewalk:both:surface", "sidewalk:left:surface", "sidewalk:right:surface",
    "sidewalk:smoothness", "sidewalk:both:smoothness", "sidewalk:left:smoothness", "sidewalk:right:smoothness",
    "sidewalk:width", "sidewalk:both:width", "sidewalk:left:width", "sidewalk:right:width",
    "sidewalk:oneway", "sidewalk:both:oneway", "sidewalk:left:oneway", "sidewalk:right:oneway",
    "sidewalk:oneway:bicycle", "sidewalk:both:oneway:bicycle", "sidewalk:left:oneway:bicycle", "sidewalk:right:oneway:bicycle",
    "sidewalk:traffic_sign", "sidewalk:both:traffic_sign", "sidewalk:left:traffic_sign", "sidewalk:right:traffic_sign",
    "footway:width",
    "cycleway", "cycleway:both", "cycleway:left", "cycleway:right",
    "cycleway:lane", "cycleway:both:lane", "cycleway:left:lane", "cycleway:right:lane",
    "cycleway:surface", "cycleway:both:surface", "cycleway:left:surface", "cycleway:right:surface",
    "cycleway:smoothness", "cycleway:both:smoothness", "cycleway:left:smoothness", "cycleway:right:smoothness",
    "cycleway:width", "cycleway:both:width", "cycleway:left:width", "cycleway:right:width",
    "cycleway:oneway", "cycleway:both:oneway", "cycleway:left:oneway", "cycleway:right:oneway",
    "cycleway:oneway:bicycle", "cycleway:both:oneway:bicycle", "cycleway:left:oneway:bicycle", "cycleway:right:oneway:bicycle",
    "cycleway:segregated", "cycleway:both:segregated", "cycleway:left:segregated", "cycleway:right:segregated",
    "cycleway:foot", "cycleway:both:foot", "cycleway:left:foot", "cycleway:right:foot",
    "cycleway:separation", "cycleway:separation:left", "cycleway:separation:right", "cycleway:separation:both",
    "cycleway:both:separation", "cycleway:both:separation:left", "cycleway:both:separation:right", "cycleway:both:separation:both",
    "cycleway:right:separation", "cycleway:right:separation:left", "cycleway:right:separation:right", "cycleway:right:separation:both",
    "cycleway:left:separation", "cycleway:left:separation:left", "cycleway:left:separation:right", "cycleway:left:separation:both",
    "cycleway:buffer", "cycleway:buffer:left", "cycleway:buffer:right", "cycleway:buffer:both",
    "cycleway:both:buffer", "cycleway:both:buffer:left", "cycleway:both:buffer:right", "cycleway:both:buffer:both",
    "cycleway:right:buffer", "cycleway:right:buffer:left", "cycleway:right:buffer:right", "cycleway:right:buffer:both",
    "cycleway:left:buffer", "cycleway:left:buffer:left", "cycleway:left:buffer:right", "cycleway:left:buffer:both",
    "cycleway:traffic_mode:left", "cycleway:traffic_mode:right", "cycleway:traffic_mode:both",
    "cycleway:both:traffic_mode:left", "cycleway:both:traffic_mode:right", "cycleway:both:traffic_mode:both",
    "cycleway:left:traffic_mode:left", "cycleway:left:traffic_mode:right", "cycleway:left:traffic_mode:both",
    "cycleway:right:traffic_mode:left", "cycleway:right:traffic_mode:right", "cycleway:right:traffic_mode:both",
    "cycleway:surface:colour", "cycleway:both:surface:colour", "cycleway:right:surface:colour", "cycleway:left:surface:colour",
    "cycleway:traffic_sign", "cycleway:both:traffic_sign", "cycleway:left:traffic_sign", "cycleway:right:traffic_sign",
    "cycleway:lanes", "cycleway:lanes:forward", "cycleway:lanes:backward",
    "vehicle:lanes", "bus:lanes", "psv:lanes",
    "crossing", "crossing:markings",
]

#: typed columns added by the pipeline (reference/cycling_quality_index.py:77-132)
NEW_ATTRIBUTES_TYPES = {
    "way_type": "string",
    "index": "int",
    "index_10": "int",
    "stress_level": "int",
    "offset": "double",
    "offset_cycleway_left": "double",
    "offset_cycleway_right": "double",
    "offset_sidewalk_left": "double",
    "offset_sidewalk_right": "double",
    "type": "string",
    "side": "string",
    "proc_width": "double",
    "proc_surface": "string",
    "proc_smoothness": "string",
    "proc_oneway": "string",
    "proc_sidepath": "string",
    "proc_highway": "string",
    "proc_maxspeed": "int",
    "proc_traffic_mode_left": "string",
    "proc_traffic_mode_right": "string",
    "proc_separation_left": "string",
    "proc_separation_right": "string",
    "proc_buffer_left": "double",
    "proc_buffer_right": "double",
    "proc_mandatory": "string",
    "proc_traffic_sign": "string",
    "fac_width": "double",
    "fac_surface": "double",
    "fac_highway": "double",
    "fac_maxspeed": "double",
    "base_index": "int",
    "fac_1": "double",
    "fac_2": "double",
    "fac_3": "double",
    "fac_4": "double",
    "data_bonus": "string",
    "data_malus": "string",
    "data_incompleteness": "double",
    "data_missing": "string",
    "data_missing_width": "int",
    "data_missing_surface": "int",
    "data_missing_smoothness": "int",
    "data_missing_maxspeed": "int",
    "data_missing_parking": "int",
    "data_missing_lit": "int",
    "filter_usable": "int",
    "filter_way_type": "string",
}

#: columns retained in the final output (reference/parameter.py:464-516;
#: the commented-out protection-level columns stay absent)
ATTRIBUTES_LIST_FINALLY_RETAINED = [
    "id", "name", "way_type", "index", "index_10", "stress_level",
    "side", "offset",
    "proc_width", "proc_surface", "proc_smoothness", "proc_oneway",
    "proc_sidepath", "proc_highway", "proc_maxspeed",
    "proc_traffic_mode_left", "proc_traffic_mode_right",
    "proc_separation_left", "proc_separation_right",
    "proc_buffer_left", "proc_buffer_right",
    "proc_mandatory", "proc_traffic_sign",
    "fac_width", "fac_surface", "fac_highway", "fac_maxspeed",
    "base_index", "fac_1", "fac_2", "fac_3", "fac_4",
    "data_bonus", "data_malus", "data_incompleteness", "data_missing",
    "data_missing_width", "data_missing_surface", "data_missing_smoothness",
    "data_missing_maxspeed", "data_missing_parking", "data_missing_lit",
    "filter_way_type", "filter_usable",
]

#: surface values in descending quality order
#: (reference/definitions.py:116; duplicate 'paving_stones' kept: index() always
#: resolves to the first occurrence, so the duplicate is inert)
SURFACE_VALUE_ORDER = [
    "asphalt", "paved", "concrete", "chipseal", "metal", "paving_stones",
    "compacted", "fine_gravel", "paving_stones", "concrete:plates", "bricks",
    "sett", "cobblestone", "concrete:lanes", "unpaved", "wood",
    "unhewn_cobblestone", "ground", "dirt", "earth", "mud", "gravel",
    "pebblestone", "grass", "grass_paver", "stepping_stones", "woodchips",
    "sand", "rock",
]

#: access-tag inheritance ladders (reference/definitions.py:55-64)
ACCESS_LADDERS = {
    "foot": ["access"],
    "vehicle": ["access"],
    "bicycle": ["vehicle", "access"],
    "motor_vehicle": ["vehicle", "access"],
    "motorcar": ["motor_vehicle", "vehicle", "access"],
    "hgv": ["motor_vehicle", "vehicle", "access"],
    "psv": ["motor_vehicle", "vehicle", "access"],
    "bus": ["psv", "motor_vehicle", "vehicle", "access"],
}
