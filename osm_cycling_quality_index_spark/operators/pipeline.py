"""End-to-end CQI pipeline (SURVEY.md §3 entry point 1).

conform -> sidepath vote -> offset split -> classify -> derive -> score ->
retain, mirroring the six stages of reference/cycling_quality_index.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .conform import conform_ways, retain_final
from .derive import derive_attributes
from .offset import offset_stage
from .scoring import score
from .sidepath import sidepath_stage
from .waytype import classify


def cqi_pipeline(ways: DataFrame, with_geometry: bool = True) -> DataFrame:
    """Run the full index pipeline over a raw ways frame.

    ``with_geometry=False`` skips the geometric sidepath vote (stage 1) for
    scalar-only inputs; proc_sidepath/proc_highway/proc_maxspeed must then be
    provided by the caller (or stay NULL).
    """
    df = conform_ways(ways, keep_geometry=with_geometry)
    if with_geometry:
        df = sidepath_stage(df)
    df = offset_stage(df)
    df = classify(df)
    df = derive_attributes(df)
    df = score(df)
    return retain_final(df)
