"""Bronze layer: long → wide in one hash aggregate, with schema enforcement.

Reference behavior reproduced (SURVEY.md §2.2 R1/R2):

- The notebook accumulates ``observations_dict[(date, station)]`` while
  paging the NOAA API (Weather_API.py:76-91) — a manual PIVOT with
  last-write-wins on duplicate (date, station, datatype) keys — then
  ``drop_duplicates`` on the materialized frame (Weather_API.py:117-120).
- Here both are one Spark aggregate on the same (date, station) key,
  one conditional ``max_by`` per whitelisted datatype. Last-write-wins
  orders on the ingest sequence number ``seq``, not an order-dependent
  ``last()``, so it holds under any partitioning; the wide rows are
  unique on their key, so the full-row dedup has nothing to remove.
  No coordinates: the station dim owns them, so a re-delivery with
  revised landing coordinates resolves by ``seq`` like any other.

At 100 TB: one shuffle on (date, station) (partial + final hash
aggregate); the aggregate state is 10 (value, seq) pairs per row. A
landing whose pruned file bytes fit ``sources.files.GATHER_MAX_BYTES``
(a rebuild of a few years) is read in one task and plans no shuffle.

Bad records fail the job instead of turning into plausible numbers: a
null ``date`` or ``seq`` or a NaN ``value`` on a whitelisted record.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from weather_analysis_bigdata__spark.pipeline.schemas import (
    COLUMNS_MAPPING,
    WEATHER_WIDE_SCHEMA,
)
from weather_analysis_bigdata__spark.sources.files import gather_small_scan


def _checked(col: str, bad: str, what: str) -> str:
    """SQL for ``col``, failing the job on a record where ``bad`` holds."""
    return (
        f"CASE WHEN {bad} THEN raise_error(format_string('Bronze: {what} in "
        f"landing record %s %s %s', date, station, datatype)) ELSE {col} END AS {col}"
    )


def build_bronze(long_df: DataFrame) -> DataFrame:
    """NOAA long records (date, station, lat, lon, datatype, value, seq)
    → one wide row per (date, station), without the landing coordinates.

    Only whitelisted datatypes survive (Weather_API.py:78). Duplicate
    (date, station, datatype) measurements resolve to the highest-seq
    value (last-write-wins). ``seq`` is unique per delivered measurement,
    so an exact re-delivery (same ``seq``, same value) collapses into one
    Bronze value. A conflicting value at an equal ``seq`` is outside this
    contract and resolves to either value. Each column takes its declared
    type (Weather_API.py:186-188): wind direction is integral degrees,
    weather_type_1 a categorical string flag.

    A whitelisted record with a null ``date``, a null ``seq`` or a NaN
    ``value`` fails the job. The checks sit in the projection the
    aggregate consumes, so they add no job and no shuffle.

    The expressions are SQL strings: every Column-API call is a round
    trip to the JVM, and building this frame from them cost about 3x the
    CPU (120-160 ms against 40-50 ms per build on 4 vCPUs).
    """
    types = {f.name: f.dataType.simpleString() for f in WEATHER_WIDE_SCHEMA}
    records = (
        gather_small_scan(long_df)
        .filter(F.col("datatype").isin(list(COLUMNS_MAPPING)))
        .selectExpr(
            _checked("date", "date IS NULL", "null date"),
            "station",
            "datatype",
            _checked("value", "isnan(value)", "NaN value"),
            _checked("seq", "seq IS NULL", "null seq"),
        )
    )
    return records.groupBy("date", "station").agg(
        *(
            F.expr(
                f"CAST(max_by(value, CASE WHEN datatype = '{code}' THEN seq END)"
                f" AS {types[col]}) AS {col}"
            )
            for code, col in COLUMNS_MAPPING.items()
        )
    )
