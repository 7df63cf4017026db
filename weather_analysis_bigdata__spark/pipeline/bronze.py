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
aggregate); the aggregate state is 10 (value, seq) pairs per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from weather_analysis_bigdata__spark.pipeline.schemas import COLUMNS_MAPPING


def build_bronze(long_df: DataFrame) -> DataFrame:
    """NOAA long records (date, station, lat, lon, datatype, value, seq)
    → one wide row per (date, station), without the landing coordinates.

    Only whitelisted datatypes survive (Weather_API.py:78). Duplicate
    (date, station, datatype) measurements resolve to the highest-seq
    value (last-write-wins). ``seq`` is unique per delivered measurement,
    so an exact re-delivery (same ``seq``, same value) collapses into one
    Bronze value. A conflicting value at an equal ``seq`` is outside this
    contract and resolves to either value.
    """
    wide = (
        long_df.filter(F.col("datatype").isin(list(COLUMNS_MAPPING)))
        .groupBy("date", "station")
        .agg(
            *(
                F.max_by(
                    "value", F.when(F.col("datatype") == code, F.col("seq"))
                ).alias(col)
                for code, col in COLUMNS_MAPPING.items()
            )
        )
    )
    # Declared types (Weather_API.py:186-188): wind direction is integral
    # degrees; weather_type_1 is a categorical string flag.
    return wide.withColumn(
        "wind_direction_2min", F.col("wind_direction_2min").cast("int")
    ).withColumn("weather_type_1", F.col("weather_type_1").cast("string"))
