"""Explicit StructTypes for every pipeline layer.

The reference declares a schema for the weather fact table
(Weather_API.py:175-190) but never passes it to createDataFrame —
Spark infers instead (SURVEY.md §0). Here the declared schema is the
enforced contract at every layer boundary.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: NOAA CDO v2 long-format record (one measurement per row) — the shape
#: the API connector emits before the Bronze aggregate (Weather_API.py:71-91).
#: ``seq`` is the ingest sequence number: it makes the reference's
#: last-write-wins duplicate policy (dict overwrite, Weather_API.py:83-91)
#: deterministic under any partitioning (max_by(value, seq)). Contract:
#: ``seq`` is unique per delivered measurement, so an exact re-delivery
#: (same ``seq``, same value) collapses into one Bronze value. A
#: conflicting value at an equal ``seq`` is outside the contract; Bronze
#: does not resolve it.
NOAA_LONG_SCHEMA = T.StructType(
    [
        T.StructField("date", T.StringType()),  # yyyy-MM-dd'T'HH:mm:ss
        T.StructField("station", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("datatype", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("seq", T.LongType()),
    ]
)

#: NOAA datatype → fact column (Bronze whitelist, Weather_API.py:34-45).
COLUMNS_MAPPING = {
    "PRCP": "precipitation",
    "SNOW": "snowfall",
    "SNWD": "snow_depth",
    "TMAX": "max_temperature",
    "TMIN": "min_temperature",
    "TAVG": "avg_temperature",
    "AWND": "avg_wind_speed",
    "WSF2": "fastest_2min_wind",
    "WDF2": "wind_direction_2min",
    "WT01": "weather_type_1",
}

#: Wide fact table — the declared Bronze schema (Weather_API.py:175-190).
#: One row per (date, station), no coordinates: ``STATION_SCHEMA`` owns
#: them, so a re-delivery with revised landing ones resolves by ``seq``.
WEATHER_WIDE_SCHEMA = T.StructType(
    [
        T.StructField("date", T.StringType()),
        T.StructField("station", T.StringType()),
        T.StructField("precipitation", T.DoubleType()),
        T.StructField("snowfall", T.DoubleType()),
        T.StructField("snow_depth", T.DoubleType()),
        T.StructField("max_temperature", T.DoubleType()),
        T.StructField("min_temperature", T.DoubleType()),
        T.StructField("avg_temperature", T.DoubleType()),
        T.StructField("avg_wind_speed", T.DoubleType()),
        T.StructField("fastest_2min_wind", T.DoubleType()),
        T.StructField("wind_direction_2min", T.IntegerType()),
        T.StructField("weather_type_1", T.StringType()),
    ]
)

#: Station dimension (declared AND applied in the reference,
#: Weather_API.py:287-295; API-station_data.csv).
STATION_SCHEMA = T.StructType(
    [
        T.StructField("station_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
    ]
)

#: Columns the Silver layer guarantees (reference's 14-column selectExpr
#: contract, Weather_API.py:374-391, plus derived year/Date_1/rounded).
SILVER_COLUMNS = (
    "date",
    "station",
    "latitude",
    "longitude",
    "year",
    "Date_1",
    "precipitation",
    "snowfall",
    "snow_depth",
    "max_temperature",
    "min_temperature",
    "avg_temperature_rounded",
    "avg_wind_speed",
    "fastest_2min_wind",
    "wind_direction_2min",
    "weather_type_1",
)
