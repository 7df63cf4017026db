"""Silver layer: dim join, imputation battery, date normalization.

Reference transform chain (Weather_API.py:305-490), re-expressed:

- coordinates only from the station dim: one keyed **broadcast** left
  join on ``station`` (J1, Weather_API.py:305-327).
- wind imputation: the reference computes ``averages_by_year_location``
  and LEFT JOINs it back on (year, latitude, longitude), then chains
  CASE WHEN (Weather_API.py:344-371). Same semantics here as a **window
  group-mean + coalesce** — one shuffle instead of two plans and a
  self-join, and no ambiguous-column hazard (SURVEY §2.4 J2, §4).
- avg_temperature repair: keep | (min+max)/2 | 0 (E2, Weather_API.py:407-413).
- constant fills: fastest_2min_wind → 0.0 (E3, :426); weather_type_1 →
  "0" with the *intended* string semantics — the notebook's int fillna
  is a silent no-op on a string column (§0 bug, :448).
- Date_1 = to_date(date, "yyyy-MM-dd'T'HH:mm:ss") (D2, :469), year (D1,
  :341), avg_temperature_rounded = round(..., 2) replacing the raw
  column (E5, :483-490).

Layout contract (tested): Silver is hash-partitioned on ``year`` right
after ``year`` is derived. That one Exchange also clusters the wind
window, whose (year, latitude, longitude) groups never straddle a year,
so Bronze plus Silver still plan two shuffles in total. One local sort
on (year, station, Date_1) ends the chain; it also meets the
``partitionBy("year")`` writer's required ordering, so the sink adds no
sort. Every Silver write therefore lands each year whole in one task:
one station-and-date-ordered file per year per write.

Property guaranteed (tested): no nulls escape Silver in any imputed or
derived column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from weather_analysis_bigdata__spark.pipeline.schemas import SILVER_COLUMNS


def join_station_dim(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """Attach lat/lon from the small station dim (broadcast left join on
    ``station``, Weather_API.py:305-327)."""
    coords = dim.select(F.col("station_id").alias("station"), "latitude", "longitude")
    return fact.join(F.broadcast(coords), "station", "left")


def impute_wind(df: DataFrame) -> DataFrame:
    """Group-mean imputation for avg_wind_speed / wind_direction_2min
    over (year, latitude, longitude), falling back to 0
    (Weather_API.py:344-371 as a window + coalesce).

    Rows without coordinates (a station missing from the dim) get no
    group mean: the reference joins the means back on the coordinates,
    where null keys never match, so such rows fall back to 0 instead of
    sharing one (year, null, null) group."""
    w = Window.partitionBy("year", "latitude", "longitude")
    has_coords = F.col("latitude").isNotNull() & F.col("longitude").isNotNull()
    out = df
    for col, typ in (("avg_wind_speed", "double"), ("wind_direction_2min", "int")):
        group_mean = F.when(has_coords, F.avg(col).over(w))
        out = out.withColumn(
            col, F.coalesce(F.col(col), group_mean.cast(typ), F.lit(0).cast(typ))
        )
    return out


def impute_avg_temperature(df: DataFrame) -> DataFrame:
    """avg_temperature = keep | (min+max)/2 | 0 (Weather_API.py:407-413)."""
    return df.withColumn(
        "avg_temperature",
        F.when(F.col("avg_temperature").isNotNull(), F.col("avg_temperature"))
        .when(
            F.col("min_temperature").isNotNull()
            & F.col("max_temperature").isNotNull(),
            (F.col("min_temperature") + F.col("max_temperature")) / 2,
        )
        .otherwise(F.lit(0.0)),
    )


def constant_fills(df: DataFrame) -> DataFrame:
    """fastest_2min_wind → 0.0 (Weather_API.py:426); weather_type_1 →
    "0" (intended semantics of the no-op int fillna at :448, SURVEY §0)."""
    return df.na.fill({"fastest_2min_wind": 0.0}).withColumn(
        "weather_type_1", F.coalesce("weather_type_1", F.lit("0"))
    )


def build_silver(bronze: DataFrame, station_dim: DataFrame) -> DataFrame:
    """Full Bronze → Silver chain with the reference's column contract.

    Clustered for the year-partitioned sink: hashed on ``year`` (the
    shuffle the wind window reuses) and sorted within each partition on
    (year, station, Date_1), so a ``partitionBy("year")`` write emits one
    station-and-date-ordered file per year.
    """
    df = join_station_dim(bronze, station_dim)
    df = df.withColumn("year", F.year("date").cast("int")).repartition("year")
    df = impute_wind(df)
    df = impute_avg_temperature(df)
    df = constant_fills(df)
    df = df.withColumn("Date_1", F.to_date("date", "yyyy-MM-dd'T'HH:mm:ss"))
    df = df.withColumn(
        "avg_temperature_rounded", F.round("avg_temperature", 2)
    ).drop("avg_temperature")
    return df.select(*SILVER_COLUMNS).sortWithinPartitions(
        "year", "station", "Date_1"
    )
