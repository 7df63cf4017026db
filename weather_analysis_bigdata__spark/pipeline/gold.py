"""Gold layer: every analytic the reference computes in pandas/numpy
after toPandas(), pushed into Spark so only plot-sized results cross the
driver boundary (SURVEY.md §3.3 — the reference ships ~27k rows per
station to the driver; at 100 TB that's fatal).

Each function returns a small aggregate DataFrame; rendering (plotly /
matplotlib in the reference, Weather_API.py:533-1012) is a thin consumer
of these outputs and deliberately out of engine scope.

One stage when Silver is small: every aggregate reads its input through
``sources.files.gather_small_scan``, which coalesces a Silver of at most
``GATHER_MAX_BYTES`` (4 MiB) file bytes to one partition. The
aggregate then plans no Exchange and a request runs as one job of one
stage instead of scan, partial aggregate, shuffle and final aggregate in
2-3 jobs. Above the threshold the parallel plan is kept. The threshold
sits below the measured CPU crossover: on 4 vCPUs one task cost no more
CPU than the parallel plan up to a 5.2 MB Silver and more from 7.8 MB
(details on the helper).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from weather_analysis_bigdata__spark.sources.files import gather_small_scan


def per_station_series(
    silver: DataFrame, station: str, cols: tuple[str, ...] = (
        "Date_1", "max_temperature", "min_temperature", "avg_temperature_rounded"
    )
) -> DataFrame:
    """Ordered time series for one station (Weather_API.py:522-529) —
    parameterized instead of five copy-pasted cells (F1/P2/O1).

    Sorted on one reducer, not with a global ``orderBy``: a range sort
    first runs a sampling job that scans the filtered Silver once more
    to pick its bounds, while one station holds at most 366 rows a
    year, so a single partition costs nothing at any scale. A small
    Silver is read in one task and needs no exchange at all; a large
    one is scanned in parallel and its filtered rows gathered."""
    one = gather_small_scan(silver)
    rows = one.filter(F.col("station") == station).select(*cols)
    if one is silver:  # above the threshold: scanned in parallel
        rows = rows.repartition(1)
    return rows.sortWithinPartitions("Date_1")


def yearly_mean_temperature(silver: DataFrame) -> DataFrame:
    """Mean rounded temperature per year (Weather_API.py:981-984)."""
    return gather_small_scan(silver).groupBy("year").agg(
        F.avg("avg_temperature_rounded").alias("avg_temperature"),
        F.count(F.lit(1)).alias("n_days"),
    )


def station_month_mean(silver: DataFrame, value_col: str) -> DataFrame:
    """Station × calendar-month mean of a measure
    (Weather_API.py:1037-1042 temperature, :1093-1098 precipitation)."""
    return gather_small_scan(silver).groupBy(
        "station", F.month("Date_1").alias("month")
    ).agg(F.avg(value_col).alias(f"avg_{value_col}"))


def station_month_year_mean(silver: DataFrame, value_col: str) -> DataFrame:
    """Station × yyyy-MM mean (animated-map frames, Weather_API.py:846-875)."""
    return gather_small_scan(silver).groupBy(
        "station", F.date_format("Date_1", "yyyy-MM").alias("month_year")
    ).agg(F.avg(value_col).alias(f"avg_{value_col}"))


def precipitation_temperature_corr(silver: DataFrame) -> DataFrame:
    """Pearson correlation precipitation ↔ temperature
    (Weather_API.py:1171 pandas .corr → F.corr, stays distributed)."""
    return gather_small_scan(silver).agg(
        F.corr("precipitation", "avg_temperature_rounded").alias("corr")
    )


def yearly_trend(silver: DataFrame) -> DataFrame:
    """OLS degree-1 trend of yearly mean temperature over year
    (Weather_API.py:987-993 np.polyfit → regr_slope/regr_intercept over
    the yearly aggregate — two-level aggregation, all in Spark)."""
    yearly = yearly_mean_temperature(silver)
    return yearly.agg(
        F.regr_slope("avg_temperature", "year").alias("slope"),
        F.regr_intercept("avg_temperature", "year").alias("intercept"),
    )


def remap_station_names(df: DataFrame, mapping: DataFrame) -> DataFrame:
    """station id → display name via broadcast join (the scalable form of
    pandas .replace(station_mapping), Weather_API.py:1026-1033). A
    station missing from ``mapping`` keeps its id; the columns and their
    order are ``df``'s.

    One USING join on ``station`` and one SQL projection: ``df`` often
    shares lineage with ``mapping`` (the dim joined earlier in Silver),
    and joining by column name never resolves an ambiguous reference, so
    it needs no aliases (each Column-API call is a JVM round trip)."""
    return df.join(
        F.broadcast(mapping.selectExpr("station_id AS station", "name")),
        "station",
        "left",
    ).selectExpr(*(
        "coalesce(name, station) AS station" if c == "station" else f"`{c}`"
        for c in df.columns
    ))
