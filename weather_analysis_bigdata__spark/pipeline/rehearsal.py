"""Scale rehearsal: the reference's INTENDED dataset, end to end.

The notebook's configuration (Weather_API.py:22-31) targets
``EXPECTED_ROWS = 100000`` long-format NOAA records over 5 stations,
1950–2024 — but the committed run only ever ingested a fraction via the
paginated API. This module *generates* that intended dataset
deterministically and pushes it through the real Bronze→Silver→Gold
modules, writing Silver partitioned by year (the layout Silver's
year-filter queries prune on at 100 TB).

Generation is **distributed** (``spark.range`` + column expressions; no
driver-side row list) and **cross-engine reproducible**: every value is
a pure function of (station, day, datatype) through the same md5→int60
mapping the oracle SQL uses, so the composed pipeline output is
hash-checkable against DuckDB (see queries_pipeline.weather_rehearsal_e2e).

Planted edge cases (same catalogue as tests/fixtures.py, §FIXTURES.md A):

- ~1/7 of measurements missing            → Bronze nulls
- TAVG additionally missing for 1/3       → (min+max)/2 repair path
- station 0 reports NO wind at all        → whole-group null → 0 fallback
- 1/11 of measurements duplicated at a
  higher seq with value+10                → last-write-wins Bronze proof
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_analysis_bigdata__spark.pipeline.schemas import (
    COLUMNS_MAPPING,
    STATION_SCHEMA,
)

#: The reference's 5 station ids (Weather_API.py:25-31) with the public
#: NOAA coordinates (API-station_data.csv shape).
REHEARSAL_STATIONS = [
    ("GHCND:USW00094728", "NY CITY CENTRAL PARK", 40.77898, -73.96925),
    ("GHCND:USW00023234", "SAN FRANCISCO INTL", 37.6197, -122.36469),
    ("GHCND:USW00023174", "LOS ANGELES INTL", 33.93816, -118.38866),
    ("GHCND:USW00012960", "HOUSTON INTERCONT", 29.98027, -95.36039),
    ("GHCND:USW00013874", "ATLANTA HARTSFIELD", 33.6301, -84.4418),
]

DATATYPES = tuple(COLUMNS_MAPPING)

WIND_TYPES = ("AWND", "WSF2", "WDF2")

EXPECTED_ROWS = 100_000  # Weather_API.py:24

#: day stride 13 spreads the 2000 distinct days across 1950–2021, the
#: reference's START_YEAR..END_YEAR span (Weather_API.py:21-22).
DAY_STRIDE = 13


def station_dim_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(REHEARSAL_STATIONS, STATION_SCHEMA)


def generate_noaa_long(
    spark: SparkSession, n_rows: int = EXPECTED_ROWS
) -> DataFrame:
    """Distributed synthesis of the NOAA long format at EXPECTED_ROWS.

    Row id decomposes as (day, datatype, station); measurement value is
    a datatype-scaled residue of md5(station:day:datatype) (int60 via
    the repo's cross-engine hex15 mapping). At 100 TB this is the
    pattern for synthetic load generation too: ``spark.range``
    partitions the id space, every column derives locally, zero
    shuffles before the Bronze aggregate.
    """
    from weather_analysis_bigdata__spark.functions.textops import hex15_to_long

    ids = spark.range(n_rows)  # id: 0..n-1
    st_idx = (F.col("id") % 5).cast("int")
    dt_idx = ((F.col("id") / 5).cast("long") % 10).cast("int")
    day = (F.col("id") / 50).cast("long") * DAY_STRIDE

    stations = F.array(*[F.lit(s[0]) for s in REHEARSAL_STATIONS])
    lats = F.array(*[F.lit(s[2]) for s in REHEARSAL_STATIONS])
    lons = F.array(*[F.lit(s[3]) for s in REHEARSAL_STATIONS])
    dts = F.array(*[F.lit(d) for d in DATATYPES])

    base = ids.select(
        F.col("id"),
        st_idx.alias("st_idx"),
        F.element_at(stations, st_idx + 1).alias("station"),
        F.element_at(lats, st_idx + 1).alias("latitude"),
        F.element_at(lons, st_idx + 1).alias("longitude"),
        F.element_at(dts, dt_idx + 1).alias("datatype"),
        day.alias("day"),
    )
    h = hex15_to_long(
        F.md5(
            F.concat_ws(":", "station", F.col("day").cast("string"), "datatype")
        )
    )
    hashed = base.select(
        "*",
        h.alias("h"),
        F.date_format(
            F.date_add(F.to_date(F.lit("1950-01-01")), F.col("day").cast("int")),
            "yyyy-MM-dd'T'HH:mm:ss",
        ).alias("date"),
        F.when(F.col("datatype") == "WDF2", (h % 360).cast("double"))
        .when(F.col("datatype") == "WT01", F.lit(1.0))
        .when(
            F.col("datatype").isin("TMAX", "TMIN", "TAVG"),
            (h % 400).cast("double") / 10.0 - 10.0,
        )
        .otherwise((h % 600).cast("double") / 10.0)
        .alias("value"),
    )
    present = hashed.filter(
        (F.col("h") % 7 != 0)
        & ~((F.col("datatype") == "TAVG") & (F.col("h") % 3 == 0))
        & ~((F.col("st_idx") == 0) & F.col("datatype").isin(*WIND_TYPES))
    )
    cols = ["date", "station", "latitude", "longitude", "datatype", "value"]
    first_write = present.select(*cols, F.col("id").alias("seq"), "h")
    # Late re-delivery of 1/11 of measurements with a perturbed value:
    # Bronze's max_by(value, seq) must keep THESE rows.
    rewrites = first_write.filter(F.col("h") % 11 == 0).select(
        *cols[:5],
        (F.col("value") + 10.0).alias("value"),
        (F.col("seq") + n_rows).alias("seq"),
        "h",
    )
    return first_write.unionByName(rewrites).drop("h")


def run_rehearsal(
    spark: SparkSession, out_dir: str, n_rows: int = EXPECTED_ROWS
) -> dict:
    """Full-layer rehearsal: generate → Bronze → Silver (written as
    parquet **partitioned by year** through the layer sink, one file per
    year, for downstream pruning) → Gold aggregates. Returns the written
    path and plot-sized gold outputs."""
    from weather_analysis_bigdata__spark.pipeline import gold
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver
    from weather_analysis_bigdata__spark.sources.files import write_parquet

    bronze = build_bronze(generate_noaa_long(spark, n_rows))
    silver = build_silver(bronze, station_dim_df(spark))
    write_parquet(silver, out_dir, partition_by=("year",))
    silver_back = spark.read.parquet(out_dir)
    return {
        "silver_path": out_dir,
        "n_silver_rows": silver_back.count(),
        "yearly": gold.yearly_mean_temperature(silver_back),
        "trend": gold.yearly_trend(silver_back),
        "station_month": gold.station_month_mean(
            silver_back, "avg_temperature_rounded"
        ),
    }
