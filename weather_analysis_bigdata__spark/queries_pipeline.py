"""End-to-end pipeline query: the full Bronze→Silver chain as ONE
oracle-checked dataflow.

The weather tables don't exist in the driver's testdata, so a
weather-shaped long table is derived deterministically from ``events``
(station ← user_id bucket, date ← day truncation, datatype ←
event_type, seq ← event_id) and pushed through the exact transform
sequence the reference notebook runs (Weather_API.py:76-490):

  long records
    → whitelist + PIVOT wide with last-write-wins on duplicates (R1)
    → full-row distinct (R2)
    → derived key column (D1)
    → window group-mean imputation with fallback constant (J2/E1)
    → derived-mean CASE repair (E2)
    → constant fill (E3/E4)
    → date parse (D2) + round (E5)

Everything the per-operator queries verify in isolation is verified
here *composed*, against a single ANSI-SQL mirror — the end-to-end
reference-parity proof in the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_analysis_bigdata__spark.functions.deterministic import dec, dsum, sql_dec, sql_dsum
from weather_analysis_bigdata__spark.registry import register
from weather_analysis_bigdata__spark.sources.files import load_table, write_parquet

#: event_type → measure column (stands in for COLUMNS_MAPPING,
#: Weather_API.py:34-45; 'error' is deliberately OUT of the whitelist to
#: exercise the filter, like non-whitelisted NOAA datatypes).
MEASURES = {"click": "m_click", "view": "m_view", "purchase": "m_purchase",
            "signup": "m_signup"}

_SQL_LONG = """
long AS (
  SELECT 'S' || CAST(user_id % 5 AS VARCHAR) AS station,
         strftime(date_trunc('day', ts), '%Y-%m-%dT%H:%M:%S') AS date,
         event_type AS datatype,
         value,
         event_id AS seq
  FROM events
)
"""

_SQL_PIVOT_COLS = ",\n         ".join(
    f"arg_max(value, seq) FILTER (WHERE datatype = '{et}') AS {col}"
    for et, col in MEASURES.items()
)


@register(
    "pipeline_end_to_end",
    oracle=f"""
    WITH {_SQL_LONG.strip()},
    wide AS (
      SELECT date, station,
         {_SQL_PIVOT_COLS}
      FROM long
      WHERE datatype IN ({", ".join(f"'{et}'" for et in MEASURES)})
      GROUP BY date, station
    ),
    keyed AS (
      SELECT DISTINCT *, CAST(month(CAST(date AS TIMESTAMP)) AS INT) AS month
      FROM wide
    ),
    imputed AS (
      SELECT date, station, month,
             COALESCE(m_click,
                      CAST(SUM({sql_dec('m_click')}) OVER w AS DOUBLE)
                        / NULLIF(COUNT(m_click) OVER w, 0),
                      0.0) AS m_click_imputed,
             CASE WHEN m_view IS NOT NULL THEN m_view
                  WHEN m_click IS NOT NULL AND m_purchase IS NOT NULL
                    THEN (m_click + m_purchase) / 2
                  ELSE 0.0 END AS m_view_repaired,
             COALESCE(m_purchase, 0.0) AS m_purchase_filled,
             COALESCE(CAST(m_signup AS VARCHAR), '0') AS m_signup_flag
      FROM keyed
      WINDOW w AS (PARTITION BY station, month)
    )
    SELECT station, month,
           CAST(CAST(strptime(date, '%Y-%m-%dT%H:%M:%S') AS DATE) AS TIMESTAMP)
             AS date_1,
           CAST(round(CAST(m_click_imputed AS DECIMAL(28,10)), 2) AS DOUBLE)
             AS m_click_rounded,
           m_view_repaired, m_purchase_filled, m_signup_flag
    FROM imputed
    """,
    doc="Full Bronze→Silver chain composed as one dataflow (see module "
    "docstring): whitelist→pivot(last-write-wins via max_by)→distinct→"
    "window group-mean impute→CASE repair→fills→date parse→round. One "
    "shuffle for the pivot aggregate, one for the impute window — the "
    "same budget the layered pipeline pays at 100 TB.",
)
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    long_df = ev.select(
        F.concat(F.lit("S"), (F.col("user_id") % 5).cast("string")).alias("station"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd'T'HH:mm:ss").alias(
            "date"
        ),
        F.col("event_type").alias("datatype"),
        "value",
        F.col("event_id").alias("seq"),
    )
    wide = (
        long_df.filter(F.col("datatype").isin(list(MEASURES)))
        .groupBy("date", "station")
        .pivot("datatype", list(MEASURES))
        .agg(F.max_by("value", "seq"))
    )
    for et, col in MEASURES.items():
        wide = wide.withColumnRenamed(et, col)
    keyed = wide.distinct().withColumn(
        "month", F.month(F.col("date").cast("timestamp")).cast("int")
    )
    w = Window.partitionBy("station", "month")
    group_mean = F.sum(dec("m_click", 10, 28)).over(w).cast("double") / F.nullif(
        F.count("m_click").over(w), F.lit(0)
    )
    imputed = keyed.select(
        "date",
        "station",
        "month",
        F.coalesce("m_click", group_mean, F.lit(0.0)).alias("m_click_imputed"),
        F.when(F.col("m_view").isNotNull(), F.col("m_view"))
        .when(
            F.col("m_click").isNotNull() & F.col("m_purchase").isNotNull(),
            (F.col("m_click") + F.col("m_purchase")) / 2,
        )
        .otherwise(0.0)
        .alias("m_view_repaired"),
        F.coalesce("m_purchase", F.lit(0.0)).alias("m_purchase_filled"),
        F.coalesce(F.col("m_signup").cast("string"), F.lit("0")).alias(
            "m_signup_flag"
        ),
    )
    return imputed.select(
        "station",
        "month",
        F.to_date("date", "yyyy-MM-dd'T'HH:mm:ss").cast("timestamp").alias("date_1"),
        F.round(F.col("m_click_imputed").cast("decimal(28,10)"), 2)
        .cast("double")
        .alias("m_click_rounded"),
        "m_view_repaired",
        "m_purchase_filled",
        "m_signup_flag",
    )


# ---------------------------------------------------------------------------
# CSV sink → CSV scan round-trip (S3/S4/S6), verified by aggregate parity
# ---------------------------------------------------------------------------
@register(
    "csv_roundtrip_agg",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum('o_totalprice')} AS sum_price
    FROM orders GROUP BY 1
    """,
    doc="CSV sink + schema-enforced CSV scan round-trip (reference "
    "S3/S4/S6, Weather_API.py:130,154,1180-1184): orders written to a "
    "header CSV, read back with an EXPLICIT schema (no inference scan "
    "— inference costs a full extra pass and guesses types), then "
    "aggregated per year. The oracle runs on the original parquet, so "
    "a hash match proves the text round-trip is lossless: doubles "
    "survive via shortest-round-trip formatting, timestamps via the "
    "default ISO format under the UTC session zone. Parquet remains "
    "the layer format at 100 TB (columnar, typed, prunable) — CSV is "
    "the interchange path this query gates.",
)
def csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    path = f"/tmp/spark_graft_csv_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    o.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(
        "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderdate TIMESTAMP"
    ).option("header", True).csv(path)
    return back.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# JSON-lines sink → scan round-trip (interchange format #2)
# ---------------------------------------------------------------------------
@register(
    "json_roundtrip_agg",
    oracle=f"""
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(length(text)) AS BIGINT) AS total_len
    FROM documents GROUP BY 1, 2
    """,
    doc="JSON-lines sink + schema-enforced scan round-trip over the "
    "documents table (free text with quotes/newlines — the hard case "
    "for a text format), verified by aggregate parity against the "
    "original parquet: a hash match proves JSON string escaping is "
    "lossless. Explicit schema on read (no inference pass). JSONL is "
    "the interchange format of LLM data pipelines; Parquet stays the "
    "processing format at 100 TB.",
)
def json_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    path = f"/tmp/spark_graft_json_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}"
    d = load_table(spark, sf_dir, "documents")
    d.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).json(path)
    return back.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text").cast("bigint")).alias("total_len"),
    )


# ---------------------------------------------------------------------------
# Parquet schema evolution: mergeSchema across heterogeneous files
# ---------------------------------------------------------------------------
@register(
    "parquet_schema_merge",
    oracle="""
    WITH merged AS (
      SELECT doc_id, n_chars, NULL AS lang FROM documents
      UNION ALL
      SELECT doc_id, NULL, lang FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(n_chars) AS BIGINT) AS n_with_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM merged GROUP BY lang
    """,
    doc="Schema EVOLUTION read: two parquet file generations with "
    "different column sets (v1: doc_id+n_chars, v2: doc_id+lang) "
    "read as one dataset via mergeSchema — absent columns surface as "
    "NULL per file generation, exactly the UNION-with-NULLs relation "
    "the oracle states. This is how a 100 TB layer absorbs added "
    "columns without rewriting history; the per-file footer merge "
    "happens once at planning, scans stay pruned. COUNT(col) vs "
    "COUNT(*) shows which generation each row came from.",
)
def parquet_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    base = f"/tmp/spark_graft_schema_merge_{os.path.basename(sf_dir.rstrip('/'))}"
    d = load_table(spark, sf_dir, "documents")
    d.select("doc_id", "n_chars").write.mode("overwrite").parquet(
        f"{base}/gen=1"
    )
    d.select("doc_id", "lang").write.mode("overwrite").parquet(
        f"{base}/gen=2"
    )
    merged = spark.read.option("mergeSchema", True).option(
        "recursiveFileLookup", True
    ).parquet(base)
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_chars").alias("n_with_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Dynamic partition overwrite (incremental backfill semantics)
# ---------------------------------------------------------------------------
@register(
    "dynamic_partition_overwrite",
    oracle=f"""
    WITH current AS (
      SELECT o_orderkey, o_totalprice, year(o_orderdate) AS yr
      FROM orders WHERE year(o_orderdate) <> 1997
      UNION ALL
      SELECT o_orderkey, o_totalprice * 2, 1997
      FROM orders WHERE year(o_orderdate) = 1997
        AND o_orderkey % 2 = 0
    )
    SELECT CAST(yr AS INT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum('o_totalprice')} AS sum_price
    FROM current GROUP BY 1
    """,
    doc="DYNAMIC partition overwrite — the incremental-backfill write "
    "semantics: a year-partitioned layer is fully written, then a "
    "corrected 1997 slice (even keys, doubled prices) is written with "
    "partitionOverwriteMode=dynamic — ONLY the yr=1997 partition is "
    "replaced, every other partition's files are untouched (static "
    "mode would truncate the whole table). The readback aggregate "
    "hash-matches the expected post-backfill relation. At 100 TB this "
    "is how late/corrected data lands daily without rewriting years "
    "of history; partition pruning on yr keeps the rewrite I/O "
    "proportional to the slice.",
)
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    base = (
        f"/tmp/spark_graft_dyn_overwrite_"
        f"{os.path.basename(sf_dir.rstrip('/'))}"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.year("o_orderdate").alias("yr")
    )
    o.write.mode("overwrite").partitionBy("yr").parquet(base)
    fix = (
        o.filter((F.col("yr") == 1997) & (F.col("o_orderkey") % 2 == 0))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    write_parquet(fix, base, partition_by=("yr",))
    back = spark.read.parquet(base)
    return back.groupBy(F.col("yr").cast("int").alias("yr")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Weather-shaped 100k-row scale rehearsal (the reference's INTENDED run)
# ---------------------------------------------------------------------------
def _sql_rehearsal_gen() -> str:
    """DuckDB mirror of pipeline.rehearsal.generate_noaa_long (100k rows)."""
    from weather_analysis_bigdata__spark.functions.textops import sql_hex15_to_long
    from weather_analysis_bigdata__spark.pipeline.rehearsal import (
        DATATYPES,
        DAY_STRIDE,
        EXPECTED_ROWS,
        REHEARSAL_STATIONS,
        WIND_TYPES,
    )

    station_list = ", ".join(f"'{s[0]}'" for s in REHEARSAL_STATIONS)
    dt_list = ", ".join(f"'{d}'" for d in DATATYPES)
    wind_list = ", ".join(f"'{w}'" for w in WIND_TYPES)
    h = sql_hex15_to_long(
        "md5(station || ':' || CAST(day AS VARCHAR) || ':' || datatype)"
    )
    return f"""
    ids AS (SELECT CAST(t.i AS BIGINT) AS id
            FROM generate_series(0, {EXPECTED_ROWS - 1}) t(i)),
    base AS (
      SELECT id,
             CAST(id % 5 AS INT) AS st_idx,
             [{station_list}][CAST(id % 5 AS INT) + 1] AS station,
             [{dt_list}][CAST((id // 5) % 10 AS INT) + 1] AS datatype,
             (id // 50) * {DAY_STRIDE} AS day
      FROM ids
    ),
    hashed AS (
      SELECT *, {h} AS h,
             strftime(DATE '1950-01-01' + CAST(day AS INT),
                      '%Y-%m-%dT%H:%M:%S') AS date
      FROM base
    ),
    valued AS (
      SELECT *,
             CASE WHEN datatype = 'WDF2' THEN CAST(h % 360 AS DOUBLE)
                  WHEN datatype = 'WT01' THEN 1.0
                  WHEN datatype IN ('TMAX', 'TMIN', 'TAVG')
                    THEN CAST(h % 400 AS DOUBLE) / 10.0 - 10.0
                  ELSE CAST(h % 600 AS DOUBLE) / 10.0 END AS value
      FROM hashed
    ),
    present AS (
      SELECT * FROM valued
      WHERE h % 7 <> 0
        AND NOT (datatype = 'TAVG' AND h % 3 = 0)
        AND NOT (st_idx = 0 AND datatype IN ({wind_list}))
    ),
    long AS (
      SELECT date, station, datatype, value, id AS seq FROM present
      UNION ALL
      SELECT date, station, datatype, value + 10.0,
             id + {EXPECTED_ROWS}
      FROM present WHERE h % 11 = 0
    )
    """


@register(
    "weather_rehearsal_e2e",
    oracle=f"""
    WITH {_sql_rehearsal_gen().strip()},
    wide AS (
      SELECT date, station,
             arg_max(value, seq) FILTER (WHERE datatype = 'TMAX') AS tmax,
             arg_max(value, seq) FILTER (WHERE datatype = 'TMIN') AS tmin,
             arg_max(value, seq) FILTER (WHERE datatype = 'TAVG') AS tavg,
             arg_max(value, seq) FILTER (WHERE datatype = 'PRCP') AS prcp
      FROM long
      GROUP BY date, station
    ),
    repaired AS (
      SELECT CAST(year(CAST(date AS TIMESTAMP)) AS INT) AS year,
             round(CASE WHEN tavg IS NOT NULL THEN tavg
                        WHEN tmin IS NOT NULL AND tmax IS NOT NULL
                          THEN (tmin + tmax) / 2
                        ELSE 0.0 END, 2) AS avg_t,
             prcp
      FROM wide
    )
    SELECT year,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           {sql_dsum('avg_t')} / COUNT(*) AS avg_temp,
           {sql_dsum('prcp')} AS total_prcp
    FROM repaired
    GROUP BY year
    """,
    doc="The reference's INTENDED dataset at EXPECTED_ROWS=100000 "
    "(Weather_API.py:24: 5 stations × 10 datatypes × 2000 days over "
    "1950–2021), generated DISTRIBUTED (spark.range, no driver rows) "
    "and pushed through the real pipeline modules — the Bronze grouped "
    "aggregate with last-write-wins re-deliveries, broadcast dim join, "
    "window wind imputation, (min+max)/2 repair, fills, date parse, "
    "round — then aggregated per year with exact decimal sums. The "
    "oracle re-generates the identical 100k rows in SQL (same md5→int60 "
    "value function) and replays the output-affecting transforms, so a "
    "hash match certifies the COMPOSED pipeline at the scale the "
    "notebook intended but never ran. pipeline/rehearsal.py also writes "
    "Silver partitioned by year (partition-pruning layout at 100 TB); "
    "tests/test_rehearsal.py pins that layout.",
)
def weather_rehearsal_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.rehearsal import (
        generate_noaa_long,
        station_dim_df,
    )
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver

    silver = build_silver(
        build_bronze(generate_noaa_long(spark)), station_dim_df(spark)
    )
    n = F.count(F.lit(1))
    return silver.groupBy("year").agg(
        n.alias("n_days"),
        (dsum("avg_temperature_rounded") / n).alias("avg_temp"),
        dsum("precipitation").alias("total_prcp"),
    )
