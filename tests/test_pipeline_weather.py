"""Bronze → Silver → Gold pipeline tests over the NOAA-shaped fixture
(SURVEY.md §5: unit + golden + property suites)."""

from __future__ import annotations

import contextlib
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from tests.fixtures import (
    DATATYPES,
    ROGUE_DATATYPE,
    STATIONS,
    noaa_long_rows,
    station_dim_rows,
)


@pytest.fixture(scope="module")
def long_df(spark):
    from weather_analysis_bigdata__spark.pipeline.schemas import NOAA_LONG_SCHEMA

    return spark.createDataFrame(noaa_long_rows(), NOAA_LONG_SCHEMA).cache()


@pytest.fixture(scope="module")
def station_dim(spark):
    from weather_analysis_bigdata__spark.pipeline.schemas import STATION_SCHEMA

    return spark.createDataFrame(station_dim_rows(), STATION_SCHEMA)


@pytest.fixture(scope="module")
def bronze(long_df):
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze

    return build_bronze(long_df).cache()


@pytest.fixture(scope="module")
def silver(bronze, station_dim):
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver

    return build_silver(bronze, station_dim).cache()


@contextlib.contextmanager
def _session_conf(spark, key, value):
    """Set one session conf for the block and restore it afterwards."""
    saved = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def _parquet_files(root):
    """{path relative to root: SHA-256} of every parquet file under root."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


# ---------------------------------------------------------------- Bronze

def test_bronze_one_row_per_date_station(bronze):
    assert bronze.count() == bronze.select("date", "station").distinct().count()


def test_bronze_whitelist_filters_rogue_datatype(bronze):
    from weather_analysis_bigdata__spark.pipeline.schemas import COLUMNS_MAPPING

    expected = {"date", "station", *COLUMNS_MAPPING.values()}
    assert set(bronze.columns) == expected
    assert ROGUE_DATATYPE not in bronze.columns


def test_bronze_last_write_wins_on_duplicate_measurements(spark, bronze):
    """Duplicated TMAX measurements carry +100 at a higher seq — the
    pivot must keep the later (larger) value."""
    from tests.fixtures import _h, _value

    rows = {(r.date, r.station): r for r in bronze.collect()}
    checked = 0
    for sid, _n, _la, _lo in STATIONS:
        for year in (2023, 2024):
            for day in range(40):
                if _h(sid, year, day) % 7 == 0:
                    month, dom = day // 28 + 1, day % 28 + 1
                    date = f"{year}-{month:02d}-{dom:02d}T00:00:00"
                    got = rows[(date, sid)].max_temperature
                    assert got == pytest.approx(_value(sid, day, "TMAX") + 100.0)
                    checked += 1
    assert checked > 10


def test_bronze_exact_redelivery_collapses(spark, bronze):
    """The fixture plants 25 full-row duplicates (same seq, same value).
    Bronze over the rows with them removed must be the same table."""
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.schemas import NOAA_LONG_SCHEMA

    rows = noaa_long_rows()
    unique = list(dict.fromkeys(rows))
    assert len(rows) - len(unique) == 25
    once = build_bronze(spark.createDataFrame(unique, NOAA_LONG_SCHEMA))
    assert once.schema == bronze.schema
    assert bronze.exceptAll(once).count() == 0
    assert once.exceptAll(bronze).count() == 0


@pytest.mark.parametrize(
    "field, bad, message",
    [("date", None, "null date"), ("seq", None, "null seq"),
     ("value", float("nan"), "NaN value")],
)
def test_bronze_bad_record_fails_the_job(spark, field, bad, message):
    """A null ``date`` or ``seq`` or a NaN ``value`` fails the job; it
    never becomes a null-date row, a dropped measurement or a NaN mean."""
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.schemas import NOAA_LONG_SCHEMA

    sid, _name, lat, lon = STATIONS[0]
    good = {"date": "2024-03-01T00:00:00", "station": sid, "latitude": lat,
            "longitude": lon, "datatype": "TMAX", "value": 12.0, "seq": 1}
    landing = spark.createDataFrame(
        [tuple(good.values()), tuple({**good, "seq": 2, field: bad}.values())],
        NOAA_LONG_SCHEMA,
    )
    with pytest.raises(Exception, match=message):
        build_bronze(landing).collect()


def test_bronze_types_match_declared_schema(bronze):
    types = dict(bronze.dtypes)
    assert types["wind_direction_2min"] == "int"
    assert types["weather_type_1"] == "string"
    assert types["max_temperature"] == "double"


# ---------------------------------------------------------------- Silver

def test_silver_column_contract(silver):
    from weather_analysis_bigdata__spark.pipeline.schemas import SILVER_COLUMNS

    assert tuple(silver.columns) == SILVER_COLUMNS


def test_silver_no_nulls_escape_imputed_columns(silver):
    for col in (
        "avg_wind_speed",
        "wind_direction_2min",
        "fastest_2min_wind",
        "weather_type_1",
        "avg_temperature_rounded",
        "year",
        "Date_1",
        "latitude",
        "longitude",
    ):
        assert silver.filter(F.col(col).isNull()).count() == 0, col


def test_silver_wind_impute_group_mean_then_zero(silver):
    """Station 0 reported no wind in 2023 → whole group null → 0."""
    sid = STATIONS[0][0]
    g = silver.filter((F.col("station") == sid) & (F.col("year") == 2023))
    assert g.count() > 0
    assert g.filter(F.col("avg_wind_speed") != 0.0).count() == 0
    # other groups: imputed values are the group mean → never negative
    assert silver.filter(F.col("avg_wind_speed") < 0).count() == 0


def test_silver_avg_temperature_derivation(silver):
    """When TAVG was missing but TMIN/TMAX present, the rounded value
    must equal round((min+max)/2, 2)."""
    rows = silver.filter(
        F.col("min_temperature").isNotNull() & F.col("max_temperature").isNotNull()
    ).collect()
    assert rows
    derivable = 0
    for r in rows:
        lo = min(r.min_temperature, r.max_temperature)
        hi = max(r.min_temperature, r.max_temperature)
        if lo - 0.005 <= r.avg_temperature_rounded <= hi + 0.005:
            derivable += 1
    # (rows where TAVG was reported may sit outside [min,max]; derived
    # ones cannot — require a healthy share inside the bounds)
    assert derivable > len(rows) * 0.3


def test_silver_weather_type_string_sentinel(silver):
    vals = {r.weather_type_1 for r in silver.select("weather_type_1").distinct().collect()}
    assert "0" in vals  # the INTENDED string fill (SURVEY §0)
    assert vals <= {"0", "1.0", "1"}


def test_silver_date_parse(silver):
    r = silver.select("date", "Date_1", "year").first()
    assert str(r.Date_1) == r.date[:10]
    assert r.year == int(r.date[:4])


def test_silver_redelivery_with_revised_coordinates_resolves_by_seq(
    spark, station_dim
):
    """A re-delivery whose landing coordinates differ from the first
    delivery's is still the same (date, station): Silver keeps one row,
    the seq-3 TMAX wins, and the average is derived from min and max.
    Coordinates come from the station dim, not from the landing rows."""
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.schemas import NOAA_LONG_SCHEMA
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver

    sid, _name, lat, lon = STATIONS[1]
    date = "2024-02-03T00:00:00"
    landing = spark.createDataFrame(
        [
            (date, sid, lat, lon, "TMIN", 4.0, 1),
            (date, sid, lat, lon, "TMAX", 11.0, 2),
            (date, sid, lat + 0.5, lon - 0.5, "TMAX", 13.0, 3),
        ],
        NOAA_LONG_SCHEMA,
    )
    rows = build_silver(build_bronze(landing), station_dim).collect()
    assert len(rows) == 1, rows
    (r,) = rows
    assert (r.date, r.station) == (date, sid)
    assert (r.latitude, r.longitude) == (lat, lon)
    assert r.min_temperature == 4.0
    assert r.max_temperature == 13.0
    assert r.avg_temperature_rounded == pytest.approx(round((4.0 + 13.0) / 2, 2))


def test_silver_wind_mean_skips_stations_missing_from_dim(spark, station_dim):
    """Two fact stations absent from the dim both get null coordinates;
    only A reports wind. B must fall back to 0, not take A's value from
    a shared (year, null, null) group (Weather_API.py:352-371 joins the
    means back on coordinates, where null keys never match)."""
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.schemas import NOAA_LONG_SCHEMA
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver

    date = "2024-03-01T00:00:00"
    landing = spark.createDataFrame(
        [
            (date, "NODIM_A", 10.0, 20.0, "AWND", 50.0, 1),
            (date, "NODIM_A", 10.0, 20.0, "TMAX", 12.0, 1),
            (date, "NODIM_B", 30.0, 40.0, "TMAX", 14.0, 1),
        ],
        NOAA_LONG_SCHEMA,
    )
    rows = {
        r.station: r for r in build_silver(build_bronze(landing), station_dim).collect()
    }
    assert set(rows) == {"NODIM_A", "NODIM_B"}
    assert rows["NODIM_A"].latitude is None and rows["NODIM_B"].latitude is None
    assert rows["NODIM_A"].avg_wind_speed == 50.0
    assert rows["NODIM_B"].avg_wind_speed == 0.0
    assert rows["NODIM_B"].wind_direction_2min == 0



@pytest.mark.parametrize("date", ["2023/01/03", "2023-02-30T00:00:00"])
def test_silver_malformed_date_fails_the_job(spark, station_dim, date):
    """A date Silver cannot parse fails the job (ANSI casts, on by
    default in Spark 4); it never becomes a silent null ``Date_1``."""
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.schemas import NOAA_LONG_SCHEMA
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver

    sid, _name, lat, lon = STATIONS[0]
    landing = spark.createDataFrame(
        [(date, sid, lat, lon, "TMAX", 12.0, 1)], NOAA_LONG_SCHEMA
    )
    with pytest.raises(
        Exception, match="CAST_INVALID_INPUT|CANNOT_PARSE_TIMESTAMP"
    ):
        build_silver(build_bronze(landing), station_dim).collect()

def test_silver_write_is_one_sorted_file_per_year(spark, silver, tmp_path):
    """The year-partitioned sink writes one file per year, its rows in
    (station, Date_1) order, every column chunk zstd-compressed. AQE
    coalescing is off so that a shuffle spreading a year over several
    tasks would show as several files."""
    import pyarrow.parquet as pq

    from weather_analysis_bigdata__spark.sources.files import write_parquet

    out = str(tmp_path / "silver")
    with _session_conf(spark, "spark.sql.adaptive.coalescePartitions.enabled", "false"):
        write_parquet(silver, out, partition_by=("year",))
    parts = sorted(d for d in os.listdir(out) if d.startswith("year="))
    assert parts == ["year=2023", "year=2024"]
    for d in parts:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
        t = pq.read_table(os.path.join(out, d, files[0]), columns=["station", "Date_1"])
        keys = list(zip(t.column("station").to_pylist(), t.column("Date_1").to_pylist()))
        assert len(keys) > 0 and keys == sorted(keys), d
        meta = pq.ParquetFile(os.path.join(out, d, files[0])).metadata
        codecs = {
            meta.row_group(rg).column(c).compression
            for rg in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
        assert codecs == {"ZSTD"}, (d, codecs)


def test_rebuild_years_replaces_only_its_years(spark, station_dim, tmp_path):
    """Under Spark's default static overwrite mode, rebuilding one year
    leaves every other year's files byte-identical, and the rebuilt year
    equals the same year of a fresh full build."""
    from weather_analysis_bigdata__spark.pipeline.backfill import rebuild_years
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.schemas import (
        NOAA_LONG_SCHEMA,
        SILVER_COLUMNS,
    )
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver
    from weather_analysis_bigdata__spark.sources.files import write_parquet

    landing = spark.createDataFrame(
        noaa_long_rows(years=(2022, 2023, 2024)), NOAA_LONG_SCHEMA
    )
    full = build_silver(build_bronze(landing), station_dim)
    out = str(tmp_path / "silver")
    with _session_conf(spark, "spark.sql.sources.partitionOverwriteMode", "static"):
        write_parquet(full, out, partition_by=("year",))
        before = _parquet_files(out)
        rebuild_years(landing, station_dim, out, [2023])
    after = _parquet_files(out)

    def untouched(files):
        return {p: h for p, h in files.items() if not p.startswith("year=2023")}

    assert {p.split(os.sep)[0] for p in before} == {
        "year=2022", "year=2023", "year=2024"
    }
    assert untouched(after) == untouched(before)
    rebuilt = spark.read.parquet(out).filter(F.col("year") == 2023).select(*SILVER_COLUMNS)
    fresh = full.filter(F.col("year") == 2023)
    assert rebuilt.count() > 0
    assert rebuilt.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(rebuilt).count() == 0


def test_rebuild_years_prunes_a_year_partitioned_landing(
    spark, station_dim, tmp_path, monkeypatch
):
    """On a landing hive-partitioned by year, the rebuild reads only its
    years' directories (a partition filter on ``year``), its year equals
    a fresh full build, and a record filed under another year than its
    date's fails the job instead of dropping out."""
    import math
    from operator import attrgetter

    from weather_analysis_bigdata__spark.pipeline import backfill
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.schemas import (
        NOAA_LONG_SCHEMA,
        SILVER_COLUMNS,
    )
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver
    from weather_analysis_bigdata__spark.plans.inspect import plan_of
    from weather_analysis_bigdata__spark.sources.files import write_parquet

    long_df = spark.createDataFrame(
        noaa_long_rows(years=(2022, 2023, 2024)), NOAA_LONG_SCHEMA
    )
    landing = str(tmp_path / "landing")
    write_parquet(long_df.withColumn("year", F.year("date")), landing, ("year",))
    written = []
    monkeypatch.setattr(
        backfill, "write_parquet",
        lambda df, *args, **kw: (written.append(df), write_parquet(df, *args, **kw)),
    )
    out = str(tmp_path / "silver")
    backfill.rebuild_years(spark.read.parquet(landing), station_dim, out, [2023])

    (scan,) = [
        line for line in plan_of(written[0]).splitlines()
        if line.startswith("PartitionFilters:")
    ]
    assert "year#" in scan, scan
    key = attrgetter("station", "date")
    rebuilt = sorted(spark.read.parquet(out).select(*SILVER_COLUMNS).collect(), key=key)
    fresh = sorted(
        build_silver(build_bronze(long_df), station_dim)
        .filter(F.col("year") == 2023).collect(),
        key=key,
    )
    assert rebuilt and len(rebuilt) == len(fresh)
    for a, b in zip(rebuilt, fresh):
        assert all(
            math.isclose(x, y, rel_tol=1e-9) if isinstance(x, float) else x == y
            for x, y in zip(a, b)
        ), (a, b)

    sid, _name, lat, lon = STATIONS[0]
    misfiled = spark.createDataFrame(
        [("2022-06-01T00:00:00", sid, lat, lon, "TMAX", 12.0, 10**9)],
        NOAA_LONG_SCHEMA,
    ).withColumn("year", F.lit(2023))
    write_parquet(misfiled, landing, ("year",), mode="append")
    with pytest.raises(Exception, match="filed under year=2023"):
        backfill.rebuild_years(spark.read.parquet(landing), station_dim, out, [2023])


# ------------------------------------------------------------------ Gold

def test_gold_per_station_series_ordered(silver):
    from weather_analysis_bigdata__spark.pipeline.gold import per_station_series

    sid = STATIONS[1][0]
    rows = per_station_series(silver, sid).collect()
    assert rows
    dates = [r.Date_1 for r in rows]
    assert dates == sorted(dates)


def test_gold_yearly_trend_and_corr_finite(silver):
    from weather_analysis_bigdata__spark.pipeline.gold import (
        precipitation_temperature_corr,
        yearly_trend,
    )

    t = yearly_trend(silver).first()
    assert t.slope is not None and t.intercept is not None
    c = precipitation_temperature_corr(silver).first()
    assert c.corr is None or -1.0 <= c.corr <= 1.0


def test_gold_station_month_mean_granularity(silver):
    from weather_analysis_bigdata__spark.pipeline.gold import (
        station_month_mean,
        station_month_year_mean,
    )

    sm = station_month_mean(silver, "avg_temperature_rounded")
    assert sm.count() == sm.select("station", "month").distinct().count()
    smy = station_month_year_mean(silver, "precipitation")
    assert smy.count() <= 4 * 2 * 12  # stations × years × months


def test_gold_station_remap(silver, station_dim):
    from weather_analysis_bigdata__spark.pipeline.gold import remap_station_names

    out = remap_station_names(silver.select("station").distinct(), station_dim)
    names = {r.station for r in out.collect()}
    assert names == {name for _sid, name, _la, _lo in STATIONS}


def test_gold_station_remap_keeps_unmapped_ids_and_columns(spark, station_dim):
    from weather_analysis_bigdata__spark.pipeline.gold import remap_station_names

    sid, name, _la, _lo = STATIONS[0]
    df = spark.createDataFrame(
        [(1, sid, 2.5), (2, "UNMAPPED01", 3.5)], "month int, station string, v double"
    )
    out = remap_station_names(df, station_dim)
    assert out.columns == df.columns
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, name, 2.5), (2, "UNMAPPED01", 3.5)
    ]
