"""Gold answers kept per input-file version (``pipeline/gold.py::served``):
a repeated request over unchanged files runs no Spark job, a rewritten
file is never served stale, and anything but a file scan passes
through."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.fixtures import noaa_long_rows, station_dim_rows
from weather_analysis_bigdata__spark.pipeline import gold
from weather_analysis_bigdata__spark.plans.inspect import jobs_and_stages


@pytest.fixture(autouse=True)
def empty_memo():
    with gold._memo_lock:
        gold._memo.clear()


@pytest.fixture
def written(spark, tmp_path):
    """The fixture Silver written year-partitioned, and the station dim
    written as one Parquet file: (silver path, dim path)."""
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.schemas import (
        NOAA_LONG_SCHEMA,
        STATION_SCHEMA,
    )
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver
    from weather_analysis_bigdata__spark.sources.files import write_parquet

    long_df = spark.createDataFrame(noaa_long_rows(), NOAA_LONG_SCHEMA)
    dim = spark.createDataFrame(station_dim_rows(), STATION_SCHEMA)
    silver, dim_path = str(tmp_path / "silver"), str(tmp_path / "dim")
    write_parquet(build_silver(build_bronze(long_df), dim), silver, ("year",))
    write_parquet(dim, dim_path)
    return silver, dim_path


def _is_served(df) -> bool:
    return df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"


def test_third_identical_request_runs_no_job(spark, written):
    """The first sight returns the built frame, the second keeps its
    answer, and the third collects that answer with no job or stage."""
    silver, _ = written
    first = gold.yearly_trend(spark.read.parquet(silver))
    assert not _is_served(first)
    want = first.collect()
    assert _is_served(gold.yearly_trend(spark.read.parquet(silver)))
    third = gold.yearly_trend(spark.read.parquet(silver))
    got = []
    assert jobs_and_stages(spark, lambda: got.extend(third.collect())) == (0, 0)
    assert got == want


def test_rewritten_year_is_never_served_stale(spark, written):
    """After one year is rewritten through the Parquet sink, the same
    request answers from the new files: the key holds every input
    file's identity, not only the plan over the Silver directory."""
    from weather_analysis_bigdata__spark.sources.files import write_parquet

    silver, _ = written
    old = [gold.yearly_mean_temperature(spark.read.parquet(silver)).collect()
           for _ in range(2)][-1]
    year = spark.read.parquet(silver).filter(F.col("year") == 2024)
    warmer = spark.createDataFrame(
        year.withColumn(
            "avg_temperature_rounded", F.col("avg_temperature_rounded") + 5.0
        ).collect(),
        year.schema,
    )
    write_parquet(warmer, silver, ("year",))
    reopened = spark.read.parquet(silver)
    got = sorted(gold.yearly_mean_temperature(reopened).collect())
    want = sorted(gold.yearly_mean_temperature.__wrapped__(reopened).collect())
    assert got == want
    assert got != sorted(old)


@pytest.mark.parametrize("kind", ["in_memory", "rdd", "cached"])
def test_frames_not_read_from_files_pass_through(spark, written, kind):
    """An in-memory, an RDD-backed and a cached Silver are never kept:
    every request gets its built frame and runs its jobs."""
    silver, _ = written
    read = spark.read.parquet(silver)
    frame = {
        "in_memory": lambda: spark.createDataFrame(read.collect(), read.schema),
        "rdd": lambda: spark.createDataFrame(read.rdd, read.schema),
        "cached": lambda: read.cache(),
    }[kind]()
    try:
        frame.count()
        built = gold.station_month_mean.__wrapped__(frame, "precipitation")
        want = jobs_and_stages(spark, built.collect)
        for _ in range(3):
            assert gold.served(built) is built
            df = gold.station_month_mean(frame, "precipitation")
            assert not _is_served(df)
            assert jobs_and_stages(spark, df.collect) == want
        assert not gold._memo
    finally:
        frame.unpersist()


def test_memo_keeps_at_most_memo_entries(spark, written, monkeypatch):
    """The least recently used request is evicted past the bound: its
    next sight is a first sight again."""
    silver, _ = written
    monkeypatch.setattr(gold, "MEMO_ENTRIES", 2)

    def request(col):
        return gold.station_month_mean(spark.read.parquet(silver), col)

    for _ in range(2):
        request("precipitation")
    assert _is_served(request("precipitation"))
    request("avg_wind_speed")
    request("avg_temperature_rounded")
    assert len(gold._memo) == 2
    assert not _is_served(request("precipitation"))


def test_entry_is_never_served_on_another_session(spark, written):
    silver, _ = written
    for _ in range(3):
        df = gold.precipitation_temperature_corr(spark.read.parquet(silver))
    assert _is_served(df)
    other = spark.newSession()
    df = gold.precipitation_temperature_corr(other.read.parquet(silver))
    assert not _is_served(df) and df.sparkSession is other


def test_remap_over_a_served_frame_is_served(spark, written):
    """A served frame's rows are part of its canonical plan, so the
    remap of it over the dim file is a repeatable request too."""
    silver, dim = written

    def named():
        sm = gold.station_month_mean(spark.read.parquet(silver), "precipitation")
        return gold.remap_station_names(sm, spark.read.parquet(dim))

    want = sorted(gold.remap_station_names.__wrapped__(
        gold.station_month_mean.__wrapped__(
            spark.read.parquet(silver), "precipitation"
        ),
        spark.read.parquet(dim),
    ).collect())
    for _ in range(3):
        df = named()
    assert _is_served(df)
    assert sorted(df.collect()) == want


def test_repeated_geo_map_runs_no_job(spark, written, tmp_path):
    """The geo map reads its station table through the memo too: once
    its frames and stations are kept, a repeated map runs no job."""
    from weather_analysis_bigdata__spark.viz import render_geo_map

    silver, dim = written

    def render():
        frames = gold.station_month_year_mean(
            spark.read.parquet(silver).filter(F.col("year") == 2024),
            "avg_temperature_rounded",
        )
        stations = spark.read.parquet(dim).withColumnRenamed("station_id", "station")
        return lambda: render_geo_map(
            frames, stations, "avg_avg_temperature_rounded",
            str(tmp_path / "geo.svg"),
        )

    first = render()
    assert jobs_and_stages(spark, first)[0] >= 2
    render()()
    svg = (tmp_path / "geo.svg").read_text()
    third = render()
    assert jobs_and_stages(spark, third) == (0, 0)
    assert (tmp_path / "geo.svg").read_text() == svg


def test_admission_that_raises_keeps_nothing(spark, written, tmp_path):
    """A second sight whose collect fails keeps no answer: the request
    gets its built frame, and its own collect raises as before."""
    from weather_analysis_bigdata__spark.pipeline.schemas import STATION_SCHEMA
    from weather_analysis_bigdata__spark.sources.files import write_parquet

    silver, _ = written
    dup = str(tmp_path / "dup_dim")
    write_parquet(
        spark.createDataFrame(
            [*station_dim_rows(), station_dim_rows()[0]], STATION_SCHEMA
        ),
        dup,
    )
    for _ in range(3):
        df = gold.remap_station_names(
            spark.read.parquet(silver).select("station").distinct(),
            spark.read.parquet(dup),
        )
        assert not _is_served(df)
        with pytest.raises(Exception, match="is listed 2 times"):
            df.collect()
    assert gold._memo and all(v is None for v in gold._memo.values())
