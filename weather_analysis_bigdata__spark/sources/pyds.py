"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API).

The reference ingests weather rows by paginating a REST API inside the
driver loop (Weather_API.py:50-113); sources/noaa.py re-expressed that
as a partitioned mapInPandas fetch. This module goes one step further
and packages ingestion as a first-class **pluggable connector**: a
``DataSource`` with named registration, options, a declared schema, and
one ``InputPartition`` per station — Spark schedules each partition's
``read()`` on an executor, so ingestion scales horizontally exactly
like any other scan and composes with every downstream operator
(filters on the declared schema still prune columns Spark-side).

The payload here is a deterministic synthetic weather generator
(integer-derived, so the DuckDB oracle can reproduce it bit-for-bit);
swapping the generator body for real HTTP calls (the noaa.py fetch
logic) turns it into a live connector without touching the API surface.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


def _row(i: int, d: int) -> tuple:
    """Station ``i``'s observation on day ``d``: integer-derived weather,
    exactly reproducible anywhere."""
    return (
        f"STATION_{i}",
        d,
        ((i * 37 + d * 13) % 400 - 100) / 10.0,
        ((i * 7 + d * 3) % 250) / 10.0,
    )


class StationPartition(InputPartition):
    def __init__(self, station_idx: int):
        self.station_idx = station_idx


class SyntheticWeatherReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_stations = int(options.get("stations", 5))
        self.n_days = int(options.get("days", 365))

    def partitions(self) -> list[InputPartition]:
        # One partition per station: the unit of parallel ingest.
        return [StationPartition(i) for i in range(self.n_stations)]

    def read(self, partition: StationPartition) -> Iterator[tuple]:
        return (_row(partition.station_idx, d) for d in range(self.n_days))


class SyntheticWeatherStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch reader: offset = {"day": d}; each batch emits one
    day's observations for every station, until ``days`` is exhausted
    (then empty batches — the source is bounded, so replay tests can
    wait for exactly stations×days rows).

    ``readBetweenOffsets`` regenerates any [start, end) range exactly —
    the replay contract that gives a custom Python source end-to-end
    exactly-once semantics after failure: determinism IS the recovery
    story, the same property every oracle in this repo relies on.
    """

    def __init__(self, options: dict):
        self.n_stations = int(options.get("stations", 5))
        self.n_days = int(options.get("days", 30))

    def initialOffset(self) -> dict:
        return {"day": 0}

    def read(self, start: dict):
        d = start["day"]
        if d >= self.n_days:
            return iter([]), {"day": d}
        return self.readBetweenOffsets(start, {"day": d + 1}), {"day": d + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter([
            _row(i, d)
            for d in range(start["day"], end["day"])
            for i in range(self.n_stations)
        ])


class SyntheticWeatherDataSource(DataSource):
    """``spark.read.format("synthetic_weather").option("days", N)`` (365
    days by default) and ``spark.readStream.format("synthetic_weather")``
    (30 days by default): one schema and one row function for both."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_weather"

    def schema(self) -> str:
        return "station string, day int, tmax_c double, prcp_mm double"

    def reader(self, schema) -> DataSourceReader:
        return SyntheticWeatherReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return SyntheticWeatherStreamReader(self.options)


def register_synthetic_weather(spark) -> None:
    """Idempotent registration of the connector on a session."""
    spark.dataSource.register(SyntheticWeatherDataSource)


def stream_weather_to_memory(
    spark, stations: int = 5, days: int = 30, timeout_s: float = 120.0
):
    """Run the streaming source to exhaustion into a memory sink and
    return the sink table as a DataFrame (stations×days rows)."""
    import time
    import uuid

    register_synthetic_weather(spark)
    name = f"pyds_stream_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("synthetic_weather")
        .option("stations", str(stations))
        .option("days", str(days))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    expect = stations * days
    deadline = time.time() + timeout_s
    try:
        while True:
            # Surface a failed source IMMEDIATELY — without this check a
            # source error silently burns the whole timeout and shows up
            # downstream as a confusing row-count mismatch.
            exc = q.exception()
            if exc is not None:
                raise exc
            if spark.table(name).count() >= expect:
                break
            if time.time() >= deadline:
                raise TimeoutError(
                    f"stream_weather_to_memory: {spark.table(name).count()}"
                    f"/{expect} rows after {timeout_s:.0f}s "
                    f"(query {name} still running, no exception)"
                )
            time.sleep(0.2)
    finally:
        q.stop()
    return spark.table(name)
