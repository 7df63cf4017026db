"""NOAA CDO v2 API connector → long-format DataFrame.

The reference fetches station-years in a single-threaded driver loop
with 1 req/s throttling (Weather_API.py:48-112) — hours of wall time for
5 stations × 75 years, and fundamentally driver-bound. Here ingestion is
a **partitioned fetch**: a (station, year) task table is distributed
across executors and each partition pages its slice of the API via
``mapInPandas`` (SURVEY.md §2.1 S1). The emitted shape is the long
format the Bronze aggregate consumes (pipeline/schemas.NOAA_LONG_SCHEMA).

The HTTP layer is injectable: tests pass a fake ``http_get``; production
uses ``requests`` if installed (import-gated — not baked into this
container). Nothing throttles requests: each task pages its slices one
request at a time, so the number of concurrently running tasks bounds
the request rate.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_analysis_bigdata__spark.pipeline.schemas import (
    COLUMNS_MAPPING,
    NOAA_LONG_SCHEMA,
)

BASE_URL = "https://www.ncei.noaa.gov/cdo-web/api/v2/data"
PAGE_LIMIT = 1000  # rows per request (Weather_API.py:23)

HttpGet = Callable[[str, dict], dict]
"""(url, params) -> parsed-JSON response dict (NOAA shape: {"results": [...]})"""


def _requests_http_get(token: str) -> HttpGet:
    """Production HTTP layer (requests is import-gated)."""
    import requests  # noqa: PLC0415 — optional dependency

    def get(url: str, params: dict) -> dict:
        r = requests.get(url, params=params, headers={"token": token}, timeout=60)
        r.raise_for_status()
        return r.json()

    return get


def fetch_station_year(
    station: str, year: int, http_get: HttpGet
) -> Iterator[dict]:
    """Page one station-year (limit/offset until an empty page —
    Weather_API.py:54-95) and yield raw NOAA records."""
    offset = 1
    while True:
        page = http_get(
            BASE_URL,
            {
                "datasetid": "GHCND",
                "stationid": station,
                "startdate": f"{year}-01-01",
                "enddate": f"{year}-12-31",
                "limit": PAGE_LIMIT,
                "offset": offset,
                "units": "metric",
            },
        )
        results = page.get("results") or []
        if not results:
            return
        yield from results
        if len(results) < PAGE_LIMIT:
            return
        offset += PAGE_LIMIT


def distributed_ingest(
    spark: SparkSession,
    stations: list[str],
    years: list[int],
    http_get: HttpGet,
    tasks_per_partition: int = 4,
) -> DataFrame:
    """Fetch all (station, year) slices in parallel across executors.

    The task table is tiny; repartitioning it spreads API calls evenly.
    Each output row carries a per-slice ``seq`` so the Bronze aggregate's
    last-write-wins policy is deterministic. At real scale the API is
    the bottleneck; the concurrently running tasks (one request in
    flight each) bound the load on it.
    """
    tasks = [(s, y) for s in stations for y in years]
    n_parts = max(1, len(tasks) // tasks_per_partition)
    task_df = spark.createDataFrame(tasks, "station string, year int").repartition(
        n_parts, "station", "year"
    )

    def fetch_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for station, year in pdf.itertuples(index=False):
                for seq, rec in enumerate(
                    fetch_station_year(station, int(year), http_get)
                ):
                    if rec.get("datatype") not in COLUMNS_MAPPING:
                        continue  # whitelist early: don't ship dead rows
                    sid = rec.get("station", station)
                    if rec.get("value") is None:  # no reading: never invent one
                        raise ValueError(
                            f"NOAA record without a value: station {sid}, "
                            f"date {rec.get('date')}, datatype {rec['datatype']}"
                        )
                    rows.append(
                        {
                            "date": rec.get("date"),
                            "station": sid,
                            "latitude": rec.get("latitude"),
                            "longitude": rec.get("longitude"),
                            "datatype": rec["datatype"],
                            "value": float(rec["value"]),
                            "seq": seq,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in NOAA_LONG_SCHEMA.fields],
            )

    return task_df.mapInPandas(fetch_batches, NOAA_LONG_SCHEMA)


def station_metadata(
    stations: list[str], http_get: HttpGet
) -> list[tuple[str, str, float | None, float | None]]:
    """Point lookups for the station dimension (Weather_API.py:245-267) —
    a handful of rows; runs on the driver by design. A coordinate the
    lookup lacks is ``None`` (Silver and the geo map handle it), not 0.0."""
    out = []
    for sid in stations:
        meta = http_get(
            f"https://www.ncei.noaa.gov/cdo-web/api/v2/stations/{sid}", {}
        )
        out.append(
            (
                sid,
                meta.get("name", sid),
                *(None if meta.get(k) is None else float(meta[k])
                  for k in ("latitude", "longitude")),
            )
        )
    return out
