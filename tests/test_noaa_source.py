"""NOAA connector tests with a deterministic fake HTTP layer —
pagination, whitelist pushdown, distributed fetch, end-to-end into the
Bronze pivot."""

from __future__ import annotations

import pytest

from tests.fixtures import DATATYPES


def fake_http_get(url: str, params: dict) -> dict:
    """Deterministic NOAA-shaped responder: 2.5 pages of records per
    station-year (limit/offset honored), plus metadata lookups."""
    if url.endswith("/data") or "cdo-web/api/v2/data" in url:
        station = params["stationid"]
        year = int(params["startdate"][:4])
        total = 2500  # forces 3 pages at limit=1000
        offset = params["offset"] - 1
        limit = params["limit"]
        results = []
        for i in range(offset, min(offset + limit, total)):
            dt = DATATYPES[i % len(DATATYPES)] if i % 11 else "PSUN"  # rogue
            day = i % 28 + 1
            results.append(
                {
                    "date": f"{year}-01-{day:02d}T00:00:00",
                    "station": station,
                    "datatype": dt,
                    "value": float(i % 300) / 10,
                    "latitude": 40.0,
                    "longitude": -70.0,
                }
            )
        return {"results": results}
    # station metadata endpoint
    sid = url.rsplit("/", 1)[-1]
    return {"name": f"STATION {sid[-4:]}", "latitude": 41.5, "longitude": -71.25}


def test_pagination_visits_all_pages():
    from weather_analysis_bigdata__spark.sources.noaa import fetch_station_year

    recs = list(fetch_station_year("GHCND:X1", 2020, fake_http_get))
    assert len(recs) == 2500


def test_distributed_ingest_and_pivot(spark):
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.sources.noaa import distributed_ingest

    long_df = distributed_ingest(
        spark, ["GHCND:X1", "GHCND:X2"], [2020, 2021], fake_http_get
    )
    # whitelist applied at the source: no rogue datatypes shipped
    assert long_df.filter(long_df.datatype == "PSUN").count() == 0
    n = long_df.count()
    assert n == 4 * (2500 - 2500 // 11 - 1)  # per slice minus rogue rows
    bronze = build_bronze(long_df)
    assert bronze.count() == 2 * 2 * 28  # stations × years × distinct days
    assert "max_temperature" in bronze.columns


def test_station_metadata_lookup():
    from weather_analysis_bigdata__spark.sources.noaa import station_metadata

    rows = station_metadata(["GHCND:A", "GHCND:B"], fake_http_get)
    assert len(rows) == 2
    assert rows[0][1].startswith("STATION")
    assert rows[0][2] == 41.5



def test_record_without_value_fails_naming_it(spark):
    """A /data record with no ``value`` is not a reading of 0.0: the
    ingest fails and names the station, date and datatype."""
    from weather_analysis_bigdata__spark.sources.noaa import distributed_ingest

    def http_get(url, params):
        page = fake_http_get(url, params)
        if params["offset"] == 1:
            del page["results"][1]["value"]  # a whitelisted SNOW record
        return page

    rec = fake_http_get(
        "cdo-web/api/v2/data",
        {"stationid": "GHCND:X1", "startdate": "2020-01-01", "offset": 1, "limit": 2},
    )["results"][1]
    with pytest.raises(Exception, match="NOAA record without a value") as err:
        distributed_ingest(spark, ["GHCND:X1"], [2020], http_get).collect()
    assert f"station GHCND:X1, date {rec['date']}, datatype {rec['datatype']}" in str(
        err.value
    )


def test_station_without_coordinates_is_not_placed_at_zero():
    """A station lookup without coordinates yields ``None``, not
    (0.0, 0.0) at Null Island."""
    from weather_analysis_bigdata__spark.sources.noaa import station_metadata

    def http_get(url, params):
        meta = fake_http_get(url, params)
        if url.endswith("GHCND:B"):
            del meta["latitude"], meta["longitude"]
        return meta

    rows = station_metadata(["GHCND:A", "GHCND:B"], http_get)
    assert rows[0][2:] == (41.5, -71.25)
    assert rows[1][2:] == (None, None)

def test_requests_layer_is_import_gated():
    from weather_analysis_bigdata__spark.sources import noaa

    try:
        import requests  # noqa: F401

        pytest.skip("requests installed; gate not exercised")
    except ImportError:
        with pytest.raises(ImportError):
            noaa._requests_http_get("tok")
