"""Golden-output + layout tests for the 100k-row weather rehearsal
(pipeline/rehearsal.py): the reference's intended EXPECTED_ROWS dataset
through the real Bronze→Silver→Gold modules, Silver partitioned by year.

Golden values are pinned from the deterministic generator (pure hash
functions — any drift means the pipeline or generator changed
semantics). The year-partition pruning contract is pinned on the plan.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def rehearsal(spark, tmp_path_factory):
    from weather_analysis_bigdata__spark.pipeline.rehearsal import run_rehearsal

    out = str(tmp_path_factory.mktemp("rehearsal_silver"))
    return run_rehearsal(spark, out), out


def test_silver_row_count_is_one_per_date_station(rehearsal, spark):
    r, out = rehearsal
    # 2000 distinct days × 5 stations = 10000 wide rows (every group has
    # ≥1 surviving measurement at these drop rates)
    assert r["n_silver_rows"] == 10000
    back = spark.read.parquet(out)
    assert back.select("Date_1", "station").distinct().count() == 10000


def test_written_layout_partitioned_by_year(rehearsal):
    _, out = rehearsal
    parts = sorted(d for d in os.listdir(out) if d.startswith("year="))
    assert len(parts) == 72  # 1950..2021 with stride-13 day coverage
    assert parts[0] == "year=1950" and parts[-1] == "year=2021"
    # Silver is clustered on year, so each write lands one file per year
    for d in parts:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_year_filter_prunes_partitions(rehearsal, spark):
    _, out = rehearsal
    plan = (
        spark.read.parquet(out)
        .filter(F.col("year") == 1960)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "1960" in plan
    # the scan must NOT read all partitions: pruned plan lists the filter
    assert "year#" in plan


def test_golden_yearly_aggregates(rehearsal):
    r, _ = rehearsal
    yearly = {
        row.year: (row.n_days, round(row.avg_temperature, 6))
        for row in r["yearly"].collect()
    }
    assert len(yearly) == 72
    # pinned golden values (deterministic md5-derived data)
    assert yearly[1950] == (145, 9.806552)
    assert yearly[1999] == (140, 9.273929)
    assert yearly[2021] == (25, 11.5)


def test_golden_trend(rehearsal):
    r, _ = rehearsal
    t = r["trend"].first()
    assert t.slope == pytest.approx(-0.0072669971173284255, rel=1e-12)
    assert t.intercept == pytest.approx(24.102483271803152, rel=1e-12)


def test_station0_wind_imputed_to_zero(rehearsal, spark):
    """Station idx 0 (NY) reports no wind at all → the whole-group-null
    imputation fallback must land 0 everywhere, never null."""
    _, out = rehearsal
    back = spark.read.parquet(out)
    ny = back.filter(F.col("station") == "GHCND:USW00094728")
    assert ny.filter(F.col("avg_wind_speed").isNull()).count() == 0
    assert ny.filter(F.col("avg_wind_speed") != 0.0).count() == 0


def test_rehearsal_gallery_renders_reference_figures(rehearsal, spark, tmp_path):
    """The viz gallery must render from the 100k-row rehearsal silver —
    the actual 5-station / 72-year deliverable set the notebook plots,
    including the SMIL-animated geo map over the real coordinates."""
    import xml.etree.ElementTree as ET

    from weather_analysis_bigdata__spark.pipeline.rehearsal import (
        REHEARSAL_STATIONS,
        station_dim_df,
    )
    from weather_analysis_bigdata__spark.viz import render_gallery

    _, out = rehearsal
    silver = spark.read.parquet(out)
    files = render_gallery(silver, station_dim_df(spark), str(tmp_path / "g"))
    assert len(files) == 5
    svgns = "{http://www.w3.org/2000/svg}"
    geo = next(p for p in files if p.endswith("geo_map.svg"))
    root = ET.parse(geo).getroot()
    circles = root.findall(f".//{svgns}circle")
    assert len(circles) == len(REHEARSAL_STATIONS)
    # every station animates through all ~72*12 month-year frames
    anim = circles[0].find(f"{svgns}animate")
    assert len(anim.get("values").split(";")) > 500
