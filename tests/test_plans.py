"""Plan-contract regression tests: the physical plans that matter at
100 TB, pinned as assertions (SURVEY.md §4 — broadcast dims, pushdown,
shuffle budgets, TakeOrdered top-k, column pruning)."""

from __future__ import annotations

import math
import re

import pytest

from weather_analysis_bigdata__spark.plans.inspect import (
    exchange_keys,
    has_take_ordered,
    jobs_and_stages,
    n_global_windows,
    n_broadcast_joins,
    n_shuffles,
    n_sortmerge_joins,
    plan_of,
    pushed_filters,
    scan_columns,
)


@pytest.fixture(scope="module")
def registry():
    from weather_analysis_bigdata__spark.registry import all_queries

    return all_queries()


def test_dim_join_broadcasts_not_sortmerge(spark, sf_dir, registry):
    plan = plan_of(registry["j1_left_join_dim"].fn(spark, sf_dir))
    assert n_broadcast_joins(plan) >= 1
    assert n_sortmerge_joins(plan) == 0


def test_snowflake_q5_broadcasts_dim_chain(spark, sf_dir, registry):
    plan = plan_of(registry["q5_regional_revenue"].fn(spark, sf_dir))
    assert n_broadcast_joins(plan) >= 3  # region, nation, customer chain
    assert n_sortmerge_joins(plan) == 0


def test_topk_is_take_ordered_no_shuffle(spark, sf_dir, registry):
    plan = plan_of(registry["o2_topk"].fn(spark, sf_dir))
    assert has_take_ordered(plan)
    assert n_shuffles(plan) == 0


def test_q3_filter_pushed_to_scan(spark, sf_dir, registry):
    plan = plan_of(registry["q3_shipping_priority"].fn(spark, sf_dir))
    assert any("c_mktsegment" in f and "BUILDING" in f for f in pushed_filters(plan))


def test_grouped_agg_single_shuffle(spark, sf_dir, registry):
    plan = plan_of(registry["a1_group_multi_avg"].fn(spark, sf_dir))
    assert n_shuffles(plan) == 1  # partial+final hash agg, one exchange


def test_window_impute_single_shuffle(spark, sf_dir, registry):
    """The window rewrite of the reference's agg+self-join imputation
    (SURVEY §2.4 J2) must cost exactly one shuffle."""
    plan = plan_of(registry["j2_group_mean_impute"].fn(spark, sf_dir))
    assert n_shuffles(plan) == 1


def test_rowlocal_text_ops_shuffle_free(spark, sf_dir, registry):
    for name in ("text_token_stats", "text_quality_filter", "multimodal_decode_stub"):
        plan = plan_of(registry[name].fn(spark, sf_dir))
        assert n_shuffles(plan) == 0, name


def test_column_pruning_reaches_scan(spark, sf_dir, registry):
    """o1 selects 3 of orders' 9 columns — the scan must read only those."""
    plan = plan_of(registry["o1_filtered_series"].fn(spark, sf_dir))
    cols = scan_columns(plan)
    assert cols and all(
        c <= {"o_orderkey", "o_orderdate", "o_totalprice", "o_custkey"} for c in cols
    ), cols


def test_sessionize_windows_and_agg_share_one_shuffle(spark, sf_dir, registry):
    """lag, prefix-sum and the session rollup all partition by user_id —
    Catalyst must plan a single exchange, reusing the partitioning."""
    plan = plan_of(registry["events_sessionize_30m"].fn(spark, sf_dir))
    assert n_shuffles(plan) == 1


def test_range_band_join_is_broadcast_nested_loop(spark, sf_dir, registry):
    """The interval-dim join must broadcast the band side (nested-loop
    probe, no shuffle of the fact side before the final aggregate)."""
    plan = plan_of(registry["range_band_join"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert n_sortmerge_joins(plan) == 0


def test_unpivot_is_shuffle_free(spark, sf_dir, registry):
    """Unpivot is an Expand evaluated in the scan stage — no exchange."""
    plan = plan_of(registry["unpivot_measures"].fn(spark, sf_dir))
    assert n_shuffles(plan) == 0


def test_bronze_is_one_hash_aggregate_one_shuffle(spark):
    """Bronze folds the long→wide pivot and last-write-wins into one
    grouped aggregate: exactly one shuffle, and no sort-based aggregate
    (a struct-ordered tie-break would plan as Sort + SortAggregate)."""
    from tests.fixtures import noaa_long_rows
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.schemas import NOAA_LONG_SCHEMA

    long_df = spark.createDataFrame(noaa_long_rows(), NOAA_LONG_SCHEMA)
    plan = plan_of(build_bronze(long_df))
    assert n_shuffles(plan) == 1, plan
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan, plan


def test_exchange_keys_names_bronze_group_keys(spark):
    """exchange_keys strips ``#id`` suffixes and the partition count
    from each shuffle's hashpartitioning expression."""
    from tests.fixtures import noaa_long_rows
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.schemas import NOAA_LONG_SCHEMA

    long_df = spark.createDataFrame(noaa_long_rows(), NOAA_LONG_SCHEMA)
    keys = exchange_keys(plan_of(build_bronze(long_df)))
    assert keys == [["date", "station"]]


def test_silver_hashes_on_year_and_window_reuses_it(spark):
    """Silver's one shuffle is the hash on ``year``: the wind window's
    (year, latitude, longitude) clustering reuses it, so Bronze plus
    Silver plan two shuffles and the dim join stays broadcast."""
    from tests.fixtures import noaa_long_rows, station_dim_rows
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.schemas import (
        NOAA_LONG_SCHEMA,
        STATION_SCHEMA,
    )
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver

    long_df = spark.createDataFrame(noaa_long_rows(), NOAA_LONG_SCHEMA)
    dim = spark.createDataFrame(station_dim_rows(), STATION_SCHEMA)
    plan = plan_of(build_silver(build_bronze(long_df), dim))
    assert n_shuffles(plan) == 2, plan
    keys = exchange_keys(plan)
    assert keys == [["date", "station"], ["year"]], keys
    assert n_sortmerge_joins(plan) == 0


def test_per_station_series_sorts_on_one_reducer(spark):
    """A station's series ends in a single-partition exchange, not a
    range shuffle on ``Date_1``: no sampling job scans Silver twice."""
    from tests.fixtures import STATIONS, noaa_long_rows, station_dim_rows
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.gold import per_station_series
    from weather_analysis_bigdata__spark.pipeline.schemas import (
        NOAA_LONG_SCHEMA,
        STATION_SCHEMA,
    )
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver

    long_df = spark.createDataFrame(noaa_long_rows(), NOAA_LONG_SCHEMA)
    dim = spark.createDataFrame(station_dim_rows(), STATION_SCHEMA)
    silver = build_silver(build_bronze(long_df), dim)
    keys = exchange_keys(plan_of(per_station_series(silver, STATIONS[1][0])))
    assert keys[-1] == [], keys


@pytest.fixture(scope="module")
def written_silver(spark, tmp_path_factory):
    """The fixture Silver written year-partitioned and read back with
    ``spark.read.parquet``, the way a Gold request opens it."""
    from tests.fixtures import noaa_long_rows, station_dim_rows
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.schemas import (
        NOAA_LONG_SCHEMA,
        STATION_SCHEMA,
    )
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver
    from weather_analysis_bigdata__spark.sources.files import write_parquet

    long_df = spark.createDataFrame(noaa_long_rows(), NOAA_LONG_SCHEMA)
    dim = spark.createDataFrame(station_dim_rows(), STATION_SCHEMA)
    path = str(tmp_path_factory.mktemp("gold") / "silver")
    write_parquet(build_silver(build_bronze(long_df), dim), path, ("year",))
    return path


def _gold_requests(silver):
    """One DataFrame per Gold request kind, as the dashboard sends them."""
    from pyspark.sql import functions as F

    from tests.fixtures import STATIONS
    from weather_analysis_bigdata__spark.pipeline import gold

    return {
        "yearly_mean_temperature": gold.yearly_mean_temperature(silver),
        "yearly_trend": gold.yearly_trend(silver),
        "station_month_mean": gold.station_month_mean(silver, "precipitation"),
        "station_month_year_mean": gold.station_month_year_mean(
            silver.filter(F.col("year") == 2024), "avg_temperature_rounded"
        ),
        "precipitation_temperature_corr": gold.precipitation_temperature_corr(
            silver
        ),
        "per_station_series": gold.per_station_series(silver, STATIONS[1][0]),
    }


def _parallel(monkeypatch):
    """Put every Silver above the one-task threshold, for this test only."""
    from weather_analysis_bigdata__spark.sources import files

    monkeypatch.setattr(files, "GATHER_MAX_BYTES", 0)


def test_gold_on_small_silver_is_one_job_without_shuffle(spark, written_silver):
    """Below the threshold every Gold request reads Silver in one task:
    no Exchange, and the collect runs one job of one stage."""
    requests = _gold_requests(spark.read.parquet(written_silver))
    for name, df in requests.items():
        plan = plan_of(df)
        assert n_shuffles(plan) == 0, (name, plan)
        assert jobs_and_stages(spark, df.collect) == (1, 1), name


def test_gold_above_threshold_keeps_parallel_plan(
    spark, written_silver, monkeypatch
):
    """Above the threshold the aggregates keep partial and final
    HashAggregates around a shuffle (hashed on the group keys when there
    are any), and the series keeps its single-partition exchange."""
    _parallel(monkeypatch)
    requests = _gold_requests(spark.read.parquet(written_silver))
    series = requests.pop("per_station_series")
    assert exchange_keys(plan_of(series))[-1] == []
    for name, df in requests.items():
        plan = plan_of(df)
        assert n_shuffles(plan) >= 1, (name, plan)
        assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) >= 2, name
    for name in requests.keys() - {"precipitation_temperature_corr"}:
        assert any(exchange_keys(plan_of(requests[name]))), name


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def test_gold_answers_equal_on_one_task_and_parallel_paths(
    spark, written_silver, monkeypatch
):
    """The one-task path gives the parallel path's answers; only the
    order of float summation may differ."""
    def answers():
        return {
            name: df.collect() if name == "per_station_series" else sorted(
                df.collect(), key=lambda r: tuple(map(str, r))
            )
            for name, df in _gold_requests(spark.read.parquet(written_silver)).items()
        }

    one_task = answers()
    _parallel(monkeypatch)
    parallel = answers()
    for name, rows in one_task.items():
        assert rows and len(rows) == len(parallel[name]), name
        for a, b in zip(rows, parallel[name]):
            assert all(map(_close, a, b)), (name, a, b)


@pytest.fixture(scope="module")
def written_landing(spark, tmp_path_factory):
    """The fixture long rows written as a landing hive-partitioned by
    ``year``, the layout late batches are appended to."""
    from pyspark.sql import functions as F

    from tests.fixtures import noaa_long_rows
    from weather_analysis_bigdata__spark.pipeline.schemas import NOAA_LONG_SCHEMA
    from weather_analysis_bigdata__spark.sources.files import write_parquet

    long_df = spark.createDataFrame(noaa_long_rows(), NOAA_LONG_SCHEMA)
    path = str(tmp_path_factory.mktemp("landing") / "landing")
    write_parquet(long_df.withColumn("year", F.year("date")), path, ("year",))
    return path


def _rebuilt_silver(spark, landing, years):
    """Bronze and Silver of ``years`` of the written landing, read
    through a filter on its partition column."""
    from pyspark.sql import functions as F

    from tests.fixtures import station_dim_rows
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.schemas import STATION_SCHEMA
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver

    long_df = spark.read.parquet(landing).filter(F.col("year").isin(years))
    dim = spark.createDataFrame(station_dim_rows(), STATION_SCHEMA)
    return build_silver(build_bronze(long_df), dim)


def test_small_rebuild_plans_no_shuffle(spark, written_landing, monkeypatch):
    """Below the threshold Bronze and Silver over one landing year run
    in one task: no shuffle Exchange, the dim still broadcast. Above it
    the plan keeps its two shuffles, on (date, station) and on year."""
    plan = plan_of(_rebuilt_silver(spark, written_landing, [2024]))
    assert n_shuffles(plan) == 0, plan
    assert n_broadcast_joins(plan) == 1, plan
    _parallel(monkeypatch)
    plan = plan_of(_rebuilt_silver(spark, written_landing, [2024]))
    assert n_shuffles(plan) == 2, plan
    assert exchange_keys(plan) == [["date", "station"], ["year"]]


def test_small_rebuild_write_runs_fewer_jobs(
    spark, written_landing, tmp_path, monkeypatch
):
    """The one-task rebuild writes its years in fewer jobs than the
    parallel plan."""
    from weather_analysis_bigdata__spark.sources.files import write_parquet

    def jobs(out):
        silver = _rebuilt_silver(spark, written_landing, [2023, 2024])
        return jobs_and_stages(
            spark, lambda: write_parquet(silver, str(tmp_path / out), ("year",))
        )[0]

    one_task = jobs("one_task")
    _parallel(monkeypatch)
    parallel = jobs("parallel")
    assert one_task < parallel, (one_task, parallel)


def test_one_task_silver_equals_parallel_silver(
    spark, written_landing, monkeypatch
):
    """Silver from the one-task plan equals the parallel plan's; only
    the float summation order of the wind means may differ."""
    def rows():
        df = _rebuilt_silver(spark, written_landing, [2023, 2024])
        return n_shuffles(plan_of(df)), sorted(
            df.collect(), key=lambda r: (r.station, r.date)
        )

    shuffles, one_task = rows()
    assert shuffles == 0
    _parallel(monkeypatch)
    shuffles, parallel = rows()
    assert shuffles == 2
    assert one_task and len(one_task) == len(parallel)
    for a, b in zip(one_task, parallel):
        assert all(map(_close, a, b)), (a, b)


def test_one_task_write_lands_one_sorted_zstd_file_per_year(
    spark, written_landing, tmp_path
):
    """The one-task plan still writes one (station, Date_1)-sorted zstd
    file per ``year=`` directory."""
    import os

    import pyarrow.parquet as pq

    from weather_analysis_bigdata__spark.sources.files import write_parquet

    silver = _rebuilt_silver(spark, written_landing, [2023, 2024])
    assert n_shuffles(plan_of(silver)) == 0
    out = str(tmp_path / "silver")
    write_parquet(silver, out, ("year",))
    parts = sorted(d for d in os.listdir(out) if d.startswith("year="))
    assert parts == ["year=2023", "year=2024"]
    for d in parts:
        (name,) = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        f = pq.ParquetFile(os.path.join(out, d, name))
        t = f.read(columns=["station", "Date_1"])
        keys = list(zip(t.column("station").to_pylist(), t.column("Date_1").to_pylist()))
        assert keys and keys == sorted(keys), d
        meta = f.metadata
        assert {
            meta.row_group(rg).column(c).compression
            for rg in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        } == {"ZSTD"}, d


def test_gather_small_scan_counts_pruned_bytes(
    spark, written_landing, monkeypatch
):
    """With a threshold of one year's files, the whole landing stays
    parallel, one partition-filtered year is gathered, an in-memory
    frame of unknown size stays parallel, and a materialized cache of
    the same rows, whose statistic is its cached bytes, is gathered."""
    import os

    from pyspark.sql import functions as F

    from weather_analysis_bigdata__spark.sources import files

    def nbytes(root):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    one_year = nbytes(os.path.join(written_landing, "year=2024"))
    assert nbytes(written_landing) > one_year
    monkeypatch.setattr(files, "GATHER_MAX_BYTES", one_year)
    landing = spark.read.parquet(written_landing)
    assert files.gather_small_scan(landing) is landing
    year = landing.filter(F.col("year") == 2024)
    gathered = files.gather_small_scan(year)
    assert gathered is not year and gathered.rdd.getNumPartitions() == 1
    rows = landing.limit(3).collect()
    in_memory = spark.createDataFrame(rows, landing.schema)
    assert files.gather_small_scan(in_memory) is in_memory
    cached = spark.createDataFrame(rows, landing.schema).cache()
    try:
        cached.count()
        gathered = files.gather_small_scan(cached)
        assert gathered is not cached and gathered.rdd.getNumPartitions() == 1
    finally:
        cached.unpersist()


def test_cached_layer_reads_from_memory(spark, sf_dir):
    """Materializing a layer with cache() must turn downstream scans
    into InMemoryTableScan — the §3.2 fix for the reference's
    re-execute-full-lineage-per-action bottleneck."""
    from weather_analysis_bigdata__spark.sources.files import load_table

    silver = load_table(spark, sf_dir, "orders").filter("o_orderkey <= 500")
    silver.cache()
    try:
        silver.count()  # populate
        plan = plan_of(silver.groupBy("o_orderstatus").count())
        assert "InMemoryTableScan" in plan
    finally:
        silver.unpersist()


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """With a year-partitioned fact layer, a broadcast dim join keyed on
    the partition column must inject a runtime partition filter
    (dynamicpruningexpression) into the fact scan — at 100 TB this is
    the difference between scanning one year and scanning the table."""
    from pyspark.sql import functions as F

    from weather_analysis_bigdata__spark.sources.files import load_table

    path = str(tmp_path / "li_by_year")
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    li.write.partitionBy("ship_year").mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(1996, "pick"), (1997, "other")], "ship_year INT, tag STRING"
    ).filter(F.col("tag") == "pick")
    # DPP requires a selective predicate on the build side — the planner
    # only injects the runtime filter when the dim is actually filtered.
    j = fact.join(F.broadcast(dim), "ship_year").groupBy("tag").agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = plan_of(j)
    assert "dynamicpruning" in plan.lower()
    j.collect()  # plan actually executes


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """With runtime bloom filters on and broadcast disabled (the
    big⋈big case), a selective creation side must inject a bloom
    filter onto the fact scan side — at 100 TB this prunes shuffle
    input for joins where DPP can't (non-partition keys)."""
    from pyspark.sql import functions as F

    from weather_analysis_bigdata__spark.sources.files import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom" in plan.lower()
        j.collect()  # executes with the runtime filter
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_parquet_aggregate_pushdown(spark, sf_dir):
    """With the v2 parquet source, COUNT(*)/MIN/MAX compute from footer
    statistics (PushedAggregation) — a 100 TB profile pass that reads
    metadata instead of data."""
    confs = {
        "spark.sql.parquet.aggregatePushDown": "true",
        "spark.sql.sources.useV1SourceList": "",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        import os

        from pyspark.sql import functions as F

        df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_quantity").alias("mn"),
            F.max("l_quantity").alias("mx"),
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        # (the PushedAggregation content itself is metadata-truncated in
        # toString, so assert the marker + the v2 BatchScan node)
        assert "PushedAggregation" in plan and "BatchScan" in plan
        row = agg.collect()[0]
        assert row.n > 0 and row.mn <= row.mx
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_semantic_dedup_never_cartesian_and_broadcasts_centroids(
    spark, sf_dir, registry
):
    """SemDeDup's scale property, split round 3 into build vs serve:
    the SERVE plan reads the persisted assignment index (two parquet
    scans feeding a hash pair join on cluster — no CartesianProduct,
    no sort-merge, no training subtree); the BUILD plan is where the
    tiny centroid table broadcasts (BNLJ over a broadcast relation,
    same family the range-band join pins)."""
    from weather_analysis_bigdata__spark.queries_llmops import (
        _semdedup_assign_build,
    )

    plan = plan_of(registry["dedup_semantic_clustered"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert n_sortmerge_joins(plan) == 0  # pair join is hash, not sort
    # serve side must NOT re-plan training: no centroid broadcast join
    assert "BroadcastNestedLoopJoin" not in plan
    build_plan = plan_of(_semdedup_assign_build(spark, sf_dir))
    assert "CartesianProduct" not in build_plan
    assert "BroadcastNestedLoopJoin" in build_plan


def test_ivf_pq_broadcasts_lut_and_candidates(spark, sf_dir, registry):
    """The composed ANN path must broadcast the per-query LUT and the
    routed candidate list — candidates and codes shuffle id/code pairs
    only; any SortMergeJoin here would mean a full vector shuffle."""
    plan = plan_of(registry["ivf_pq_search_topk"].fn(spark, sf_dir))
    assert n_sortmerge_joins(plan) == 0
    assert n_broadcast_joins(plan) >= 3  # centroids, candidates, LUT


def test_codec_decode_stages_shuffle_free(spark, sf_dir, registry):
    """All three real-codec decode queries are mapInPandas-only plans:
    zero exchanges — embarrassingly parallel at any scale."""
    for name in (
        "multimodal_ppm_decode_stats",
        "multimodal_ppm_resize_stats",
        "multimodal_wav_decode_stats",
        "multimodal_y4m_frame_stats",
    ):
        plan = plan_of(registry[name].fn(spark, sf_dir))
        assert n_shuffles(plan) == 0, name


def test_filtered_ann_topk_is_take_ordered_no_global_window(
    spark, sf_dir, registry
):
    """Round-3 rewrite contract: the filtered-ANN rankings are
    TakeOrderedAndProject + rank-within-k (functions/distributed.py
    ranked_topk) — zero WindowExec nodes at all, so no "No Partition
    Defined" single-partition stage can reappear."""
    plan = plan_of(registry["ann_filtered_prefilter_topk"].fn(spark, sf_dir))
    assert has_take_ordered(plan)
    assert n_global_windows(plan) == 0
    assert "(Window" not in plan and ") Window" not in plan


def test_no_global_windows_in_rewritten_family(spark, sf_dir, registry):
    """Every query the round-2 verdict flagged for single-partition
    windows — plus the new distributed twins — must plan with zero
    unpartitioned Window nodes."""
    for name in (
        "ann_filtered_prefilter_topk",
        "hybrid_search_rrf",
        "pack_sequences_fixed_budget",
        "global_row_ordinals",
        "equi_depth_bins_twopass",
        "calibration_by_decile_twopass",
        "decile_stats_twopass",
    ):
        plan = plan_of(registry[name].fn(spark, sf_dir))
        assert n_global_windows(plan) == 0, name


def test_global_window_detector_positive_control(spark):
    """n_global_windows must actually fire on the anti-pattern (guards
    the detector itself against format drift in future Spark versions)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.range(100).select((F.col("id") % 7).alias("g"), "id")
    bad = df.withColumn("r", F.row_number().over(Window.orderBy("id")))
    good = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    part_only = df.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    empty_part = df.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy())
    )
    assert n_global_windows(plan_of(bad)) == 1
    assert n_global_windows(plan_of(good)) == 0
    assert n_global_windows(plan_of(part_only)) == 0
    assert n_global_windows(plan_of(empty_part)) == 1


def test_index_serving_plans_scan_indexes_not_raw_tables(spark, sf_dir, registry):
    """Persisted-index contract (round 3): the SERVE plans read the
    parquet index, not the raw corpus. tfidf_cosine_topk must not
    re-scan documents at all (its only input is the postings index);
    dedup_semantic_clustered must not re-scan embeddings (both
    self-join sides read the assignment index)."""
    tfidf = plan_of(registry["tfidf_cosine_topk"].fn(spark, sf_dir))
    assert "spark_graft_index" in tfidf
    assert "documents.parquet" not in tfidf
    sem = plan_of(registry["dedup_semantic_clustered"].fn(spark, sf_dir))
    assert "spark_graft_index" in sem
    assert "embeddings.parquet" not in sem


def test_ivf_serve_scans_index_and_only_query_vectors(spark, sf_dir, registry):
    """ivf_probe_topk reads the assignment index; its only raw
    embeddings scans are the probe/re-rank sides, which push the
    vec_id predicate down to the parquet scan."""
    plan = plan_of(registry["ivf_probe_topk"].fn(spark, sf_dir))
    assert "spark_graft_index" in plan
    pushed = pushed_filters(plan)
    assert any("vec_id" in f for f in pushed), pushed
