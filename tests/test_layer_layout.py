"""Layer layout tests: partitioned Parquet writes and partition pruning
— the storage design that makes year-filters free at 100 TB (SURVEY §4).
"""

from __future__ import annotations

import io
import contextlib
import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F


def test_partitioned_write_prunes_year_filter(spark, sf_dir):
    from weather_analysis_bigdata__spark.sources.files import load_table, write_parquet

    out = tempfile.mkdtemp(prefix=f"layer_{uuid.uuid4().hex[:8]}_")
    try:
        o = load_table(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate")
        )
        write_parquet(o, out, partition_by=("o_year",))

        back = spark.read.parquet(out)
        filtered = back.filter(F.col("o_year") == 1995)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            filtered.explain("formatted")
        plan = buf.getvalue()
        # the year predicate must be a PartitionFilter on the scan (file
        # pruning), not a post-scan Filter
        assert "PartitionFilters" in plan
        assert any(
            "PartitionFilters" in line and "o_year" in line
            for line in plan.splitlines()
        ), plan
        # correctness of the round-trip
        expected = o.filter(F.col("o_year") == 1995).count()
        assert filtered.count() == expected
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_compact_small_files(spark, sf_dir, tmp_path):
    """Many tiny files → few near-target files, rows intact, and with
    sort_cols the per-file key ranges are disjoint (stats prune again)."""
    from weather_analysis_bigdata__spark.sources.files import (
        compact_parquet,
        load_table,
    )

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    n_rows = ev.count()
    ev.repartition(64).write.parquet(src)  # simulate a fragmented sink
    import os as _os

    n_src = sum(
        1 for _, _, fs in _os.walk(src) for f in fs if f.endswith(".parquet")
    )
    assert n_src >= 32

    target = max(1, sum(
        _os.path.getsize(_os.path.join(r, f))
        for r, _, fs in _os.walk(src) for f in fs if f.endswith(".parquet")
    ) // 4)
    n_out = compact_parquet(
        spark, src, dst, target_file_bytes=target, sort_cols=["event_id"]
    )
    assert n_out < n_src
    out = spark.read.parquet(dst)
    assert out.count() == n_rows
    # Disjoint per-file event_id ranges: clustered writes restore pruning.
    # The rewrite goes through the layer sink, so its pages are zstd too.
    import pyarrow.parquet as pq

    ranges = []
    for r, _, fs in _os.walk(dst):
        for f in fs:
            if f.endswith(".parquet"):
                meta = pq.ParquetFile(_os.path.join(r, f)).metadata
                for rg in range(meta.num_row_groups):
                    for c in range(meta.num_columns):
                        assert meta.row_group(rg).column(c).compression == "ZSTD"
                t = pq.read_table(_os.path.join(r, f), columns=["event_id"])
                if t.num_rows:
                    col = t["event_id"].to_numpy()
                    ranges.append((int(col.min()), int(col.max())))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2


def _parquet_files(path):
    return [
        os.path.join(r, f)
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


def test_compaction_preserves_rows_and_shrinks_files(spark, sf_dir, tmp_path):
    """compact_parquet on a fragmented day-partitioned events layer
    (8 writer tasks per partition) compacts to ~1 file per partition
    with identical rows — count and an order-independent content
    fingerprint both survive; partition directories are unchanged, and
    every page is written zstd by the layer sink."""
    import pyarrow.parquet as pq

    from weather_analysis_bigdata__spark.sources.files import (
        compact_parquet,
        load_table,
    )

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("day", F.to_date("ts"))
        .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
    )
    # fragment: 8 shuffle tasks each write a sliver of every partition
    ev.repartition(8).write.partitionBy("day").mode("overwrite").parquet(src)
    n_parts = ev.select("day").distinct().count()
    files_before = len(_parquet_files(src))
    assert files_before > 2 * n_parts  # genuinely fragmented

    files_after = compact_parquet(spark, src, dst)
    assert files_after == len(_parquet_files(dst))
    assert files_after <= n_parts + 1  # ~one file per partition
    assert files_after < files_before / 2
    for path in _parquet_files(dst):
        meta = pq.ParquetFile(path).metadata
        for rg in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                assert meta.row_group(rg).column(c).compression == "ZSTD", path

    def fingerprint(path):
        df = spark.read.parquet(path)
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in sorted(df.columns)])),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            # modular sum keeps 15k 60-bit terms inside int64 (ANSI)
            F.sum(h % F.lit(1 << 40)).alias("s"),
        ).collect()[0]
        return (r.n, r.s)

    assert fingerprint(src) == fingerprint(dst)
    # same partition directory set
    parts = lambda p: sorted(  # noqa: E731
        d for d in os.listdir(p) if d.startswith("day=")
    )
    assert parts(src) == parts(dst)


def test_compaction_never_leaves_a_stale_partition(spark, tmp_path):
    """A partitioned overwrite replaces only the partitions it writes, so
    a partition left in the destination would survive the compaction as
    rows the source does not hold: compact_parquet refuses a non-empty
    destination and writes nothing."""
    from weather_analysis_bigdata__spark.sources.files import compact_parquet

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    schema = "v int, day string"
    spark.createDataFrame([(1, "2024-01-01"), (2, "2024-01-02")], schema).write \
        .partitionBy("day").parquet(src)
    spark.createDataFrame([(9, "1999-12-31")], schema).write \
        .partitionBy("day").parquet(dst)

    with pytest.raises(ValueError, match="not empty"):
        compact_parquet(spark, src, dst)
    assert [r.v for r in spark.read.parquet(dst).collect()] == [9]
