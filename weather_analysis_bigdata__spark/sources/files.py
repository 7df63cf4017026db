"""File sources: Parquet/CSV scans with explicit schemas.

The reference reads CSV through pandas and bridges to Spark
(Weather_API.py:154, 194) — a driver-side bottleneck that cannot scale.
Here every table is a native distributed ``spark.read`` scan, so column
pruning and filter pushdown reach the Parquet footers (SURVEY.md §2.1
S3-S5) and a 100 TB table is read by executors, never the driver.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Driver-generated test tables (TESTDATA.md). One parquet file each.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table as Parquet. Schema comes from the footer; at 100 TB
    the same call reads a multi-file dataset with partition pruning."""
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Engage all cores on compute-heavy row-local pipelines over SMALL
    inputs, without ever shuffling a large one.

    Parquet scans parallelize at ROW-GROUP granularity — a test corpus
    written as one file with one row group reads as 1-2 input splits,
    so an expensive per-row stage (shingling, MinHash signatures) runs
    on 1-2 cores no matter how many exist. Measured at the 50 k-doc
    10× corpus: the signature build dropped 21.1 s → 1.7 s (12×) after
    a repartition — THE reason core-count scaling looked flat.

    This helper repartitions ONLY when the scan yields fewer than half
    the default parallelism in splits, so the added exchange's cost is
    bounded by the small input that triggered it; a 100 TB dataset has
    thousands of row groups, the condition is false, and the plan is
    untouched — exactly the asymmetric fix an auto-tuner would apply.
    Correctness is unaffected: every query here is partitioning-
    invariant by construction (exact integer/decimal aggregation).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 2 < target:
        return df.repartition(target)
    return df


#: File bytes, after partition pruning, at or below which
#: ``gather_small_scan`` reads a frame in one task: below the measured
#: CPU crossover (its docstring).
GATHER_MAX_BYTES = 4 * 1024 * 1024


def gather_small_scan(df: DataFrame) -> DataFrame:
    """Read a SMALL input in one task, so an aggregate over it plans no
    shuffle; leave a large one to the parallel plan. The mirror image of
    ``spread_small_scan``.

    A one-partition child satisfies every distribution an aggregate or
    window can require, so ``coalesce(1)`` turns partial aggregate,
    Exchange, final aggregate into one stage and one job, and cuts the
    per-job fixed cost that dominates a Gold request over a small Silver
    or a rebuild of a few Silver years. Above ``GATHER_MAX_BYTES`` the
    frame is returned unchanged.

    The size is what the frame's file scans read after partition
    pruning, known without running a job. The first test is the
    optimized plan's free ``sizeInBytes`` statistic: for a file scan it
    is the whole table's listed bytes, never less than pruning selects,
    so a small table gathers at no extra cost. For a cache materialized
    before the frame was planned it is the cached bytes, so such a frame
    under the threshold is gathered too (the test fixture's Silver,
    cached and counted: 44,346 B). Only above the threshold is the frame
    physically planned and ``selectedPartitions`` summed over its file
    scans, so a filter on the partition column (a few years of a
    year-partitioned landing) counts only the directories it reads. A
    frame that fails the first test and has any leaf that is not a file
    scan (an in-memory ``createDataFrame``, whose statistic is unknown;
    a large or not yet materialized cache) keeps the parallel plan.

    The threshold is a measured crossover, far below Spark's 128 MiB
    ``files.maxPartitionBytes``. On 4 vCPUs, over year-partitioned
    Silvers of N stations x 10 years from ``perfbench/gen.py``, one task
    cost no more CPU (Python and JVM, JIT threads excluded; medians of
    15 warm alternating runs) than the parallel plan for
    ``yearly_mean_temperature`` and ``station_month_mean`` up to 160
    stations (5.2 MB: 175 vs 221 ms, 299 vs 294 ms), but more from 240
    stations (7.8 MB: station_month 398 vs 334 ms), and 1.6x the CPU and
    3.3-3.7x the wall time at 9.3 M rows. Wall time crosses earlier:
    station_month in one task is level at 40 stations (1.4 MB, 179 vs
    180 ms), 18 % slower at 80 (2.7 MB) and 1.5x at 160. So the 4 MiB
    threshold, below the CPU crossover, spends no more CPU per request;
    a grouped request on a Silver near it may wait longer.

    A rebuild (Bronze, Silver and the year-partitioned write of k years
    of a 40-station x 10-year ``gen.py`` landing) crosses later. CPU
    medians of 8 warm alternating pairs on 4 vCPUs, from
    ``tools/gather_crossover.py``:

        landing read        parallel -> one task   one task wins
        2.3 MB (2 years)    1,333 -> 1,190 ms      7/8
        3.4 MB (3 years)    1,506 -> 1,184 ms      8/8
        4.6 MB (4 years)    1,792 -> 1,415 ms      8/8
        6.9 MB (6 years)    2,170 -> 1,871 ms      7/8
        11.5 MB (10 years)  4,005 -> 3,220 ms      8/8

    So one threshold serves both: below it one task is the cheaper plan
    for a Gold request and for a rebuild alike.

    The rule counts bytes, not rows. A Silver that compresses far better
    than ``gen.py`` data fits more rows under the threshold than the
    crossover allows: at 2.6 B/row (a tiled 640-station Silver), 4 MiB
    holds about 1.6 M rows, while on ``gen.py`` data (9.6 B/row) the CPU
    crossover lies between 584k and 876k rows.
    """
    qe = df._jdf.queryExecution()
    small = qe.optimizedPlan().stats().sizeInBytes() <= GATHER_MAX_BYTES
    if not small:
        leaves = qe.sparkPlan().collectLeaves()
        scans = [leaves.apply(i) for i in range(leaves.size())]
        small = all(
            s.getClass().getSimpleName() == "FileSourceScanExec" for s in scans
        ) and sum(
            s.selectedPartitions().totalFileSize() for s in scans
        ) <= GATHER_MAX_BYTES
    return df.coalesce(1) if small else df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize `events.ts` to a session-timezone TimestampType.

    The driver has shipped events.parquet with two physical encodings of
    ``ts``: parquet TIMESTAMP(NANOS) (which Spark's vectorized reader only
    exposes as a long via the legacy conf — truncate nanos→micros, the
    same rule ANSI engines apply) and plain TIMESTAMP(MICROS) (read as
    TIMESTAMP_NTZ — cast to TimestampType; session tz is pinned UTC so
    wall-clock and epoch values are identical). Adapting on the footer
    type keeps every downstream query engine-stable across data drops.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif not isinstance(ts_type, T.TimestampType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Layer sink: Parquet, optionally hive-partitioned.

    Replaces the reference's CSV sinks (Weather_API.py:130, 1180-1184).
    Partitioning by low-cardinality keys (e.g. ``year``) makes downstream
    year filters prune whole directories at 100 TB.

    An overwrite with ``partition_by`` replaces exactly the partitions
    the frame holds and leaves every other partition's files untouched,
    whatever the session's ``partitionOverwriteMode``: the dynamic mode
    is set on this write, not on the session.

    Pages are zstd-compressed at the codec's default level, not Spark's
    default snappy: on the benchmark's Silver (40 stations x 10 years,
    4 vCPU) that stores 9.6 instead of 11.1 B/row and cuts a late
    backfill's bytes written per late-batch byte from 2.00 to 1.55,
    with no measurable CPU cost to the backfill or the Gold reads. Spark,
    DuckDB and pyarrow all decode zstd natively.
    """
    writer = df.write.mode(mode).option("compression", "zstd")
    if partition_by:
        writer = writer.partitionBy(*partition_by).option(
            "partitionOverwriteMode", "dynamic"
        )
    writer.parquet(path)


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into files
    sized near ``target_file_bytes``, optionally range-clustered, into
    an empty or absent ``dst_dir``.

    The 100 TB maintenance op streaming sinks and partition-overwrite
    backfills make necessary: thousands of KB-sized files turn scans
    into task-scheduling storms and wreck min/max skipping. Output file
    count is computed from the SOURCE's physical bytes (driver-side
    file listing — metadata only, no data pass). The same listing names
    the source's hive partition columns (its ``k=v`` directories). The
    rewrite is a ``repartitionByRange`` + ``sortWithinPartitions`` on
    those columns and ``sort_cols``, so every output file covers a
    tight key range and parquet stats prune again; a source with
    neither is coalesced. It is written through ``write_parquet``: zstd
    pages, and a partitioned source keeps its partition directories,
    one file per partition per range task.

    A partitioned overwrite replaces only the partitions written, so a
    partition already in ``dst_dir`` and absent from the source would
    survive as stale rows: a non-empty ``dst_dir`` raises instead.
    Returns the number of files written.
    """
    if os.path.isdir(dst_dir) and os.listdir(dst_dir):
        raise ValueError(f"compact_parquet: {dst_dir} is not empty")
    files = _parquet_files(src_dir)
    n_files = max(
        1, math.ceil(sum(map(os.path.getsize, files)) / target_file_bytes)
    )
    parts = [
        d.split("=", 1)[0]
        for f in files[:1]
        for d in os.path.relpath(os.path.dirname(f), src_dir).split(os.sep)
        if "=" in d
    ]
    cluster = [*parts, *(sort_cols or ())]
    df = spark.read.parquet(src_dir)
    if cluster:
        df = df.repartitionByRange(n_files, *cluster).sortWithinPartitions(
            *cluster
        )
    else:
        df = df.coalesce(n_files)
    write_parquet(df, dst_dir, partition_by=tuple(parts))
    return len(_parquet_files(dst_dir))


def _parquet_files(path: str) -> list[str]:
    """Every ``.parquet`` file under ``path``, in a stable order."""
    return sorted(
        os.path.join(root, f)
        for root, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
