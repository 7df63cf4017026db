"""Crossover probe for ``sources/files.py::GATHER_MAX_BYTES``: the CPU a
rebuild of k Silver years and two Gold requests cost in one task
against the parallel plan, at growing input sizes.

Usage:
    python tools/gather_crossover.py [--stations 40] [--years 10] [--runs 8] [--seed 3]

Writes a landing hive-partitioned by year with ``perfbench/gen.py`` and a
Silver built from it, into a temporary directory removed at exit. Then,
for the first k = 2, 3, 4, 6 and all years, it alternates warm one-task
and parallel runs (the order flips every pair) of:

- ``rebuild``: Bronze, Silver and the year-partitioned zstd write of the
  landing's first k years, read through a filter on ``year``; its size
  is the landing bytes that filter selects;
- ``yearly_mean_temperature`` and ``station_month_mean`` over Silver's
  first k years; their size is the Silver bytes those years hold.

The one-task side sets ``GATHER_MAX_BYTES`` above every input, the
parallel side sets it to 0. CPU time is ``perfbench/workloads.CpuClock``:
the Python process and the Spark JVM, JIT compiler threads excluded.
Each line gives the operation, the size in MB, the median CPU ms of the
parallel and the one-task runs, and the pairs one task won. Not part of
the test suite; the default sizes take several minutes on 4 vCPUs.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]


def _bytes(root: str, years: list[int]) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for y in years
        for d, _, fs in os.walk(os.path.join(root, f"year={y}"))
        for f in fs
        if f.endswith(".parquet")
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--stations", type=int, default=40)
    ap.add_argument("--years", type=int, default=10)
    ap.add_argument("--runs", type=int, default=8)
    ap.add_argument("--seed", type=int, default=3)
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="gather-crossover-")
    # JIT threads that live for the whole run, so CpuClock can leave
    # their CPU time out (as perfbench/run.py does).
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UseDynamicNumberOfCompilerThreads"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(work, "spark-local"))

    import gen
    import workloads
    from pyspark.sql import functions as F

    from weather_analysis_bigdata__spark.pipeline import gold
    from weather_analysis_bigdata__spark.pipeline.bronze import build_bronze
    from weather_analysis_bigdata__spark.pipeline.silver import build_silver
    from weather_analysis_bigdata__spark.session import get_spark
    from weather_analysis_bigdata__spark.sources import files

    spark = get_spark("gather-crossover")
    try:
        cpu = workloads.CpuClock(spark.sparkContext._gateway.proc.pid)
        ds = gen.generate_in_child(work, args.seed, args.stations, args.years, True)
        silver_dir = os.path.join(work, "silver")
        out_dir = os.path.join(work, "rebuilt")
        dim = spark.read.parquet(ds.dim_path)

        def rebuild(years):
            landing = spark.read.parquet(ds.landing_dir)
            long_df = landing.filter(F.col("year").isin(years))
            files.write_parquet(
                build_silver(build_bronze(long_df), dim), out_dir, ("year",)
            )

        def gold_request(fn, *extra):
            def run(years):
                silver = spark.read.parquet(silver_dir)
                fn(silver.filter(F.col("year").isin(years)), *extra).collect()
            return run

        files.GATHER_MAX_BYTES = 0
        rebuild(ds.years)
        shutil.move(out_dir, silver_dir)

        ops = {
            "rebuild": (rebuild, ds.landing_dir),
            "yearly_mean_temperature": (
                gold_request(gold.yearly_mean_temperature), silver_dir
            ),
            "station_month_mean": (
                gold_request(gold.station_month_mean, "avg_temperature_rounded"),
                silver_dir,
            ),
        }
        sides = {"parallel": 0, "one_task": 1 << 62}
        ks = sorted({k for k in (2, 3, 4, 6, len(ds.years)) if k <= len(ds.years)})
        print(f"{'operation':24s} {'years':>5s} {'MB':>7s} "
              f"{'parallel ms':>12s} {'one task ms':>12s} {'wins':>6s}", flush=True)
        for name, (op, root) in ops.items():
            for k in ks:
                years = ds.years[:k]
                cpu_ms = {side: [] for side in sides}
                for r in range(args.runs + 1):
                    order = list(sides) if r % 2 else list(sides)[::-1]
                    for side in order:
                        files.GATHER_MAX_BYTES = sides[side]
                        c = cpu()
                        op(years)
                        if r:  # the first pair warms the plan up
                            cpu_ms[side].append(1000 * (cpu() - c))
                wins = sum(
                    o <= p for o, p in zip(cpu_ms["one_task"], cpu_ms["parallel"])
                )
                print(f"{name:24s} {k:5d} {_bytes(root, years) / 1e6:7.2f} "
                      f"{statistics.median(cpu_ms['parallel']):12.0f} "
                      f"{statistics.median(cpu_ms['one_task']):12.0f} "
                      f"{wins:3d}/{args.runs}", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
