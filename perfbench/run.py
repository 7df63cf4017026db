#!/usr/bin/env python3
"""Medallion benchmark for the weather engine (Bronze -> Silver -> Gold).

    python3 perfbench/run.py --workload gold_dashboard --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. One process, one closed-loop client, one
Spark session (``session.get_spark`` with ``SPARK_GRAFT_CPUS`` = the
usable cores). The inputs are generated from ``--seed`` under
``.perfbench_work/`` and removed at exit. Every operation's result is
checked against DuckDB; the last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``, spans
written to ``.perfbench_out/``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "weather_analysis_bigdata__spark"
WORKLOAD_NAMES = ("medallion_refresh", "gold_dashboard", "late_backfill")
#: Driver JVM heap ceiling: the program's 8g default is sized for its
#: tests; these inputs need far less, and the host is shared. The heap
#: grows as the program needs it, so its peak RSS follows the program;
#: a 1 GiB ceiling also caps how far G1's timing-driven growth goes.
DRIVER_MEMORY = "1g"
#: Reference queries run before measuring: the JIT is still speeding
#: up the first ones.
REF_WARM_UP = 20


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        # Compiler threads that live for the whole run, so that
        # workloads.CpuClock can leave their CPU time out.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                             "-XX:-UseDynamicNumberOfCompilerThreads",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
    })
    sys.path[:0] = [ROOT, HERE]


def _peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid``, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _readable(workload: str, run) -> dict:
    """Figures for the readable report only: the wall-clock latencies,
    which a shared host moves too much to bound, and the
    workload-specific names of the shared metrics."""
    import workloads
    out = {"failed_ratio": (run.failed / run.attempted, "ratio")}
    op_kind = {"medallion_refresh": "refresh",
               "late_backfill": "backfill"}.get(workload, "query")
    out["op_cpu_ms"] = (workloads.cpu_ms(run.ops, op_kind), "ms")
    out["query_cpu_ms"] = (workloads.cpu_ms(run.ops, "query"), "ms")
    out["ref_cpu_ms"] = (1000 * statistics.median(run.ref.samples), "ms")
    p50, per_s = workloads.wall(run.ops, "query")
    out["query_p50_ms"] = (p50, "ms")
    out["queries_per_s"] = (per_s, "1/s")
    if workload == "medallion_refresh":
        p50, _ = workloads.wall(run.ops, "refresh")
        out["refresh_s"] = (p50 / 1000, "s")
        out["refresh_rows_per_s"] = (run.ds.n_records / (p50 / 1000), "1/s")
    elif workload == "late_backfill":
        out["backfill_p50_ms"] = (workloads.wall(run.ops, "backfill")[0], "ms")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work)
    import oracle
    import spans
    import workloads
    from weather_analysis_bigdata__spark.session import get_spark

    t = time.perf_counter()
    try:
        spark = get_spark("perfbench")
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    session_s = time.perf_counter() - t
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        cpu = workloads.CpuClock(jvm_pid)
        run = workloads.Run(spark, work, args.seed,
                            spans.Tracer(spark, enabled=False),
                            cpu=cpu, ref=workloads.Reference(spark, cpu))
        wl = workloads.WORKLOADS[args.workload]()
        setup_s = session_s + wl.setup(run)
        run.ops.clear()
        for _ in range(REF_WARM_UP):
            run.ref.measure()
        run.ref.samples.clear()

        per_round = getattr(wl, "KINDS", (None,))
        deadline = time.perf_counter() + args.seconds
        i = 0
        # Only whole rounds, so every run sends the same request mix.
        while (time.perf_counter() < deadline or i % len(per_round)
               or i < workloads.MIN_OPS[args.workload]):
            # Traced runs alternate untraced and traced rounds, so the
            # tracing overhead is measured inside the same run.
            run.tracer.enabled = bool(args.trace) and (i // len(per_round)) % 2 == 1
            wl.step(run, i)
            i += 1
        run.tracer.enabled = False

        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.write(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = spans.layer_metrics(run.tracer, run.ops)
        else:
            metrics = wl.metrics(run)
            metrics["setup_s"] = (setup_s, "s")
            metrics["success_ratio"] = (
                (run.attempted - run.failed) / run.attempted, "ratio")
            rss = {"driver": _peak_rss_mb(os.getpid()), "jvm": _peak_rss_mb(jvm_pid)}
            metrics["peak_rss_mb"] = (rss["driver"] + rss["jvm"], "MB")
            print("perfbench peak_rss_mb: " + ", ".join(
                f"{k}={v:.1f}" for k, v in rss.items()), file=sys.stderr)
        run.oracle.con.close()
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench reference cpu ms: "
          f"{[round(1000 * x, 1) for x in run.ref.samples]}", file=sys.stderr)
    for kind in ("refresh", "backfill", "query"):
        for attr in ("wall_s", "cpu_s"):
            for label, xs in workloads.by_label(run.ops, kind, attr).items():
                print(f"perfbench {label} {attr[:-2]} ms: "
                      f"{[round(1000 * x) for x in xs]}", file=sys.stderr)
    n = {}
    for o in run.ops:
        n[o.kind] = n.get(o.kind, 0) + 1
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"samples={n} float_rel_tol={oracle.REL_TOL}")
    report = dict(metrics)
    if not args.trace:
        report.update(_readable(args.workload, run))
    for name, (value, unit) in sorted(report.items()):
        print(f"  {name:40s} {value:14.4f} {unit}")
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
