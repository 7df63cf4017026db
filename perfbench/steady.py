#!/usr/bin/env python3
"""Steadiness check: run workloads repeatedly on the same code and
report how much every end-to-end metric spreads.

    python3 perfbench/steady.py --workload late_backfill --seeds 1-10
    python3 perfbench/steady.py --seeds 1-10 --sets 2     # all workloads

Each run is ``perfbench/run.py --trace 0`` with its own seed and the
``run_seconds`` of BENCHMARK.json, the length the bounds are set for. Per workload and metric it prints
the median and the quartile spread, (Q3 - Q1) / median, with Python's
``statistics.quantiles(n=4)``, against the metric's bound. Flags:

- ``OVER``  the spread exceeds the bound,
- ``>1/3``  the spread exceeds a third of the bound,
- ``>0.1``  the metric does not repeat within a tenth,
- ``OVER2`` with ``--sets 2``: the second set's spread exceeds the bound,
- ``DRIFT`` with ``--sets 2``: the second set's median is worse than
  the first's by more than the bound.

Each run also prints one line to stderr with its metrics, its wall time
and the CPU time the host stole from this machine while it ran.

Every run must also be correct with no failed operation. Exits 1 if
any run failed or any OVER, OVER2 or DRIFT flag was raised.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from run import HERE, ROOT, WORKLOAD_NAMES


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def _steal_s() -> float:
    """CPU time stolen from this machine by its host, summed over CPUs
    (the ``steal`` column of /proc/stat), in seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run_once(workload: str, seed: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(BENCH["run_seconds"]),
           "--trace", "0"]
    t, steal = time.monotonic(), _steal_s()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.monotonic() - t
    # A run that lost CPU to the host reads slow on every metric.
    print(f"  {workload} seed {seed}: wall {out['wall_s']:.1f}s, steal "
          f"{_steal_s() - steal:.1f} cpu-s, " + ", ".join(
              f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
          file=sys.stderr, flush=True)
    return out


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    names = [w["name"] for w in BENCH["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", choices=WORKLOAD_NAMES)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    args = ap.parse_args(argv)

    metrics = {m["name"]: m for m in BENCH["end_to_end"]}
    bad = False
    report = {}
    for wl in args.workload or names:
        sets, walls = [], []
        for k in range(args.sets):
            values: dict[str, list[float]] = {m: [] for m in metrics}
            for seed in _seeds(args.seeds):
                out = run_once(wl, seed)
                walls.append(out["wall_s"])
                if not out["correct"] or out["failed"]:
                    print(f"{wl} seed {seed}: correct={out['correct']} "
                          f"failed={out['failed']}/{out['attempted']}")
                    bad = True
                for m in metrics:
                    values[m].append(out["metrics"][m]["value"])
            sets.append(values)
        print(f"\n{wl}  ({len(_seeds(args.seeds))} seeds x {args.sets} set(s),"
              f" {BENCH['run_seconds']}s runs; wall per run: mean {statistics.mean(walls):.1f}s,"
              f" max {max(walls):.1f}s)")
        print(f"  {'metric':24s} {'median':>14s} {'spread':>8s} {'bound':>6s}  flags")
        report[wl] = {}
        for m, spec in metrics.items():
            bound = spec["bound"]
            med, sp = spread(sets[0][m])
            flags = []
            if sp > bound:
                flags.append("OVER")
                bad = True
            elif sp > bound / 3:
                flags.append(">1/3")
            if sp > 0.10:
                flags.append(">0.1")
            row = {"median": med, "spread": sp, "values": sets[0][m]}
            if args.sets == 2:
                med2, sp2 = spread(sets[1][m])
                worse = (med2 - med) / med if spec["better"] == "lower" else (med - med2) / med
                row.update(median2=med2, spread2=sp2, drift=worse,
                           values2=sets[1][m])
                if sp2 > bound:
                    flags.append("OVER2")
                    bad = True
                if worse > bound:
                    flags.append("DRIFT")
                    bad = True
            report[wl][m] = row
            extra = (f" spread2={sp2:.4f} drift={worse:+.3f}"
                     if args.sets == 2 else "")
            print(f"  {m:24s} {med:14.4f} {sp:8.4f} {bound:6.3f}  "
                  f"{' '.join(flags)}{extra}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "steady.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
