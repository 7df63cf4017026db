"""The three medallion workloads, driven through the program's public
functions: ``sources.files`` (scan and ``write_parquet`` sink),
``pipeline.bronze``, ``pipeline.silver``, ``pipeline.gold`` and ``viz``.

Every workload is a closed loop with one client: the next operation is
sent only after the previous one returned. An operation returns a
check, run after its latency is taken, that compares its result with
the DuckDB oracle; a raise or a wrong answer counts as a failed
operation.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

import gen
from oracle import Oracle, same_rows
from spans import Tracer

#: Input sizes per workload: (stations, years) of daily records with
#: 10 measures each; about 1/7 are missing and 1/11 re-delivered.
SIZES = {
    "medallion_refresh": (30, 8),
    "gold_dashboard": (40, 10),
    "late_backfill": (40, 10),
}
#: Corrected records per late batch, as a share of the two years' records:
#: the share of records the landing data re-delivers.
LATE_SHARE = 1 / 11
#: Floor on measured operations, whatever ``--seconds`` says.
MIN_OPS = {"medallion_refresh": 3, "gold_dashboard": 22, "late_backfill": 3}
#: Rounds run in set-up before measuring: the first runs cold (JIT and
#: codegen). A dashboard round took 6.8, 4.9, 4.5 and 3.7 s in turn and
#: then held near 3.3 s (4 cores), so the dashboard warms up for three.
WARM_UP = {"medallion_refresh": 2, "gold_dashboard": 3, "late_backfill": 2}
#: Generator passes in set-up; ``setup_s`` counts their median.
SETUP_PASSES = 3

SERIES_COLS = ("max_temperature", "min_temperature", "avg_temperature_rounded")
#: Measures a dashboard request may ask for; the wind means carry the
#: no-wind station's 0 fallback.
MEASURES = ("avg_temperature_rounded", "precipitation", "avg_wind_speed")


class WrongAnswer(Exception):
    pass


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise WrongAnswer(what)


#: JVM threads whose CPU time no operation is charged: the JIT
#: compilers and the code-cache sweeper. How much they run in a given
#: operation follows the JVM's warm-up and timing, not the operation;
#: the Java source Spark generates is compiled on the query's own
#: thread, which is charged. run.py keeps these threads alive for the
#: whole run (``-XX:-UseDynamicNumberOfCompilerThreads``).
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def _process_clock(pid: int) -> int:
    """The clock id of ``pid``'s CPU time (``clock_getcpuclockid``)."""
    return (~pid << 3) | 2  # CPUCLOCK_SCHED


def _comm(task_dir: str) -> str:
    with open(os.path.join(task_dir, "comm")) as f:
        return f.read().strip()


def _thread_s(schedstat: str) -> float:
    with open(schedstat) as f:
        return int(f.read().split()[0]) / 1e9


class CpuClock:
    """CPU time of this Python driver and the Spark JVM (every thread,
    live or ended), less the JVM's JIT threads, in seconds. The kernel
    charges no thread for the time the host steals from the machine, so
    unlike wall time this does not move with the load of a shared host."""

    def __init__(self, jvm_pid: int):
        self.clocks = [_process_clock(os.getpid()), _process_clock(jvm_pid)]
        tasks = f"/proc/{jvm_pid}/task"
        self.jit = [os.path.join(tasks, t, "schedstat") for t in os.listdir(tasks)
                    if _comm(os.path.join(tasks, t)).startswith(JIT_THREADS)]
        if not self.jit:
            raise RuntimeError(f"no JIT compiler thread found in {tasks}")

    def __call__(self) -> float:
        return (sum(map(time.clock_gettime, self.clocks))
                - sum(map(_thread_s, self.jit)))


#: Rows of the host-speed reference query, and its partitions.
REF_ROWS, REF_PARTS = 4_000_000, 4
#: The reference query's CPU time at the host speed the figures are
#: scaled to (about what it takes on a quiet 4-vCPU host).
REF_NOMINAL_S = 0.05


class Reference:
    """A fixed query whose CPU time tracks the speed of the host: a
    grouped average over ``spark.range`` rows, charged by CpuClock like
    an operation and run after every measured operation. It runs on a
    session of its own with Spark's default SQL settings, so no code of
    the program and no setting of its session takes part in it."""

    def __init__(self, spark, cpu: CpuClock):
        self.cpu = cpu
        ref = spark.newSession()
        for key, _ in spark.sparkContext.getConf().getAll():
            if key.startswith("spark.sql.") and ref.conf.isModifiable(key):
                ref.conf.unset(key)
        ref.conf.set("spark.sql.shuffle.partitions", str(REF_PARTS))
        self.df = (ref.range(0, REF_ROWS, 1, REF_PARTS)
                   .selectExpr("id % 1000 AS k", "id * 1.5 AS v")
                   .groupBy("k").avg("v"))
        self.samples: list[float] = []

    def measure(self) -> None:
        c = self.cpu()
        if len(self.df.collect()) != 1000:
            raise RuntimeError("reference query returned a wrong row count")
        self.samples.append(self.cpu() - c)

    def scale(self) -> float:
        """Factor from this run's CPU times to the nominal host speed."""
        return REF_NOMINAL_S / statistics.median(self.samples)


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def written(before: dict[str, int], after: dict[str, int]) -> dict:
    new = {p: n for p, n in after.items() if p not in before}
    return {"files_written": len(new), "bytes_written": sum(new.values()),
            "partitions_written": len({os.path.dirname(p) for p in new})}


@dataclass
class Op:
    """One measured operation."""

    kind: str  # "query", "backfill" or "refresh"
    label: str  # "op.<request>", the same for every repeat
    traced: bool
    wall_s: float
    cpu_s: float


@dataclass
class Run:
    """State shared by one benchmark run."""

    spark: object
    work: str
    seed: int
    tracer: Tracer
    ds: gen.Dataset = None
    oracle: Oracle = None
    silver_path: str = ""
    attempted: int = 0
    failed: int = 0
    cpu: CpuClock = None
    ref: Reference = None
    ops: list = field(default_factory=list)  # [Op]
    extra: dict = field(default_factory=dict)

    @contextmanager
    def measure(self, kind: str, label: str):
        """Record the wall and CPU time of the block as one Op."""
        traced = self.tracer.enabled
        c, t = self.cpu(), time.perf_counter()
        yield
        wall = time.perf_counter() - t
        self.ops.append(Op(kind, label, traced, wall, self.cpu() - c))

    def time_op(self, kind: str, label: str, fn, *args) -> bool:
        """Run one operation, the reference query and then the
        operation's check. The operation is measured if it returned,
        even with a wrong answer; returns whether both the operation and
        its check succeeded."""
        self.attempted += 1
        try:
            with self.tracer.span(label, op=self.attempted):
                with self.measure(kind, label):
                    check = fn(*args)
            self.ref.measure()
            check()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return False
        return True

    def verify(self, check) -> None:
        """Run an untimed operation and its check (a set-up step or a
        warm-up round) as one operation."""
        self.attempted += 1
        try:
            check()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)


# ---------------------------------------------------------------- layers
def _files():
    from weather_analysis_bigdata__spark.sources import files
    return files


def _layers():
    from weather_analysis_bigdata__spark import viz
    from weather_analysis_bigdata__spark.pipeline import bronze, gold, silver
    return bronze, silver, gold, viz


def read(run: Run, path: str):
    with run.tracer.span("files.read"):
        return run.spark.read.parquet(path)


def build_silver(run: Run, long_df, dim_df):
    bronze, silver, _, _ = _layers()
    tr = run.tracer
    with tr.span("bronze"):
        b = tr.boundary(tr.plan(bronze.build_bronze, long_df))
    with tr.span("silver"):
        return tr.boundary(tr.plan(silver.build_silver, b, dim_df))


def write(run: Run, df, path: str, mode: str = "overwrite") -> None:
    tr = run.tracer
    with tr.span("files.write"):
        before = dir_files(path) if tr.enabled else None
        _files().write_parquet(df, path, partition_by=("year",), mode=mode)
        if tr.enabled:
            tr.note(**written(before, dir_files(path)))


def gold_df(run: Run, fn: str, *args):
    _, _, gold, _ = _layers()
    tr = run.tracer
    with tr.span(f"gold.{fn}"):
        tr.note(table_files=run.extra.get("table_files", 0))
        return tr.boundary(tr.plan(getattr(gold, fn), *args))


def collect(run: Run, df) -> list:
    rows = df.collect()
    run.tracer.note(rows_returned=len(rows))
    return rows


def render(run: Run, fn: str, *args) -> str:
    _, _, _, viz = _layers()
    tr = run.tracer
    with tr.span(f"viz.{fn}"):
        path = getattr(viz, fn)(*args)
        if tr.enabled:
            stem = path[:-4]
            tr.note(viz_bytes=sum(
                os.path.getsize(stem + ext) for ext in (".svg", ".png", ".html")
                if os.path.exists(stem + ext)))
    return path


def silver_for(run: Run, year: int | None):
    from pyspark.sql import functions as F
    sv = read(run, run.silver_path)
    if run.tracer.enabled:
        run.extra["table_files"] = len(dir_files(run.silver_path))
    return sv if year is None else sv.filter(F.col("year") == year)


def _svg(path: str) -> str:
    with open(path) as f:
        return f.read()


# ------------------------------------------------------------- requests
# Each request does its Spark work and returns the check to run on it.
def req_series(run, station, year):
    rows = collect(run, gold_df(run, "per_station_series",
                                silver_for(run, year), station))
    return lambda: _check(same_rows(rows, run.oracle.series(station, year),
                                    ordered=True), "per_station_series")


def req_series_plot(run, station, year):
    df = gold_df(run, "per_station_series", silver_for(run, year), station)
    path = render(run, "render_time_series", df, "Date_1", SERIES_COLS,
                  os.path.join(run.work, "viz", "series.svg"))

    def check():
        want, svg = run.oracle.series(station, year), _svg(path)
        _check(svg.count("<polyline") == len(SERIES_COLS)
               and f">{want[0][0]}<" in svg and f">{want[-1][0]}<" in svg,
               "render_time_series")
    return check


def req_yearly(run):
    rows = collect(run, gold_df(run, "yearly_mean_temperature",
                                silver_for(run, None)))
    return lambda: _check(same_rows(rows, run.oracle.yearly()),
                          "yearly_mean_temperature")


def req_trend(run):
    rows = collect(run, gold_df(run, "yearly_trend", silver_for(run, None)))
    return lambda: _check(same_rows(rows, run.oracle.trend()), "yearly_trend")


def req_trend_plot(run):
    sv = silver_for(run, None)
    yearly = gold_df(run, "yearly_mean_temperature", sv)
    trend = gold_df(run, "yearly_trend", sv)
    path = render(run, "render_trend", yearly, trend,
                  os.path.join(run.work, "viz", "trend.svg"))

    def check():
        svg = _svg(path)
        slope = float(re.search(r"slope=(-?[0-9.]+)/yr", svg).group(1))
        _check(svg.count("<circle") == len(run.oracle.yearly())
               and abs(slope - run.oracle.trend()[0][0]) <= 1e-4,
               "render_trend")
    return check


def req_station_month(run, col):
    rows = collect(run, gold_df(run, "station_month_mean",
                                silver_for(run, None), col))
    return lambda: _check(same_rows(rows, run.oracle.station_month(col)),
                          "station_month_mean")


# Heatmap cells carry their value in a tooltip: "<row> / <col>: <value>".
_TIP = re.compile(r"<title>(.*?) / (.*?): (.*?)</title>")


def _cells(path: str) -> list[tuple]:
    return [(r, int(c), float(v)) for r, c, v in _TIP.findall(_svg(path))]


def req_heatmap_plot(run, col):
    df = gold_df(run, "station_month_mean", silver_for(run, None), col)
    path = render(run, "render_heatmap", df, "station", "month", f"avg_{col}",
                  os.path.join(run.work, "viz", "heatmap.svg"))
    return lambda: _check(same_rows(_cells(path), run.oracle.station_month(col)),
                          "render_heatmap")


def req_frames(run, col, year):
    rows = collect(run, gold_df(run, "station_month_year_mean",
                                silver_for(run, year), col))
    return lambda: _check(
        same_rows(rows, run.oracle.station_month_year(col, year)),
        "station_month_year_mean")


def req_geo_plot(run, col, year):
    df = gold_df(run, "station_month_year_mean", silver_for(run, year), col)
    stations = read(run, run.ds.dim_path).withColumnRenamed("station_id", "station")
    path = render(run, "render_geo_map", df, stations, f"avg_{col}",
                  os.path.join(run.work, "viz", "geo.svg"))

    def check():
        svg = _svg(path)
        frames = {r[1] for r in run.oracle.station_month_year(col, year)}
        _check(svg.count("<circle") == run.oracle.n_stations()
               and svg.count("<tspan") == len(frames), "render_geo_map")
    return check


def req_corr(run):
    rows = collect(run, gold_df(run, "precipitation_temperature_corr",
                                silver_for(run, None)))
    return lambda: _check(same_rows(rows, run.oracle.corr()),
                          "precipitation_temperature_corr")


def req_names_plot(run, col, year):
    sm = gold_df(run, "station_month_mean", silver_for(run, year), col)
    named = gold_df(run, "remap_station_names", sm, read(run, run.ds.dim_path))
    path = render(run, "render_heatmap", named, "station", "month",
                  f"avg_{col}", os.path.join(run.work, "viz", "names.svg"))
    return lambda: _check(
        same_rows(_cells(path), run.oracle.named_station_month(col, year)),
        "remap_station_names")


# ---------------------------------------------------------------- set-up
def generate_inputs(run: Run, n_stations: int, n_years: int,
                    by_year: bool) -> float:
    """Generate the inputs SETUP_PASSES times into fresh directories,
    keep the last, and return the median pass time."""
    times = []
    for k in range(SETUP_PASSES):
        d = os.path.join(run.work, f"input{k}")
        t = time.perf_counter()
        run.ds = gen.generate_in_child(d, run.seed, n_stations, n_years, by_year)
        times.append(time.perf_counter() - t)
        if k + 1 < SETUP_PASSES:
            shutil.rmtree(d)
    run.oracle = Oracle(run.ds.landing_files, run.ds.dim_path)
    run.silver_path = os.path.join(run.work, "silver")
    return statistics.median(times)


def check_silver(run: Run) -> None:
    """Compare every row and column of the written Silver table."""
    bad = run.oracle.silver_mismatches(run.silver_path)
    _check(bad == 0, f"silver: {bad} rows differ")


def write_silver(run: Run) -> None:
    long_df = read(run, run.ds.landing_dir)
    dim = read(run, run.ds.dim_path)
    write(run, build_silver(run, long_df, dim), run.silver_path)


# ------------------------------------------------------------ workloads
#: The Gold answers a refresh reads back from the Silver it wrote; the
#: wind means check the no-wind station's 0 fallback.
READBACK = (("yearly_mean_temperature",), ("yearly_trend",),
            ("station_month_mean", "avg_wind_speed"))


class MedallionRefresh:
    """Full refresh: landing scan -> Bronze -> Silver -> partitioned
    sink -> three Gold answers read back from the written Silver."""

    name = "medallion_refresh"

    def setup(self, run: Run) -> float:
        gen_s = generate_inputs(run, *SIZES[self.name], by_year=False)
        t = time.perf_counter()
        for _ in range(WARM_UP[self.name]):
            run.verify(lambda: self.refresh(run)())
        return gen_s + time.perf_counter() - t

    def refresh(self, run: Run):
        write_silver(run)
        got = []
        for fn, *args in READBACK:
            with run.measure("query", "op." + fn):
                got.append(collect(run, gold_df(run, fn, silver_for(run, None),
                                                *args)))

        def check():
            o = run.oracle
            want = (o.yearly(), o.trend(), o.station_month("avg_wind_speed"))
            for (fn, *_), rows, exp in zip(READBACK, got, want):
                _check(same_rows(rows, exp), fn)
            check_silver(run)
        return check

    def step(self, run: Run, i: int) -> None:
        run.time_op("refresh", "op.refresh", self.refresh, run)

    def metrics(self, run: Run) -> dict:
        return {**norm_metrics(run, "refresh"),
                **table_metrics(run, run.ds.landing_bytes)}


class GoldDashboard:
    """Seeded dashboard mix against a Silver table built once."""

    name = "gold_dashboard"
    #: One round sends every kind once, in a seeded order; five of the
    #: eleven end in a ``viz.render_*`` call.
    KINDS = ("series", "series_plot", "yearly", "trend", "trend_plot",
             "station_month", "heatmap_plot", "frames", "geo_plot", "corr",
             "names_plot")

    def setup(self, run: Run) -> float:
        gen_s = generate_inputs(run, *SIZES[self.name], by_year=False)
        os.makedirs(os.path.join(run.work, "viz"), exist_ok=True)
        self.rng = np.random.default_rng([run.seed, 1])
        t = time.perf_counter()
        write_silver(run)
        for _ in range(WARM_UP[self.name]):
            for kind in self.KINDS:
                run.verify(lambda: self.request(run, kind)())
        setup_s = gen_s + time.perf_counter() - t
        run.verify(lambda: check_silver(run))
        return setup_s

    def request(self, run: Run, kind: str):
        rng = self.rng
        station = run.ds.stations[int(rng.integers(len(run.ds.stations)))]
        year = int(rng.choice(run.ds.years))
        col = MEASURES[int(rng.integers(len(MEASURES)))]
        fn, *args = {
            "series": (req_series, station, year),
            "series_plot": (req_series_plot, station, year),
            "yearly": (req_yearly,),
            "trend": (req_trend,),
            "trend_plot": (req_trend_plot,),
            "station_month": (req_station_month, col),
            "heatmap_plot": (req_heatmap_plot, col),
            "frames": (req_frames, col, year),
            "geo_plot": (req_geo_plot, col, year),
            "corr": (req_corr,),
            "names_plot": (req_names_plot, col, year),
        }[kind]
        return fn(run, *args)

    def step(self, run: Run, i: int) -> None:
        k = i % len(self.KINDS)
        if k == 0:
            self.order = [str(x) for x in self.rng.permutation(self.KINDS)]
        kind = self.order[k]
        run.time_op("query", "op." + kind, self.request, run, kind)

    def metrics(self, run: Run) -> dict:
        return {**norm_metrics(run, "query"),
                **table_metrics(run, run.ds.landing_bytes)}


class LateBackfill:
    """Late batches rewrite two Silver year partitions; four Gold reads
    follow, three of which read the rewritten years."""

    name = "late_backfill"

    def setup(self, run: Run) -> float:
        gen_s = generate_inputs(run, *SIZES[self.name], by_year=True)
        # Replace only the year partitions a backfill writes.
        run.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        os.makedirs(os.path.join(run.work, "late"), exist_ok=True)
        self.rng = np.random.default_rng([run.seed, 2])
        self.batch = 0
        self.in_bytes = self.out_bytes = 0
        t = time.perf_counter()
        # Silver is built two years at a time through the backfill path,
        # so every partition has the file layout a backfill writes: the
        # table's file count then does not drift with the years the
        # seeded batches happen to rewrite.
        years = run.ds.years
        for k in range(0, len(years), 2):
            self.rebuild(run, years[k:k + 2])
        run.verify(lambda: check_silver(run))
        for _ in range(WARM_UP[self.name]):
            self.cycle(run, warm_up=True)
        return gen_s + time.perf_counter() - t

    def rebuild(self, run: Run, years: list[int]) -> None:
        """Recompute Bronze and Silver for ``years`` from landing and
        replace those Silver partitions."""
        from pyspark.sql import functions as F
        long_df = read(run, run.ds.landing_dir).filter(F.col("year").isin(years))
        write(run, build_silver(run, long_df, read(run, run.ds.dim_path)),
              run.silver_path)

    def backfill(self, run: Run, batch_path: str, years: list[int]):
        write(run, read(run, batch_path), run.ds.landing_dir, mode="append")
        self.rebuild(run, years)

        def check():
            run.oracle.add_batch(batch_path, years)
            check_silver(run)
        return check

    def cycle(self, run: Run, warm_up: bool = False) -> None:
        path = os.path.join(run.work, "late", f"batch-{self.batch:05d}.parquet")
        n = round(LATE_SHARE * 2 * run.ds.n_records / len(run.ds.years))
        years, nbytes = gen.late_batch(run.ds, run.seed, self.batch, path, n)
        self.batch += 1
        rng, st = self.rng, run.ds.stations
        other = int(rng.choice([y for y in run.ds.years if y not in years]))
        reads = [
            (req_series, st[int(rng.integers(len(st)))], years[0]),
            (req_frames, "avg_temperature_rounded", years[1]),
            (req_yearly,),
            (req_frames, "precipitation", other),
        ]
        if warm_up:
            run.verify(lambda: self.backfill(run, path, years)())
            for fn, *args in reads:
                run.verify(lambda: fn(run, *args)())
            return
        before = {**dir_files(run.ds.landing_dir), **dir_files(run.silver_path)}
        if not run.time_op("backfill", "op.backfill", self.backfill, run,
                           path, years):
            # The oracle must still see the batch for the reads below.
            run.oracle.add_batch(path, years)
        after = {**dir_files(run.ds.landing_dir), **dir_files(run.silver_path)}
        self.in_bytes += nbytes
        self.out_bytes += written(before, after)["bytes_written"]
        for fn, *args in reads:
            run.time_op("query", "op." + fn.__name__[4:], fn, run, *args)

    def step(self, run: Run, i: int) -> None:
        self.cycle(run)

    def metrics(self, run: Run) -> dict:
        return {**norm_metrics(run, "backfill"),
                **table_metrics(run, self.in_bytes, self.out_bytes)}


def table_metrics(run: Run, input_bytes: int, written_bytes: int | None = None) -> dict:
    """Silver bytes on disk per Silver row, and bytes written per byte of
    input (by default: the Silver table over the landing data)."""
    silver_bytes = sum(dir_files(run.silver_path).values())
    if written_bytes is None:
        written_bytes = silver_bytes
    return {
        "stored_bytes_per_row": (silver_bytes / run.oracle.silver_rows(), "B"),
        "write_amplification": (written_bytes / input_bytes, "B/B"),
    }


def by_label(ops: list[Op], kind: str, attr: str) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for o in ops:
        if o.kind == kind:
            out.setdefault(o.label, []).append(getattr(o, attr))
    return out


def cpu_ms(ops: list[Op], kind: str) -> float:
    """CPU time of one operation of ``kind``, in ms: the median of each
    request label, averaged over the labels, so that every request in
    the mix weighs the same however its latencies fall."""
    return 1000 * statistics.mean(
        statistics.median(v) for v in by_label(ops, kind, "cpu_s").values())


def norm_metrics(run: Run, op_kind: str) -> dict:
    """CPU time of one operation and of one Gold request, scaled to the
    nominal host speed of the reference."""
    scale = run.ref.scale()
    return {"op_norm_ms": (scale * cpu_ms(run.ops, op_kind), "ms"),
            "query_norm_ms": (scale * cpu_ms(run.ops, "query"), "ms")}


def wall(ops: list[Op], kind: str) -> tuple[float, float]:
    """Wall-clock median latency of ``kind`` in ms, and operations per
    second spent in them."""
    w = [o.wall_s for o in ops if o.kind == kind]
    return 1000 * statistics.median(w), len(w) / sum(w)


WORKLOADS = {w.name: w for w in (MedallionRefresh, GoldDashboard, LateBackfill)}
