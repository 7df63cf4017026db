"""Span tracer for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side of each call into the
program's layers; the program itself is not instrumented. Each span
gets its own Spark job group, so ``SparkContext.statusTracker()`` can
attribute jobs, stages and tasks to it, and a span that materializes a
DataFrame also keeps the SQL metrics of that DataFrame's executed plan
(rows, bytes and task time scanned, shuffle bytes written).

With tracing off, :class:`Tracer` does nothing: no job groups, no
materialization, no plan walks.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


def plan_nodes(plan, out: list) -> list:
    """Flatten an executed physical plan, looking through adaptive
    query stages (AQE) to the operators that actually ran."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return plan_nodes(plan.executedPlan(), out)
    if name.endswith("QueryStageExec"):
        return plan_nodes(plan.plan(), out)
    if name == "ReusedExchangeExec":
        return plan_nodes(plan.child(), out)
    out.append(plan)
    children = plan.children()
    for i in range(children.size()):
        plan_nodes(children.apply(i), out)
    return out


def plan_counters(df) -> dict:
    """Scan and shuffle counters from the SQL metrics of ``df``'s
    executed plan (valid once an action ran on ``df`` itself)."""
    jvm = df.sparkSession.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    c = {"scan_rows": 0, "scan_bytes": 0, "files_read": 0, "scan_ms": 0,
         "shuffle_bytes": 0}
    for node in plan_nodes(df._jdf.queryExecution().executedPlan(), []):
        kind = node.getClass().getSimpleName()
        m = conv.asJava(node.metrics())
        if kind == "FileSourceScanExec":
            c["scan_rows"] += m["numOutputRows"].value()
            c["scan_bytes"] += m["filesSize"].value()
            c["files_read"] += m["numFiles"].value()
            if m.containsKey("scanTime"):  # columnar (vectorized) scans
                c["scan_ms"] += m["scanTime"].value()
        elif kind == "ShuffleExchangeExec":
            c["shuffle_bytes"] += m["shuffleBytesWritten"].value()
    return c


class Span:
    """One call into a layer: name, op id, parent span, times, counters."""

    __slots__ = ("id", "name", "op", "parent", "start", "end", "counters")

    def __init__(self, sid, name, op, parent):
        self.id, self.name, self.op, self.parent = sid, name, op, parent
        self.start = self.end = 0.0
        self.counters: dict = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "op": self.op,
                "parent": self.parent, "start": self.start, "end": self.end,
                **self.counters}


class Tracer:
    """Records spans while ``enabled``; a no-op otherwise."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.plan_s = 0.0

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name,
                 op if op is not None else (parent.op if parent else None),
                 parent.id if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        group = f"perfbench-{s.id}"
        sc.setJobGroup(group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            s.counters.update(self._job_counters(group))

    def _job_counters(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                # Stages skipped because their shuffle output was reused
                # ran no tasks.
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def plan(self, fn, *args):
        """Call a lazy ``build_*`` / ``gold.*`` function; with tracing
        on, its time is plan-building time."""
        if not self.enabled:
            return fn(*args)
        t = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.plan_s += time.perf_counter() - t

    def boundary(self, df):
        """Materialize ``df`` at a layer boundary so the enclosing span
        covers its execution; record its plan counters and row count."""
        if not self.enabled:
            return df
        out = df.localCheckpoint(eager=True)
        s = self._stack[-1]
        s.counters.update(plan_counters(df))
        sc = self.spark.sparkContext
        sc.setJobGroup("perfbench-aux", "row count")  # not the span's job
        s.counters["rows_out"] = out.count()
        sc.setJobGroup(f"perfbench-{s.id}", s.name)
        return out

    def note(self, **counters):
        if self.enabled and self._stack:
            self._stack[-1].counters.update(counters)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _ratio(num, den):
    return num / den if den else 0.0


GOLD_FNS = ("per_station_series", "yearly_mean_temperature",
            "station_month_mean", "station_month_year_mean",
            "precipitation_temperature_corr", "yearly_trend",
            "remap_station_names")
VIZ_FNS = ("render_time_series", "render_trend", "render_heatmap",
           "render_geo_map")


def layer_metrics(tracer: Tracer, measured: list) -> dict:
    """Per-layer metrics from the recorded spans. ``measured`` holds every
    measured operation (``workloads.Op``); the tracing overhead is the
    difference of the traced and untraced mean wall times."""
    by: dict[str, list[Span]] = {}
    for s in tracer.spans:
        by.setdefault(s.name, []).append(s)

    def get(name, key):
        return [s.counters.get(key, 0) for s in by.get(name, [])]

    def secs(name):
        return _median([s.seconds for s in by.get(name, [])])

    out = {}
    b_in, b_out = get("bronze", "scan_rows"), get("bronze", "rows_out")
    out["bronze.s"] = (secs("bronze"), "s")
    out["bronze.rows_in"] = (_median(b_in), "count")
    out["bronze.rows_out"] = (_median(b_out), "count")
    out["bronze.keep_ratio"] = (_ratio(sum(b_out), sum(b_in)), "ratio")
    out["bronze.shuffle_bytes"] = (_median(get("bronze", "shuffle_bytes")), "B")
    out["silver.s"] = (secs("silver"), "s")
    out["silver.rows_out"] = (_median(get("silver", "rows_out")), "count")
    out["silver.shuffle_bytes"] = (_median(get("silver", "shuffle_bytes")), "B")
    out["files.write_s"] = (secs("files.write"), "s")
    for key, unit in (("files_written", "count"), ("bytes_written", "B"),
                      ("partitions_written", "count")):
        out[f"files.{key}"] = (_median(get("files.write", key)), unit)

    # Scans of the Silver table by Gold requests (the dim-table join of
    # remap_station_names scans no Silver file).
    scans = [s for fn in GOLD_FNS if fn != "remap_station_names"
             for s in by.get(f"gold.{fn}", [])]
    n = len(scans)
    scan_rows = sum(s.counters.get("scan_rows", 0) for s in scans)
    out["files.scan_rows"] = (_ratio(scan_rows, n), "count")
    out["files.scan_bytes"] = (
        _ratio(sum(s.counters.get("scan_bytes", 0) for s in scans), n), "B")
    out["files.files_read_ratio"] = (_ratio(
        sum(s.counters.get("files_read", 0) for s in scans),
        sum(s.counters.get("table_files", 0) for s in scans)), "ratio")
    out["gold.rows_scanned_per_row_returned"] = (_ratio(
        scan_rows, sum(s.counters.get("rows_out", 0) for s in scans)), "ratio")
    # Task time spent reading Silver files per second of Gold call; the
    # rest is job set-up, scheduling, the aggregation and the collect.
    out["gold.scan_share"] = (_ratio(
        sum(s.counters.get("scan_ms", 0) for s in scans) / 1000,
        sum(s.seconds for s in scans)), "ratio")
    for fn in GOLD_FNS:
        out[f"gold.{fn}.s"] = (secs(f"gold.{fn}"), "s")
    for fn in VIZ_FNS:
        out[f"viz.{fn}.s"] = (secs(f"viz.{fn}"), "s")
    viz = [s for fn in VIZ_FNS for s in by.get(f"viz.{fn}", [])]
    out["viz.bytes_written"] = (
        _ratio(sum(s.counters.get("viz_bytes", 0) for s in viz), len(viz)), "B")

    ops = [s for s in tracer.spans if s.name.startswith("op.")]
    total = {k: sum(s.counters.get(k, 0) for s in tracer.spans)
             for k in ("jobs", "stages", "tasks", "failed_tasks")}
    out["session.plan_s"] = (_ratio(tracer.plan_s, len(ops)), "s")
    out["session.jobs_per_op"] = (_ratio(total["jobs"], len(ops)), "count")
    out["session.stages_per_op"] = (_ratio(total["stages"], len(ops)), "count")
    out["session.tasks_per_op"] = (_ratio(total["tasks"], len(ops)), "count")
    out["session.failed_tasks"] = (total["failed_tasks"], "count")

    # Wall-clock latency, from the untraced rounds: it moves with the
    # host's load, so it is reported here, without a bound.
    for kind, name in (("query", "query"), ("backfill", "op"), ("refresh", "op")):
        wall = [o.wall_s for o in measured if o.kind == kind and not o.traced]
        if wall:
            out[f"wall.{name}_p50_ms"] = (1000 * statistics.median(wall), "ms")
    if "wall.op_p50_ms" not in out:
        out["wall.op_p50_ms"] = out["wall.query_p50_ms"]
    query = [o.wall_s for o in measured if o.kind == "query" and not o.traced]
    out["wall.queries_per_s"] = (_ratio(len(query), sum(query)), "1/s")

    on = [o.wall_s for o in measured if o.traced]
    off = [o.wall_s for o in measured if not o.traced]
    mean_on = sum(on) / len(on) if on else 0.0
    mean_off = sum(off) / len(off) if off else 0.0
    out["trace.overhead_ms"] = (1000 * (mean_on - mean_off), "ms")
    out["trace.overhead_pct"] = (100 * _ratio(mean_on - mean_off, mean_off), "%")
    return out
