"""Gold layer: every analytic the reference computes in pandas/numpy
after toPandas(), pushed into Spark so only plot-sized results cross the
driver boundary (SURVEY.md §3.3 — the reference ships ~27k rows per
station to the driver; at 100 TB that's fatal).

Each function returns a small aggregate DataFrame; rendering (plotly /
matplotlib in the reference, Weather_API.py:533-1012) is a thin consumer
of these outputs and deliberately out of engine scope.

One stage when Silver is small: every aggregate reads its input through
``sources.files.gather_small_scan``, which coalesces a Silver of at most
``GATHER_MAX_BYTES`` (4 MiB) file bytes to one partition. The
aggregate then plans no Exchange and a request runs as one job of one
stage instead of scan, partial aggregate, shuffle and final aggregate in
2-3 jobs. Above the threshold the parallel plan is kept. The threshold
sits below the measured CPU crossover: on 4 vCPUs one task cost no more
CPU than the parallel plan up to a 5.2 MB Silver and more from 7.8 MB
(details on the helper).

No job for a repeat: every public function passes the frame it built
through ``served``, which keeps the answers of repeated requests in
driver memory (an LRU of ``MEMO_ENTRIES``). The key is the request's
canonical plan plus the path, length and modification time of every
file it reads, so a rewritten Silver (new files) never meets an old
answer. The first sight of a request only records its key and returns
the built, lazy frame; the second collects it once and keeps the rows;
from then on the request gets a frame over those rows (a
``LocalRelation``), whose collect runs no Spark job. A request over
anything but files and literal rows (an in-memory or RDD-backed frame, a
cache) passes through untouched. A request's CPU is Spark's per-job
floor, not its rows: in ``perfbench``'s ``gold_dashboard`` on 4 vCPUs a
served ``yearly``, ``trend`` or ``corr`` request took 108-125 ms of CPU
against 207-254 ms built, most of the rest being the Silver open's own
schema-inference job.
"""

from __future__ import annotations

import functools
import os
import threading
from collections import OrderedDict
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from weather_analysis_bigdata__spark.pipeline.silver import station_dim_by_id
from weather_analysis_bigdata__spark.sources.files import gather_small_scan

#: Requests whose answers are kept, least recently used evicted first.
#: A dashboard round repeats about ten; an entry holds a plot-sized
#: answer (at most a few thousand rows).
MEMO_ENTRIES = 256

#: key -> None after a first sight, or (the frame whose rows were kept,
#: the served frame over them). A first sight keeps no JVM object: a
#: backfill's reads never repeat, and keeping their plans alive cost
#: late_backfill CPU.
_memo: OrderedDict[tuple, tuple[DataFrame, DataFrame] | None] = OrderedDict()
_memo_lock = threading.Lock()


def _memo_key(df: DataFrame) -> tuple | None:
    """The session, the canonical plan's hash and the (path, length,
    modification time) of every file ``df`` reads; ``None`` when a leaf
    of its optimized plan is neither a file scan nor literal rows, or a
    file cannot be stat'ed. Needs no job: the listing is the one the
    scan already holds."""
    jdf = df._jdf
    leaves = jdf.queryExecution().optimizedPlan().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.nodeName()
        if not (kind == "LocalRelation" or kind == "LogicalRelation" and (
            leaf.relation().getClass().getSimpleName() == "HadoopFsRelation"
        )):
            return None
    files = []
    for uri in jdf.inputFiles():
        url = urlparse(uri)
        if url.scheme != "file":
            return None
        try:
            st = os.stat(unquote(url.path))
        except OSError:
            return None
        files.append((uri, st.st_size, st.st_mtime_ns))
    session = df.sparkSession._jsparkSession.sessionUUID()
    return session, jdf.semanticHash(), tuple(sorted(files))


def served(df: DataFrame) -> DataFrame:
    """``df``, or a frame over its kept rows when the same request over
    the same files was seen before (the module docstring). The second
    sight collects ``df`` once; if that raises, nothing is kept and
    ``df`` is returned, so the caller's own action raises as before."""
    # The renderers also pass objects that only have ``collect``.
    if getattr(df, "_jdf", None) is None or df.sparkSession.sparkContext._jsc is None:
        return df  # not a JVM-backed frame, or its session is stopped
    key = _memo_key(df)
    if key is None:
        return df
    with _memo_lock:
        seen = key in _memo
        if seen:
            entry = _memo[key]
            _memo.move_to_end(key)
        else:
            _memo[key] = None
            while len(_memo) > MEMO_ENTRIES:
                _memo.popitem(last=False)
    if not seen:
        return df
    if entry is not None and df.sameSemantics(entry[0]):
        return entry[1]
    # The second sight (or a plan whose hash collides): keep df's answer.
    try:
        rows = df._jdf.collectAsList()
    except Exception:
        return df
    # Built on the JVM: a LocalRelation, whose collect runs no job
    # (PySpark's createDataFrame of Python rows plans an RDD scan).
    jdf = df.sparkSession._jsparkSession.createDataFrame(rows, df._jdf.schema())
    answer = DataFrame(jdf, df.sparkSession)
    with _memo_lock:
        if key in _memo:
            _memo[key] = (df, answer)
    return answer


def _answer(build):
    """A public Gold request: ``build``'s frame passed through ``served``.
    ``build`` itself stays reachable as ``__wrapped__``."""

    @functools.wraps(build)
    def request(*args, **kwargs):
        return served(build(*args, **kwargs))

    return request


@_answer
def per_station_series(
    silver: DataFrame, station: str, cols: tuple[str, ...] = (
        "Date_1", "max_temperature", "min_temperature", "avg_temperature_rounded"
    )
) -> DataFrame:
    """Ordered time series for one station (Weather_API.py:522-529) —
    parameterized instead of five copy-pasted cells (F1/P2/O1).

    Sorted on one reducer, not with a global ``orderBy``: a range sort
    first runs a sampling job that scans the filtered Silver once more
    to pick its bounds, while one station holds at most 366 rows a
    year, so a single partition costs nothing at any scale. A small
    Silver is read in one task and needs no exchange at all; a large
    one is scanned in parallel and its filtered rows gathered."""
    one = gather_small_scan(silver)
    rows = one.filter(F.col("station") == station).select(*cols)
    if one is silver:  # above the threshold: scanned in parallel
        rows = rows.repartition(1)
    return rows.sortWithinPartitions("Date_1")


@_answer
def yearly_mean_temperature(silver: DataFrame) -> DataFrame:
    """Mean rounded temperature per year (Weather_API.py:981-984)."""
    return gather_small_scan(silver).groupBy("year").agg(
        F.avg("avg_temperature_rounded").alias("avg_temperature"),
        F.count(F.lit(1)).alias("n_days"),
    )


@_answer
def station_month_mean(silver: DataFrame, value_col: str) -> DataFrame:
    """Station × calendar-month mean of a measure
    (Weather_API.py:1037-1042 temperature, :1093-1098 precipitation)."""
    return gather_small_scan(silver).groupBy(
        "station", F.month("Date_1").alias("month")
    ).agg(F.avg(value_col).alias(f"avg_{value_col}"))


@_answer
def station_month_year_mean(silver: DataFrame, value_col: str) -> DataFrame:
    """Station × yyyy-MM mean (animated-map frames, Weather_API.py:846-875)."""
    return gather_small_scan(silver).groupBy(
        "station", F.date_format("Date_1", "yyyy-MM").alias("month_year")
    ).agg(F.avg(value_col).alias(f"avg_{value_col}"))


@_answer
def precipitation_temperature_corr(silver: DataFrame) -> DataFrame:
    """Pearson correlation precipitation ↔ temperature
    (Weather_API.py:1171 pandas .corr → F.corr, stays distributed)."""
    return gather_small_scan(silver).agg(
        F.corr("precipitation", "avg_temperature_rounded").alias("corr")
    )


@_answer
def yearly_trend(silver: DataFrame) -> DataFrame:
    """OLS degree-1 trend of yearly mean temperature over year
    (Weather_API.py:987-993 np.polyfit → regr_slope/regr_intercept over
    the yearly aggregate — two-level aggregation, all in Spark).

    Aggregates the built yearly frame, never a served one, so the trend
    is keyed on its own plan over Silver's files."""
    yearly = yearly_mean_temperature.__wrapped__(silver)
    return yearly.agg(
        F.regr_slope("avg_temperature", "year").alias("slope"),
        F.regr_intercept("avg_temperature", "year").alias("intercept"),
    )


@_answer
def remap_station_names(df: DataFrame, mapping: DataFrame) -> DataFrame:
    """station id → display name via broadcast join (the scalable form of
    pandas .replace(station_mapping), Weather_API.py:1026-1033). A
    station missing from ``mapping`` keeps its id; the columns and their
    order are ``df``'s. A ``station_id`` listed twice in ``mapping``
    fails the job instead of doubling its rows
    (``silver.station_dim_by_id``). The checked dim is itself passed
    through ``served``: over an unchanged dim file it is checked on two
    sights and then broadcast from its kept rows, so the check's
    aggregate (35-60 ms of CPU per request on 4 vCPUs) runs once per
    dim file, not once per request.

    One USING join on ``station`` and one SQL projection: ``df`` often
    shares lineage with ``mapping`` (the dim joined earlier in Silver),
    and joining by column name never resolves an ambiguous reference, so
    it needs no aliases (each Column-API call is a JVM round trip)."""
    return df.join(
        F.broadcast(served(station_dim_by_id(mapping, "name"))),
        "station",
        "left",
    ).selectExpr(*(
        "coalesce(name, station) AS station" if c == "station" else f"`{c}`"
        for c in df.columns
    ))
