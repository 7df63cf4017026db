"""Physical-plan inspection helpers.

``plan_of`` captures ``explain("formatted")`` text; the predicates below
encode the plan properties that matter at 100 TB: did the dim broadcast,
did the filter reach the scan, how many shuffles, did top-k avoid a
global sort, how narrow is the scan schema. ``jobs_and_stages`` counts
what an action actually ran.
"""

from __future__ import annotations

import contextlib
import io
import re
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def plan_of(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def jobs_and_stages(
    spark: SparkSession, action: Callable[[], object]
) -> tuple[int, int]:
    """Run ``action()`` under a fresh job group and return the Spark jobs
    it started and the stages among them that ran tasks (a stage skipped
    because its shuffle output was reused runs none), as counted by
    ``SparkContext.statusTracker()``. The caller's job group is restored
    afterwards."""
    sc = spark.sparkContext
    group = f"jobs-and-stages-{uuid.uuid4().hex}"
    previous = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, "jobs_and_stages")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", previous)
    # The status store is fed asynchronously by the listener bus: let it
    # take in the action's last task and job events before reading it.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
    stages = [
        st.getStageInfo(s) for job in jobs if job is not None for s in job.stageIds
    ]
    ran = [s for s in stages if s and s.numCompletedTasks + s.numFailedTasks]
    return len(jobs), len(ran)


def _n_nodes(plan: str, op: str) -> int:
    """Count physical operators by their detail header ``(N) Op`` —
    formatted explain prints every node twice (tree + detail section)."""
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, flags=re.MULTILINE))


def n_broadcast_joins(plan: str) -> int:
    return _n_nodes(plan, "BroadcastHashJoin")


def n_sortmerge_joins(plan: str) -> int:
    return _n_nodes(plan, "SortMergeJoin")


def n_shuffles(plan: str) -> int:
    """Data shuffles: ``Exchange`` nodes. The header match already
    leaves out ``BroadcastExchange``."""
    return _n_nodes(plan, "Exchange")


def _split_top_level(args: str) -> list[str]:
    """Comma-separated items of ``args`` that sit outside any parentheses."""
    items, depth, cur = [], 0, []
    for ch in args:
        if ch == "," and depth == 0:
            items.append("".join(cur).strip())
            cur = []
            continue
        depth += {"(": 1, ")": -1}.get(ch, 0)
        cur.append(ch)
    items.append("".join(cur).strip())
    return items


def exchange_keys(plan: str) -> list[list[str]]:
    """Partitioning keys of each shuffle Exchange, in detail-section
    order, with ``#id`` suffixes stripped: ``hashpartitioning(year#40,
    8)`` gives ``["year"]``. Range keys drop their sort direction; a
    single-partition or round-robin Exchange gives ``[]``."""
    lines = plan.splitlines()
    out: list[list[str]] = []
    for i, line in enumerate(lines):
        if not re.match(r"^\(\d+\) Exchange\b", line):
            continue
        for t in lines[i + 1 : i + 8]:
            if t.startswith("Arguments: "):
                args = t[len("Arguments: ") :]
                m = re.match(r"(?:hash|range)partitioning\(", args)
                keys = (
                    _split_top_level(_balanced_span(args, m.end() - 1)[1:-1])[:-1]
                    if m
                    else []
                )
                out.append(
                    [
                        re.sub(r" (?:ASC|DESC)\b.*$", "", re.sub(r"#\d+L?", "", k))
                        for k in keys
                    ]
                )
                break
    return out


def has_take_ordered(plan: str) -> bool:
    """Top-k executed as per-partition heap + driver merge, not a global
    sort-then-limit."""
    return "TakeOrderedAndProject" in plan


def pushed_filters(plan: str) -> list[str]:
    """All non-empty PushedFilters entries on parquet scans."""
    return [
        line.strip()
        for line in plan.splitlines()
        if "PushedFilters" in line and "[]" not in line
    ]


def read_schemas(plan: str) -> list[str]:
    """ReadSchema entries — shows column pruning reached the scan."""
    return [line.strip() for line in plan.splitlines() if "ReadSchema" in line]


def _bracket_groups(s: str) -> list[str]:
    """Top-level ``[...]`` groups of a node-argument string (inner
    brackets nest)."""
    groups: list[str] = []
    depth, cur = 0, None
    for ch in s[s.index("[") :] if "[" in s else "":
        if ch == "[":
            if depth == 0:
                cur = []
            depth += 1
            if depth == 1:
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur or []))
                cur = None
                continue
        if cur is not None:
            cur.append(ch)
    return groups


def n_global_windows(plan: str) -> int:
    """Count Window/WindowInPandas nodes with an EMPTY partition spec —
    the plans Spark warns about with "No Partition Defined for Window
    operation" and executes through ONE partition. Accepts both
    ``executedPlan().toString()`` trees and ``explain("formatted")``
    output.

    Node argument format (Spark 4.x):
      [exprs], [partitionSpec], [orderSpec]   -- partitioned
      [exprs], [orderSpec]                    -- GLOBAL, ordered
      [exprs], [partitionSpec]                -- partitioned, no order
      [exprs]                                 -- GLOBAL, no order
    The 2-group case is disambiguated by ASC/DESC tokens (present only
    in order specs). WindowGroupLimit is NOT counted — its final stage
    sees at most k rows per upstream partition by construction.
    """
    lines = plan.splitlines()
    specs: list[str] = []
    for i, line in enumerate(lines):
        s = line.strip().lstrip("+-: *").strip()
        if s.startswith("Window [") or s.startswith("WindowInPandas ["):
            specs.append(s)
        elif re.match(r"^\(\d+\) (Window|WindowInPandas)\b", s):
            for j in range(i + 1, min(i + 8, len(lines))):
                t = lines[j].strip()
                if t.startswith("Arguments: "):
                    specs.append(t[len("Arguments: ") :])
                    break
    n = 0
    for s in specs:
        groups = _bracket_groups(s)
        if len(groups) >= 3:
            continue  # partitioned
        if len(groups) == 2 and not (
            " ASC" in groups[1] or " DESC" in groups[1]
        ):
            continue  # [exprs], [partitionSpec] — partitioned, no order
        n += 1
    return n


#: Expression functions expensive enough that re-evaluating them once
#: per EXPLODED row (instead of once per input row) is a plan defect:
#: tokenizers and array/lambda HOFs that walk whole strings or arrays.
_HEAVY_FNS = (
    "split(",
    "zip_with(",
    "transform(",
    "aggregate(",
    "filter(",
    "exists(",
    "forall(",
    "array_distinct(",
    "array_sort(",
    "sort_array(",
    "arrays_zip(",
    "array_intersect(",
    "array_union(",
    "array_except(",
    "flatten(",
    "sentences(",
    "regexp_replace(",
    "regexp_extract(",
)


def _tree_prefix_len(line: str) -> int:
    """Length of the tree-drawing prefix (``: ``/``  ``/``+- ``/``:- ``
    runs) before a plan line's node text. A node's direct child prints
    at parent prefix + 3 (one more ``+- `` hop)."""
    m = re.match(r"(?:[+:]- |:  |   )*", line)
    return m.end() if m else 0


def _balanced_span(s: str, open_idx: int) -> str:
    """The substring of ``s`` from the ``(`` at ``open_idx`` to its
    matching ``)`` (whole string if unbalanced — plan text can elide)."""
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return s[open_idx : i + 1]
    return s[open_idx:]


def n_generate_hot_projects(plan: str) -> int:
    """Count Project nodes sitting DIRECTLY ABOVE a Generate that
    evaluate heavy expressions (tokenizers / array HOFs, ``_HEAVY_FNS``)
    over NON-generated columns — the Catalyst ExtractGenerator shape
    where a doc-grained expression lands in the projection applied to
    every exploded row and is re-evaluated once per generated row
    (~fan-out× too often). The round-5 ``quality_ensemble_vote`` defect
    class: 12× constant-factor on a linear plan, invisible to exchange/
    join-strategy counting.

    Works on ``executedPlan().toString()`` trees, where a Project's
    single child is printed on the next line:

        *(2) Project [doc_id#1L, size(split(text#2, ...)) > 3, g#9]
        +- *(2) Generate explode(...), [doc_id#1L, text#2], false, [g#9]

    A heavy call is hot when its argument span references at least one
    column id and NONE of them is a generator-OUTPUT id (the last
    bracket group of the Generate line) — per-generated-row work over
    the generated column is inherent, over anything else it belongs
    below the Generate.

    Precision guards (round-6 advice): the Generate on the next line
    must be the Project's DIRECT child — confirmed by tree-prefix
    indentation (child prefix = parent prefix + 3, i.e. one more
    ``+- ``/``:- `` hop), not mere line adjacency, so a sibling
    subtree's Generate printed on the following line can't
    false-positive. Heavy-fn matches anchor on a word boundary so
    ``filter(`` can't match inside ``bloom_filter_agg(``."""
    lines = plan.splitlines()
    n = 0
    for i in range(len(lines) - 1):
        pm = re.search(r"\bProject \[", lines[i])
        gm = re.search(r"\bGenerate \w+\(", lines[i + 1])
        if not pm or not gm:
            continue
        if _tree_prefix_len(lines[i + 1]) != _tree_prefix_len(lines[i]) + 3:
            continue  # adjacent line is not the Project's direct child
        groups = _bracket_groups(lines[i + 1][gm.start() :])
        gen_out_ids = set(re.findall(r"#(\d+)", groups[-1])) if groups else set()
        proj = lines[i][pm.end() - 1 :]
        hot = False
        for fn in _HEAVY_FNS:
            pat = r"(?<![\w.])" + re.escape(fn)
            for m in re.finditer(pat, proj):
                span = _balanced_span(proj, m.end() - 1)
                ids = set(re.findall(r"#(\d+)", span))
                if ids and not (ids & gen_out_ids):
                    hot = True
        if hot:
            n += 1
    return n


def scan_columns(plan: str) -> list[set[str]]:
    """Column-name sets per parquet scan (pruning check)."""
    out = []
    for line in read_schemas(plan):
        m = re.search(r"struct<(.*)>", line)
        if m:
            out.append(
                {c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()}
            )
    return out
