"""Plan linter: flag scale anti-patterns in a DataFrame's plan.

The same checks the repo's own plan-quality tests enforce, packaged as
a runtime API so users can vet THEIR queries before pointing them at
100 TB. Every check reads the already-compiled plan — linting runs no
jobs and touches no data.

What it flags (each a structured ``PlanWarning``):

- ``single-partition-window`` — a window function with no
  ``partitionBy``: Spark collapses the whole input to ONE partition to
  satisfy the global sort, the classic cluster-killer. (The repo's own
  ``rank``/slicing avoid it via a sort plus Spark's distributed
  sequence, plans/ordering.py.)
- ``single-partition-exchange`` — an ``Exchange SinglePartition`` from
  ``repartition(1)``/``coalesce(1)``-style plans: one task processes
  everything downstream of it.
- ``cartesian-join`` — ``CartesianProduct`` / ``BroadcastNestedLoopJoin``:
  a theta join Catalyst could not turn into a hash join. For
  point-in-interval predicates use ``range_join(bucket_width=...)``
  (operators/joins.py), which rewrites to an equi-join on bins.
- ``python-row-udf`` — ``BatchEvalPython`` (row-at-a-time Python UDF,
  one Python call per row) in the plan. Arrow-vectorized nodes
  (``ArrowEvalPython``, ``MapInPandas``) are fine and not flagged.
- ``global-sort`` — informational: a range-partitioned exchange (full
  global sort). Legitimate for ordered output; wasteful when only a
  top-k was wanted (use ``head``/``limit`` so Spark plans
  ``TakeOrderedAndProject`` instead).
- ``nondeterministic-ordinal-join`` — a join whose CONDITION compares
  two attributes that are each defined by their own
  ``monotonically_increasing_id()`` projection. That shape arises when
  one frame is stamped with a fresh ordinal and then SELF-joined (an
  aggregate of itself joined back on the ordinal): the two branches
  re-evaluate the nondeterministic expression independently, and any
  unstable upstream row order (round-robin repartition, task retry,
  shuffle read order) lets the ids disagree between branches —
  silently mis-keying the join. Key such folds on deterministic row
  CONTENT (the columns themselves, or ``xxhash64(struct(...))``), or
  pin one evaluation with persist/localCheckpoint before branching.

Deliberately NOT flagged: broadcast-vs-shuffle join choice (needs
statistics Catalyst/AQE already uses), shuffle counts (workload-
dependent), and anything requiring data access.

``plan_shape`` answers a different question: which physical operators
the plan holds, as a name -> count map. ``plans/shapes.json`` pins it
for every registry query (``scripts/capture_plans.py`` rebuilds and
checks it), so a change of plan structure shows up as a one-line diff.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame

#: sort-direction markers that distinguish a sort spec from a partition
#: column inside ``windowspecdefinition(part..., sort..., frame)``
_SORT_MARK = re.compile(r"\b(ASC|DESC)\b")

#: an attribute defined by monotonically_increasing_id() in the analyzed
#: plan: ``monotonically_increasing_id() AS __row_ord__#123L``
_MID_DEF = re.compile(r"monotonically_increasing_id\(\)\s+AS\s+[^#\s,]*#(\d+)")
#: a join node carrying a condition: ``Join LeftOuter, (a#1L = b#2L)``
_JOIN_COND = re.compile(r"\bJoin\s+\w+,\s+(.*)$", re.MULTILINE)
_ATTR_REF = re.compile(r"#(\d+)")

#: a child line of a plan tree string: indentation, then the branch
#: marker (``+- `` or ``:- ``), then the node
_TREE_LINE = re.compile(r"^([ :|]*)[+:]- (.*)$")
#: a node: optional whole-stage codegen prefix ``*(n) ``, its name and
#: the word after it (an Exchange's partitioning kind, a Scan's source)
_NODE = re.compile(r"(?:\*\(\d+\) )?(\w+)(?: (\w+))?")
#: nodes plan_shape leaves out: the AQE wrapper, and the three that
#: move with harmless refactors
_UNCOUNTED = {"AdaptiveSparkPlan", "Project", "Filter", "ColumnarToRow"}


@dataclass(frozen=True)
class PlanWarning:
    code: str
    message: str

    def __str__(self) -> str:  # pragma: no cover - repr convenience
        return f"[{self.code}] {self.message}"


def _balanced_args(s: str, start: int) -> str:
    depth = 0
    for i in range(start, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return s[start + 1 : i]
    return s[start + 1 :]


def _split_top_level(args: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in args:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def _unpartitioned_windows(analyzed: str) -> int:
    """Count windowspecdefinitions whose FIRST top-level argument is
    already a sort spec (i.e. no partition columns)."""
    n = 0
    for m in re.finditer(r"windowspecdefinition\(", analyzed):
        args = _split_top_level(_balanced_args(analyzed, m.end() - 1))
        if args and _SORT_MARK.search(args[0]):
            n += 1
    return n


def _ordinal_join_conditions(analyzed: str) -> int:
    """Count join conditions comparing two DISTINCT attributes that are
    each produced by a ``monotonically_increasing_id()`` projection —
    the self-join-on-fresh-ordinal hazard (two independent evaluations
    of a nondeterministic expression keying one join)."""
    mid_ids = set(_MID_DEF.findall(analyzed))
    if len(mid_ids) < 2:
        return 0
    n = 0
    for m in _JOIN_COND.finditer(analyzed):
        refs = {i for i in _ATTR_REF.findall(m.group(1)) if i in mid_ids}
        if len(refs) >= 2:
            n += 1
    return n


def lint_plan(df: DataFrame) -> list[PlanWarning]:
    """Return scale-anti-pattern warnings for ``df``'s plan (no jobs run)."""
    qe = df._jdf.queryExecution()
    analyzed = qe.analyzed().toString()
    physical = qe.executedPlan().toString()
    out: list[PlanWarning] = []

    n_global_windows = _unpartitioned_windows(analyzed)
    if n_global_windows:
        out.append(
            PlanWarning(
                "single-partition-window",
                f"{n_global_windows} window(s) have no partitionBy — the "
                "whole input collapses to one partition to satisfy the "
                "global sort. Partition the window, or derive global "
                "positions from a sort plus Spark's distributed "
                "sequence (see plans/ordering.dense_index).",
            )
        )
    if "Exchange SinglePartition" in physical:
        out.append(
            PlanWarning(
                "single-partition-exchange",
                "plan repartitions to a single partition — one task "
                "processes everything downstream. Intentional for tiny "
                "final results; a bottleneck anywhere else.",
            )
        )
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if node in physical:
            out.append(
                PlanWarning(
                    "cartesian-join",
                    f"{node} in plan: a non-equi join Catalyst could not "
                    "hash. For point-in-interval predicates use "
                    "range_join(bucket_width=...) to rewrite into an "
                    "equi-join on bins.",
                )
            )
            break
    if "BatchEvalPython" in physical:
        out.append(
            PlanWarning(
                "python-row-udf",
                "row-at-a-time Python UDF (BatchEvalPython) in the plan — "
                "one Python call per row. Prefer native "
                "pyspark.sql.functions, or an Arrow-vectorized "
                "pandas_udf/mapInPandas (10-100x less overhead).",
            )
        )
    n_ord_joins = _ordinal_join_conditions(analyzed)
    if n_ord_joins:
        out.append(
            PlanWarning(
                "nondeterministic-ordinal-join",
                f"{n_ord_joins} join condition(s) compare two attributes "
                "each defined by its own monotonically_increasing_id() — "
                "a self-join keyed on a fresh nondeterministic ordinal. "
                "The branches re-evaluate the ids independently, so an "
                "unstable upstream row order (repartition, task retry, "
                "shuffle read) silently mis-keys the join. Key the fold "
                "on deterministic row content (the columns themselves or "
                "xxhash64(struct(...))), or persist/localCheckpoint the "
                "stamped frame before branching.",
            )
        )
    if re.search(r"Exchange rangepartitioning", physical) and (
        "TakeOrderedAndProject" not in physical
    ):
        out.append(
            PlanWarning(
                "global-sort",
                "full global sort (range-partitioned exchange). Fine for "
                "ordered output; if only a top-k is consumed, apply the "
                "limit in the same plan so Spark uses "
                "TakeOrderedAndProject instead.",
            )
        )
    return out


def plan_shape(df: DataFrame) -> dict[str, int]:
    """Count the physical operators of ``df``'s plan (no jobs run).

    Reads ``executedPlan()``, the initial adaptive plan, and returns a
    name -> count map sorted by name. ``Exchange`` is qualified by its
    partitioning kind (``Exchange hashpartitioning``) and a scan by its
    source (``FileScan parquet``, ``Scan ExistingRDD``). Project, Filter
    and ColumnarToRow are not counted. A persisted frame is its own
    plan: only its ``InMemoryTableScan`` counts, not the subtree Spark
    prints under it (which differs once the cache is materialized). On
    a frame that has run, only the initial plan counts.
    """
    counts: Counter = Counter()
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    skip_below = None  # marker column of the node whose subtree is skipped
    for i, line in enumerate(lines):
        m = _TREE_LINE.match(line)
        if m:
            col, node = len(m.group(1)), m.group(2)
        elif i == 0:
            col, node = 0, line
        else:  # a multi-line literal, or a stage header of a final plan
            continue
        if skip_below is not None:
            if col > skip_below:
                continue
            skip_below = None
        if node.startswith(("InMemoryRelation", "== Final Plan ==")):
            skip_below = col
            continue
        m = _NODE.match(node)
        if m is None or m.group(1) in _UNCOUNTED:
            continue  # "== Initial Plan ==" or a node left out
        name, qual = m.groups()
        if qual and (name == "Exchange" or "Scan" in name):
            name = f"{name} {qual}"
        counts[name] += 1
    return dict(sorted(counts.items()))
