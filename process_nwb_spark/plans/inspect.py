"""Physical-plan inspection helpers: make plan quality testable.

The scale contract of every operator ("does the filter reach the scan? is
the dim broadcast? does the agg combine map-side? how many shuffles?") is
asserted in tests/test_plans.py with these, so a regression that silently
de-optimizes a plan (e.g. a cast blocking pushdown, a join flipping to
sort-merge-broadcastable) fails CI rather than only showing up at 100 TB.
"""
from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (what .explain(mode) prints)."""
    jqe = df._jdf.queryExecution()
    jmode = (df.sparkSession._jvm.org.apache.spark.sql.execution
             .ExplainMode.fromString(mode))
    return jqe.explainString(jmode)


# The plan-node table: counter key -> physical node names. The registry
# audit (node_counts, scripts/audit_plans.py) and the count_exchanges /
# has_broadcast_join pins count the same nodes. A name matches as a whole
# word, so "Exchange" does not match inside BroadcastExchange or
# ReusedExchange, nor "Sort" inside SortAggregate or SortMergeJoin.
PLAN_NODES: dict[str, tuple[str, ...]] = {
    "exchange": ("Exchange",),               # shuffles, broadcasts excluded
    "bcast_exchange": ("BroadcastExchange",),
    "sort": ("Sort",),                       # SMJ sides, SortAggregate feeds
    "sort_agg": ("SortAggregate",),          # array/struct agg buffers
    "window": ("Window", "WindowGroupLimit"),
    "py_eval": ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "FlatMapGroupsInPandas", "ApplyInPandasWithState",
                "MapInArrow"),
    # row-at-a-time Python UDFs alone, so "no BatchEvalPython anywhere in
    # the registry" is a checkable audit figure
    "py_row_eval": ("BatchEvalPython",),
    "nlj_or_cartesian": ("CartesianProduct", "BroadcastNestedLoopJoin"),
    "generate": ("Generate",),               # explode fan-outs
    "smj": ("SortMergeJoin",),
    "bhj": ("BroadcastHashJoin",),
    "shj": ("ShuffledHashJoin",),
}

# A Window whose partition list is empty: a single task at scale unless
# its input is already metadata-sized. Read from the detail blocks, where
# the arguments are "[<window exprs>], [], [<order>]".
_GLOBAL_WINDOW = re.compile(
    r"Arguments: \[[^\]]*windowspecdefinition[^\n]*\], \[\](?:, \[[^\]]*\])?")


def _count(plan: str, names: tuple[str, ...]) -> int:
    return len(re.findall(r"\b(?:%s)\b" % "|".join(names), plan))


def node_counts(df: DataFrame) -> dict[str, int]:
    """PLAN_NODES counts plus `global_window` for one DataFrame's plan.

    Counted on the node lines of the formatted plan's main tree (one line
    per node, before the first detail block), so argument text such as a
    lambda that mentions "sort" cannot inflate a count."""
    txt = formatted_plan(df)
    tree_end = txt.find("\n\n(1) ")
    tree = txt[:tree_end] if tree_end > 0 else txt
    out = {k: _count(tree, names) for k, names in PLAN_NODES.items()}
    out["global_window"] = len(_GLOBAL_WINDOW.findall(txt))
    return out


def count_exchanges(df: DataFrame,
                    include_single_partition: bool = True) -> int:
    """Number of shuffle boundaries: PLAN_NODES' "exchange" nodes in the
    simple plan, which also prints subqueries and cached plans inline.

    Counts `Exchange SinglePartition` too (the all-data-to-one-task funnel
    — the WORST shuffle at scale; an earlier version silently ignored it,
    which made the shuffle-count CI gate blind to exactly the regression
    it exists to catch). Pass include_single_partition=False only when a
    plan legitimately ends in a bounded global rollup that the assertion
    doesn't mean to count."""
    n = _count(formatted_plan(df, "simple"), PLAN_NODES["exchange"])
    if not include_single_partition:
        n -= count_single_partition_exchanges(df)
    return n


def count_single_partition_exchanges(df: DataFrame) -> int:
    """`Exchange SinglePartition` occurrences alone — assert 0 on any plan
    whose input is unbounded."""
    return len(re.findall(r"\bExchange SinglePartition",
                          formatted_plan(df, "simple")))


def has_broadcast_join(df: DataFrame) -> bool:
    """A BroadcastHashJoin or a BroadcastNestedLoopJoin in the plan."""
    return _count(formatted_plan(df, "simple"),
                  PLAN_NODES["bhj"] + ("BroadcastNestedLoopJoin",)) > 0


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (predicate pushdown proof)."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of each scan (column-pruning proof)."""
    plan = formatted_plan(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan)]


def count_scans(df: DataFrame, source: str = "parquet") -> int:
    """Scans of one source. Matched as a substring, so the simple plan's
    "FileScan parquet" counts; a scan has no PLAN_NODES row because the
    source is a parameter."""
    plan = formatted_plan(df, "simple")
    return len(re.findall(rf"Scan {source}", plan))


def has_partial_aggregation(df: DataFrame) -> bool:
    """True when the agg splits into partial (map-side) + final — the
    HashAggregate pair around the exchange.

    The node count is taken from the SIMPLE plan: formatted mode prints
    every node twice (tree line + detail block), so a >=2 test there was
    vacuously true for any single aggregate. The `partial_` function-name
    check runs on the formatted plan (simple mode doesn't print function
    lists)."""
    if "partial_" in formatted_plan(df):
        return True
    return len(re.findall(
        r"HashAggregate", formatted_plan(df, "simple"))) >= 2


def _jplan_children(node):
    cs = node.children()
    return [cs.apply(i) for i in range(cs.size())]


def _unwrap_adaptive(node):
    """AdaptiveSparkPlanExec is a LEAF wrapper around the real tree —
    traversals must step into its inputPlan (pre-execution) instead of
    stopping at it. ReusedExchange / ReusedSubquery are likewise
    childless WRAPPERS around an already-planned subtree (exchange and
    subquery reuse resolve them at physical planning): treating them
    as opaque leaves would read a reused post-aggregation exchange as
    an un-aggregated scan path and flip pins spuriously — resolve to
    the referenced child instead."""
    cls = node.getClass().getSimpleName()
    if "AdaptiveSparkPlan" in cls:
        return _unwrap_adaptive(node.inputPlan())
    name = node.nodeName()
    if name.startswith("ReusedExchange") or name.startswith("ReusedSubquery"):
        return _unwrap_adaptive(node.child())
    return node


# Exact exec-node names of TRUE window operators (full partition
# materialization + sort semantics). Substring matching would also
# catch WindowGroupLimit — a pre-filter Spark INSERTS below a ranked
# window to drop rows early; it is an optimization node, not a window,
# and counting it as one breaks the "every Window sits above an
# aggregate" pin whenever the optimizer adds it.
_WINDOW_EXEC_NAMES = frozenset({"Window", "WindowInPandas"})


def windows_sit_above_aggregates(df: DataFrame) -> bool:
    """True when EVERY Window node's input subtree is aggregated on
    every leaf-to-window path — i.e. each Window consumes a
    post-aggregation (metadata-sized) frame, never raw scan rows. The
    pin for faces whose only unpartitioned window is a bounded rollup
    table (e.g. vocab_growth_curve's 10-row decile window): a refactor
    that moves the window below the aggregation would silently turn it
    into a full-data single-partition sort — this returns False there.
    Returns False too when the plan has no Window at all (the pin is
    about a window that must exist and sit high). Only exact Window
    exec nodes count (_WINDOW_EXEC_NAMES — not WindowGroupLimit), and
    ReusedExchange/ReusedSubquery wrappers are transparent, so the pin
    is stable under AQE exchange reuse and window-group-limit
    insertion."""
    def aggregated_on_all_paths(node):
        node = _unwrap_adaptive(node)
        if "Aggregate" in node.nodeName():
            return True
        kids = _jplan_children(node)
        if not kids:
            return False   # reached a leaf without passing an Aggregate
        return all(aggregated_on_all_paths(c) for c in kids)

    verdicts: list[bool] = []

    def walk(node):
        node = _unwrap_adaptive(node)
        if node.nodeName() in _WINDOW_EXEC_NAMES:
            verdicts.append(all(aggregated_on_all_paths(c)
                                for c in _jplan_children(node)))
        for c in _jplan_children(node):
            walk(c)

    walk(df._jdf.queryExecution().executedPlan())
    return bool(verdicts) and all(verdicts)


def whole_stage_codegen_spans(df: DataFrame) -> int:
    plan = formatted_plan(df, "simple")
    ids = re.findall(r"\*\((\d+)\)", plan)
    return len(set(ids))
