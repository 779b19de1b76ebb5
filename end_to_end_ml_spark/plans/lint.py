"""Physical-plan linter: walk a DataFrame's executed plan and flag the
patterns that break at 100 TB — the same hazards the repo's own plan-audit
tests guard, exposed as a library so pipelines can gate on them in CI
(``assert not audit_plan(df)``) before a query ever reaches a cluster.

Hazards flagged:
- ``cartesian-product``: CartesianProduct — O(N·M) row pairing. (A
  *conditioned* BroadcastNestedLoopJoin is accepted: it's how Spark runs
  non-equi predicates against a small broadcast side.)
- ``python-row-udf``: BatchEvalPython (row-at-a-time Python) — the slow
  path; Arrow-batched nodes (ArrowEvalPython / MapInPandas / grouped
  pandas) are allowed.
- ``global-window``: an unpartitioned Window whose input is NOT an
  aggregation — funnels the full input through one task. A window over an
  aggregate's output is accepted (bounded input: distinct scores, deciles).
- ``global-sort-mid-plan``: a global Sort that is neither the query's
  final presentation ordering nor under a limit — a mid-plan total order
  rarely survives scale.

The linter inspects the PHYSICAL plan (post-Catalyst), so it sees what
would actually run — a filter Catalyst pushed into the scan no longer
shows as a stage. AQE is disabled for the snapshot so plan shapes are
deterministic.

``plan_shape`` counts the same plan's nodes (scans per table, exchanges,
joins, windows, Python eval nodes, checkpoint leaves); the lint test keeps
those counts equal to the ledger ``plans/SHAPES.json`` that
``tools/plan_shapes.py`` writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# nodes that merely wrap/relay rows: a Sort with only these above it is the
# final presentation ordering of the result
_TRANSPARENT_ABOVE_SORT = {
    "WholeStageCodegen",
    "InputAdapter",
    "Project",
    "ColumnarToRow",
    "AdaptiveSparkPlan",
    "ResultQueryStage",
    "CollectLimit",
}

_LIMIT_NODES = ("TakeOrderedAndProject", "GlobalLimit", "LocalLimit", "CollectLimit")


def _walk(node, ancestors):
    yield node, ancestors
    ch = node.children()
    nxt = ancestors + [node.nodeName().split(" (")[0]]
    for i in range(ch.size()):
        yield from _walk(ch.apply(i), nxt)


def executed_plan(df: DataFrame):
    """The JVM executed physical plan of ``df`` with AQE off, so the shape
    is deterministic. The plan is a lazy value of the DataFrame's
    QueryExecution: a second call returns the same plan without planning
    again."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


# node types the shape counts by name; joins, Python/Arrow eval nodes,
# file scans and windows are matched below
_SHAPE_NODES = {
    "Exchange",
    "BroadcastExchange",
    "ReusedExchange",
    "Expand",
    "Generate",
    "WindowGroupLimit",
    "Scan ExistingRDD",
    "InMemoryTableScan",
}


def plan_shape(df: DataFrame) -> dict[str, int]:
    """Node counts of ``df``'s AQE-off executed plan: file scans per table
    (``scan:<table>``), exchanges, each join operator, Expand, Generate,
    WindowGroupLimit, partitioned and unpartitioned Window
    (``Window[global]``), Python/Arrow eval nodes, checkpoint leaves
    (``Scan ExistingRDD``) and InMemoryTableScan. Only non-zero counts are
    listed. ``plans/SHAPES.json`` records this per registry query."""
    counts: dict[str, int] = {}
    for node, _ in _walk(executed_plan(df), []):
        name = node.nodeName().split(" (")[0].strip()
        if name.startswith("Scan ") and name != "Scan ExistingRDD":
            table = node.relation().location().rootPaths().head().getName()
            key = "scan:" + table.removesuffix(".parquet")
        elif name == "Window":
            key = "Window[global]" if node.partitionSpec().isEmpty() else name
        elif (
            name in _SHAPE_NODES
            or name.endswith("Join")
            or name == "CartesianProduct"
            or any(s in name for s in ("Python", "Pandas", "InArrow"))
        ):
            key = name
        else:
            continue
        counts[key] = counts.get(key, 0) + 1
    return dict(sorted(counts.items()))


# Nodes that preserve (or reduce) the row stream between an aggregate and
# the window/sort above it. The bounded-input walk may ONLY pass through
# these: crossing a join, union, or generator would let a tiny aggregated
# dim side "bless" an unbounded fact side (hugeFact ⋈ tinyAggregatedDim
# must NOT count as bounded).
_ROW_PRESERVING_PREFIXES = (
    "WholeStageCodegen",
    "InputAdapter",
    "ColumnarToRow",
    "Project",
    "Filter",
    "Sort",
    "Exchange",
    "ShuffleExchange",
    "BroadcastExchange",
    "BroadcastQueryStage",
    "AQEShuffleRead",
    "ShuffleQueryStage",
    "ReusedExchange",
    "ReusedQueryStage",
    "AdaptiveSparkPlan",
    "ResultQueryStage",
    "Coalesce",
    "Window",  # a window neither adds nor drops rows
    "RunningWindowFunction",
)


def _window_input_bounded(node) -> bool:
    """A global Window is acceptable when its input is provably bounded:
    an aggregation below it (distinct scores, deciles), or a
    WindowGroupLimit (Spark's rank-limit pushdown — each upstream
    partition forwards only rows that can still make the top-k).

    The walk descends ONLY through row-preserving nodes (project / filter /
    exchange / sort / window): an Aggregate sitting behind a join or union
    bounds the stream only if EVERY input of that join/union is itself
    bounded — fact.join(aggregatedDim) is still fact-sized, and the old
    any-descendant walk wrongly accepted it, while aggA.join(aggB) (e.g.
    the drift-bins full-outer of two bin-count aggregates) is genuinely
    bounded (output ≤ product of bounded inputs). Generators and scans
    stop the walk as unbounded — EXCEPT a constant-arity stack(k, ...)
    Generate, which multiplies a bounded input by the literal k (the
    1-row-agg → k-row unpivot shape)."""
    ch = node.children()

    def bounded(n) -> bool:
        name = n.nodeName()
        if "Aggregate" in name or name.startswith("WindowGroupLimit"):
            return True
        short = name.split(" (")[0]
        cc = n.children()
        if short.startswith("ReusedExchange"):
            # exchange reuse makes the node a LEAF whose real input is the
            # referenced exchange (ReusedExchangeExec.child) — resolve it,
            # or a window over a reused aggregate exchange would be
            # misread as unbounded (first hit: pipe13's rank/count windows
            # over the twice-consumed scored aggregate)
            try:
                return bounded(n.child())
            except Exception:
                return False
        if short.startswith(_ROW_PRESERVING_PREFIXES):
            # single-input relays; reuse wrappers with several children
            # require every input bounded
            return cc.size() > 0 and all(
                bounded(cc.apply(i)) for i in range(cc.size())
            )
        if "Join" in short or short.startswith("Union"):
            return cc.size() > 0 and all(
                bounded(cc.apply(i)) for i in range(cc.size())
            )
        if short.startswith("Generate"):
            # stack(k, ...) multiplies rows by the CONSTANT k — a bounded
            # input stays bounded (the 1-row-agg → k-row unpivot shape,
            # e.g. ml1b's leaderboard). explode/posexplode multipliers are
            # data-dependent and stay unbounded.
            first = n.toString().splitlines()[0]
            if "stack(" in first:
                return cc.size() > 0 and all(
                    bounded(cc.apply(i)) for i in range(cc.size())
                )
            return False
        return False  # explode-generate/scan/other: stop — unbounded

    return any(bounded(ch.apply(i)) for i in range(ch.size()))


INFO_BOUNDED_WINDOW = "info:accepted-bounded-window"


def audit_plan(df: DataFrame, include_info: bool = False) -> list[str]:
    """Return human-readable hazard strings (empty = the plan is clean).

    With ``include_info=True`` the list also carries non-hazard
    ``info:accepted-bounded-window:`` entries for every global Window/Sort
    the linter ACCEPTED because its input is aggregate-bounded — these are
    the plans that emit Spark's ``WindowExec: No Partition Defined``
    warning at runtime; the tag lets logs distinguish them from
    true scale-killers without changing the CI gate (default excludes
    them)."""
    hazards: list[str] = []
    infos: list[str] = []
    for node, ancestors in _walk(executed_plan(df), []):
        name = node.nodeName().split(" (")[0]
        head = node.toString().splitlines()[0].strip()[:140]
        if name == "CartesianProduct":
            hazards.append(f"cartesian-product: {head}")
        elif name == "BatchEvalPython":
            hazards.append(f"python-row-udf: {head}")
        elif name == "Window" and node.partitionSpec().isEmpty():
            if not _window_input_bounded(node):
                hazards.append(
                    "global-window: unpartitioned Window over unbounded "
                    f"input — {head}"
                )
            else:
                infos.append(f"{INFO_BOUNDED_WINDOW}: {head}")
        elif name == "Sort" and ", true, " in head:
            under_limit = any(a in _LIMIT_NODES for a in ancestors)
            is_final = all(a in _TRANSPARENT_ABOVE_SORT for a in ancestors)
            # a global sort of an aggregate's output is bounded input —
            # e.g. the ordering Sort under a cumulative window over bins
            if not (under_limit or is_final or _window_input_bounded(node)):
                hazards.append(f"global-sort-mid-plan: {head}")
    return hazards + infos if include_info else hazards
