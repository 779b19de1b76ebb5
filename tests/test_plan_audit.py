"""Plan-shape regression guard: every relational headline query must keep the
physical-plan properties the 100 TB design depends on — no cartesian
products, no row-at-a-time Python in relational plans, filters pushed into
the parquet scans that have them."""

from __future__ import annotations

import pytest

from end_to_end_ml_spark.plans.entry_queries import REGISTRY
from end_to_end_ml_spark.plans.lint import _walk, executed_plan

SF = "/root/testdata/sf0.001"

RELATIONAL = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q4_order_priority",
    "q5_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q14_promo_revenue",
    "q18_large_volume_customers",
    "q7_volume_shipping",
    "w4_running_total",
    "w5_topk_per_group",
    "p6_latest_order_per_customer",
    "t1_stratified_split",
    "s3_pit_join",
    "a6_roc_auc",
    "a8_auc_ovr_macro",
    "a12_roc_curve",
    "m8_threshold_sweep",
    "agg_rollup",
    "agg_cube",
    "j5_customers_without_orders",
    "skew1_salted_join_agg",
    "t7_deterministic_sample",
    "s9_online_export",
    "d7_near_dup_groups",
    "a6q_roc_auc_quantized",
    "m8q_threshold_sweep_quantized",
    "q12_late_shipments",
    "q13_order_distribution",
    "q17_small_qty_revenue",
    "q19_disjunctive_revenue",
    "q22_idle_balances",
    "x5_repetition_scores",
    "d9_decontaminate",
    "q8_market_share",
    "q15_top_supplier",
    "fn_window_suite",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q11_important_parts",
    "q16_supplier_counts",
    "q21_sole_failing_supplier",
    "x6_pii_scrub",
    "x7_domain_counts",
    "x8_winnow_fingerprints",
    "ts5_rolling_distinct_users",
    "agg_pivot_event_matrix",
    "fn_unpivot_order_metrics",
    "pipe3_pretrain_corpus",
]

# queries whose filters should reach the parquet reader
PUSHDOWN_PROBES = {
    "q1_pricing_summary": "LessThanOrEqual(l_shipdate",
    "q6_forecast_revenue": "IsNotNull(l_quantity)",
    "q10_returned_items": "EqualTo(l_returnflag,R)",
    "q2_min_cost_supplier": "EqualTo(p_type,ECONOMY)",
    "q9_product_profit": "StringContains(p_name,bolt)",
    "q21_sole_failing_supplier": "EqualTo(l_returnflag,R)",
}


def _plan(spark, name: str) -> str:
    df = REGISTRY[name][0](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", RELATIONAL)
def test_no_cartesian_or_python_row_udf(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan  # row-at-a-time Python UDF


@pytest.mark.parametrize("name", sorted(PUSHDOWN_PROBES))
def test_filters_reach_the_scan(spark, name):
    plan = _plan(spark, name)
    assert PUSHDOWN_PROBES[name] in plan, plan


# --- single-partition-window guard (VERDICT r1 #1) -------------------------
# An unpartitioned Window is only acceptable when an aggregation sits below
# it (its input is then a bounded reduction — distinct scores, deciles —
# never the full table).


def _has_agg_below(node) -> bool:
    ch = node.children()
    return any(
        "Aggregate" in d.nodeName()
        for i in range(ch.size())
        for d, _ in _walk(ch.apply(i), [])
    )


@pytest.mark.parametrize(
    "name", ["a13_lift_gains", "a6_roc_auc", "a12_roc_curve", "a10_pr_curve_ap"]
)
def test_no_unpartitioned_window_over_full_input(spark, name):
    plan = executed_plan(REGISTRY[name][0](spark, SF))
    for node, _ in _walk(plan, []):
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            assert _has_agg_below(node), (
                "unpartitioned Window over non-aggregated input:\n"
                + node.toString()
            )


def test_w1_threshold_prefilter_reaches_scan(spark):
    """w1 must not rank the whole table through one WindowExec partition:
    the k-th-price literal pre-filter has to reach the parquet scan
    (row-group pruning), so the unpartitioned rank window only ever sees
    the O(k) survivors."""
    df = REGISTRY["w1_top_parts"][0](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(p_retailprice" in plan, plan
    # and the window is still there doing the keep-all-ties ranking
    assert "Window" in plan, plan


def test_driver_window_outputs_are_scalar_columns(spark):
    """The driver's pandas canonicalizer cannot sort array/map/struct cells
    (round-4 lesson: skew2_salted_collect err'd on an array<long> column
    despite being correct). Every query in the 50-slot driver window must
    therefore emit only atomic column types; complex payloads belong in
    string/csv form (as skew2 now does) or beyond the window."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from end_to_end_ml_spark.plans.entry_queries import DRIVER_WINDOW

    offenders = []
    for name in DRIVER_WINDOW:
        schema = REGISTRY[name][0](spark, SF).schema
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, offenders
