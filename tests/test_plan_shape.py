"""Physical-plan shape assertions — the scale-correctness gate.

Value-correctness is covered by the DuckDB differential tests; these
tests instead assert that Catalyst produced the plan we *designed* for
100 TB: filters pushed into the parquet scan, dimensions broadcast (no
fact-side shuffle), partial (map-side) aggregation before every exchange,
top-k planned as TakeOrderedAndProject (no global sort), and the
whole-stage-codegen spans we rely on actually present.

A query that silently regresses to a shuffled join or an un-pushed
filter still returns correct rows at sf0.001 — only these tests catch
the 1000×-scale problem.
"""

from __future__ import annotations

import os
import re

import pytest

from python_btc_etl_spark import plans
from python_btc_etl_spark.plans.ingest import CORPUS

from .conftest import SF_SMALL


def explained(spark, name: str, execute: bool = False) -> str:
    """Formatted physical plan; with ``execute=True`` the query runs first
    so AQE's final plan (with WholeStageCodegen ids) is what's printed."""
    df = plans.REGISTRY[name].fn(spark, SF_SMALL)
    if execute:
        df.collect()
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_q6_filters_pushed_to_scan(spark):
    """Every Q6 predicate must reach the parquet reader as a pushed filter
    and the scan must prune to the 4 referenced columns."""
    plan = explained(spark, "q6_forecast_revenue")
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert pushed, plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed.group(1), f"{col} not pushed: {pushed.group(1)}"
    read_schema = re.search(r"ReadSchema: struct<(.*?)>", plan)
    assert read_schema
    cols = {c.split(":")[0] for c in read_schema.group(1).split(",")}
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, cols


@pytest.mark.parametrize(
    "name",
    ["broadcast_brand_revenue", "q5_region_revenue", "q10_returned_revenue"],
)
def test_dim_joins_broadcast(spark, name):
    """Dimension joins must be BroadcastHashJoin — the fact table must
    never shuffle for a dim lookup."""
    plan = explained(spark, name)
    assert "BroadcastHashJoin" in plan, plan


def test_broadcast_query_has_no_fact_shuffle_join(spark):
    """broadcast_brand_revenue's only exchanges are the aggregation and
    the broadcast itself — no SortMergeJoin / ShuffledHashJoin anywhere."""
    plan = explained(spark, "broadcast_brand_revenue")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_q1_partial_aggregation(spark):
    """The big aggregate must be partial (map-side combine) + final —
    the shuffle carries one row per (group × partition), not per line."""
    plan = explained(spark, "q1_pricing_summary")
    assert "partial_" in plan.lower() or "HashAggregate" in plan
    # partial agg appears before the exchange: two HashAggregate nodes.
    assert plan.count("HashAggregate") >= 2, plan


def test_topk_plans_take_ordered(spark):
    """orderBy().limit(k) must plan as TakeOrderedAndProject — a global
    sort materialization at 100 TB would be a different algorithm."""
    plan = explained(spark, "q3_top_orders")
    assert "TakeOrderedAndProject" in plan, plan


def test_whole_stage_codegen_present(spark):
    """Scalar-heavy queries must stay inside WholeStageCodegen (no
    Python/row-at-a-time evaluation in the hot path)."""
    for name in ("scalar_string_math", "q1_pricing_summary"):
        plan = explained(spark, name, execute=True)
        assert "[codegen id :" in plan, f"{name}: no codegen span\n{plan}"


def test_semi_anti_joins_planned_as_joins(spark):
    """Semi/anti shapes must be real joins (BroadcastHashJoin or SMJ with
    LeftSemi/LeftAnti), not subquery re-execution."""
    semi = explained(spark, "semi_join_urgent_customers")
    anti = explained(spark, "anti_join_orderless_customers")
    assert "LeftSemi" in semi, semi
    assert "LeftAnti" in anti, anti


def test_range_join_has_equi_key(spark):
    """The ±5-minute range join must hash on the user_id equi-key with the
    range as a residual condition — never BroadcastNestedLoopJoin."""
    plan = explained(spark, "range_join_error_context")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q19_disjunction_is_residual_not_cross_product(spark):
    """The OR-of-conjunctions predicate must ride the p_partkey equi-join
    as a residual filter — a cross product here is quadratic at scale."""
    plan = explained(spark, "q19_disjunctive_revenue")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q17_decorrelated_aggregate_join(spark):
    """The per-part average must be a real aggregate feeding a join
    (partial+final HashAggregate), not a re-executed per-row subquery."""
    plan = explained(spark, "q17_small_quantity_revenue")
    assert plan.count("HashAggregate") >= 2, plan
    assert "Join" in plan, plan


def test_q22_not_exists_is_left_anti(spark):
    plan = explained(spark, "q22_dormant_high_balance")
    assert "LeftAnti" in plan, plan


def test_q13_left_outer_join_with_condition(spark):
    """The priority filter must live inside the LEFT OUTER join condition;
    the plan must keep the outer join (a post-filter would drop the
    zero-order customers)."""
    plan = explained(spark, "q13_customer_distribution")
    assert "LeftOuter" in plan, plan


def test_salted_join_keys_include_salt(spark):
    """The salted join must hash on (user_id, salt) — the salt column has
    to appear in the join keys for the hot-key split to happen."""
    plan = explained(spark, "salted_skew_join")
    assert "salt" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_range_frame_is_single_window_no_self_join(spark):
    """The trailing-hour frame must be a Window operator over one
    partitioning — not a range self-join."""
    plan = explained(spark, "window_time_range_frame")
    assert "Window" in plan, plan
    assert "Join" not in plan, plan


@pytest.mark.skipif(not os.path.isdir(CORPUS), reason=f"reference corpus {CORPUS} not present")
def test_csv_scan_prunes_by_glob_and_schema(spark):
    """The reference-corpus CSV scan must carry the explicit schema (no
    inference pass) and the all-null filter must not block codegen."""
    plan = explained(spark, "btc_daily_summary", execute=True)
    assert "Scan csv" in plan, plan
    assert "[codegen id :" in plan, plan


def test_dpp_fact_scan_has_dynamic_pruning_filter(spark):
    """The month-partitioned fact scan must carry a dynamicpruning
    InSubquery in its PartitionFilters — fed by the broadcast dim — so
    only qualifying month directories are opened. Without it the query
    still returns correct rows while scanning every partition."""
    plan = explained(spark, "dpp_month_revenue")
    assert "dynamicpruning" in plan, plan
    pf = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert pf and "dynamicpruning" in pf.group(1), plan
    assert "BroadcastHashJoin" in plan, plan


def test_static_partition_prune_lists_only_matching_dirs(spark):
    """A literal predicate on the partition column must resolve to
    PartitionFilters at planning time (and never appear as a data
    Filter over the scan output)."""
    plan = explained(spark, "static_partition_prune_revenue")
    pf = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert pf and ">= 1996-01" in pf.group(1) and "<= 1996-03" in pf.group(1), plan


def test_aqe_skew_join_splits_at_runtime(spark):
    """The hot-key dim join must end with AQE's skew rewrite applied:
    the final adaptive plan's SortMergeJoin is marked skew=true. The
    un-salted query is only acceptable at scale BECAUSE this rewrite
    fires — without it the 5 hot partitions serialize the join."""
    df = plans.REGISTRY["aqe_skew_join"].fn(spark, SF_SMALL)
    df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "isFinalPlan=true" in plan, plan
    assert "skew=true" in plan, plan


def test_bloom_filter_join_injects_might_contain(spark):
    """The runtime bloom filter from the selective orders side must be
    injected into the lineitem side as a might_contain(...) predicate —
    without it the full fact table shuffles for a ~3%-selective join."""
    plan = explained(spark, "bloom_filter_join")
    assert "might_contain" in plan, plan
    assert "bloom_filter_agg" in plan, plan
