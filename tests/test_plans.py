"""Physical-plan assertions — the 100 TB story, checked.

These tests pin the load-bearing properties of the optimized plans:
filters and projections reach the parquet scan, dimensions broadcast,
top-k never globally sorts, and aggregates keep partial (map-side)
phases. A plan regression here is a scale bug even when results stay
correct. The registry-wide audits (no cartesian product, no Python
outside the declared surface, no expensive scan-side Filter) live in
test_physical_plans.py.
"""

from __future__ import annotations

import pytest

from net7_etl_bus_spark.plans import registry

from .conftest import SF_SMALL, plan_of, renders

QUERIES = registry.queries()


def test_q6_filters_pushed_to_scan(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    # shipdate range + discount + quantity predicates reach parquet
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_q6_column_pruning(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema and "l_discount" in read_schema
    assert "l_orderkey" not in read_schema  # unused columns pruned
    assert "l_returnflag" not in read_schema


def test_parquet_scan_prunes_columns(spark):
    plan = plan_of(spark, "parquet_scan")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "r_regionkey" in read_schema and "r_name" in read_schema


def test_q3_broadcasts_dimension(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    # top-20 must be TakeOrderedAndProject, not a global Sort+Limit
    assert "TakeOrderedAndProject" in plan


def test_q5_all_dimensions_broadcast(spark):
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4  # c, s, n, r
    assert "CartesianProduct" not in plan


def test_join_broadcast_no_shuffle_of_fact(spark):
    plan = plan_of(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_anti_join_operators(spark):
    assert "LeftSemi" in plan_of(spark, "join_semi")
    assert "LeftAnti" in plan_of(spark, "join_anti")


def test_agg_has_partial_phase(spark):
    plan = plan_of(spark, "agg_hash")
    # partial + final HashAggregate pair: map-side combine before shuffle
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_topk_per_group_window_limit_pushdown(spark):
    plan = plan_of(spark, "topk_per_group")
    # Spark 3.5+ pushes rank<=k below the shuffle as WindowGroupLimit
    assert "WindowGroupLimit" in plan


def test_limit_n_take_ordered(spark):
    plan = plan_of(spark, "limit_n")
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_in_scan_agg(spark):
    # Under AQE the codegen ids only appear once the final plan is
    # materialized — execute, then explain (a direct build, not plan_of).
    df = QUERIES["q1_pricing_summary"](spark, SF_SMALL)
    df.collect()
    plan = renders(df)["formatted"]
    assert "codegen id" in plan
    assert "isFinalPlan=true" in plan


def test_minhash_single_explode_pass(spark):
    """The MinHash signature must be one explode + one aggregate, not
    16 passes: exactly one Generate (explode) node in the plan."""
    import re

    plan = plan_of(spark, "dedup_minhash_signature")
    # formatted explain prints each node in the tree AND the details
    # section; count distinct node ids instead of raw substring hits
    node_ids = {m for m in re.findall(r"\((\d+)\) Generate", plan)}
    assert len(node_ids) == 1, plan


@pytest.mark.parametrize("name", ["q1_pricing_summary", "agg_hash", "win_tumbling"])
def test_aqe_enabled_on_bench_paths(spark, name):
    assert "AdaptiveSparkPlan" in plan_of(spark, name)


def test_q4_exists_becomes_semi_join(spark):
    """The EXISTS formulation must run as a LeftSemi join on orderkey —
    never a correlated per-row probe or an inner join + distinct."""
    plan = plan_of(spark, "q4_order_priority")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan


def test_q19_pushes_conjunctive_envelope(spark):
    """The OR-of-ANDs predicate can't push as-is, but its weaker
    conjunctive envelope must: the lineitem scan gets the quantity
    range and the part side gets the brand IN-list — at 100 TB that is
    the difference between scanning every row-group and skipping most."""
    plan = plan_of(spark, "q19_disjunctive_revenue")
    pushed = plan.split("PushedFilters")
    assert len(pushed) >= 3  # both scans push something
    assert "l_quantity" in pushed[1][:400] or "l_quantity" in pushed[2][:400]
    assert "p_brand" in pushed[1][:400] or "p_brand" in pushed[2][:400]
    assert "BroadcastHashJoin" in plan


def test_q21_single_orderkey_aggregate_no_extra_self_joins(spark):
    """The EXISTS/NOT-EXISTS pair is rewritten as one per-order
    aggregate joined back — the plan must contain exactly the expected
    joins (stats join + orders join + broadcast supplier), with no
    correlated-subquery expansion into additional lineitem passes."""
    plan = plan_of(spark, "q21_waiting_suppliers")
    # lineitem is scanned exactly twice: l1 (returned rows) + stats agg
    assert plan.count("lineitem.parquet") == 2, plan
    assert "BroadcastHashJoin" in plan


def test_q18_having_prunes_before_rejoin(spark):
    """The qualifying-order key set must SEMI-prune lineitem before the
    re-aggregation, and the top-100 must be TakeOrderedAndProject."""
    plan = plan_of(spark, "q18_large_volume_customers")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_q22_scalar_subquery_is_broadcast_not_collect(spark):
    """The AVG threshold joins in via a broadcast nested loop of a
    1-row aggregate — no driver-side collect in the query path."""
    plan = plan_of(spark, "q22_dormant_customers")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
