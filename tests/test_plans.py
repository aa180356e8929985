"""Plan-contract tests via the plans module: per-query scale audits
(shuffle budget, broadcast usage, codegen coverage) + stability."""

from __future__ import annotations

import pytest

from ballista_extensions_spark import plans as P
from ballista_extensions_spark.operators.sample import sample
from ballista_extensions_spark.queries import get_queries

#: Shuffle budgets: every registered query must stay within its expected
#: exchange count — a regression that adds a shuffle fails loudly here.
#: (Numbers are executed-plan facts at sf0.001 with AQE; budgets are
#: ceilings, not exact counts, to stay robust across AQE decisions.)
SHUFFLE_BUDGETS = {
    "scan_project_alias": 0,
    "explode_unnest": 0,
    "sample_lineitem": 0,
    "text_token_count": 0,
    "doc_fingerprint": 0,
    "multimodal_binary_meta": 0,
    "text_stats_quality": 0,
    "lang_id_heuristic": 0,
    "events_json_extract": 0,
    "q1_pricing_summary": 1,
    "q6_forecast_revenue": 1,
    "agg_orders_by_priority": 2,  # count-distinct expands to two-phase
    "dedup_exact": 1,
    "events_hourly_rollup": 2,
    "rollup_revenue": 1,
    "cube_orders": 1,
    "sort_limit_expensive_orders": 0,  # TakeOrdered, no exchange
}


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGETS))
def test_shuffle_budget(spark, sf_dir, name):
    df = get_queries()[name](spark, sf_dir)
    got = P.shuffle_exchanges(df)
    assert got <= SHUFFLE_BUDGETS[name], (
        f"{name}: {got} shuffle exchanges > budget {SHUFFLE_BUDGETS[name]}"
    )


def test_sample_is_narrow(lineitem):
    P.assert_no_exchange(sample(lineitem, 0.5, 1))


def test_q5_dimension_joins_broadcast(spark, sf_dir):
    js = P.join_strategies(get_queries()["q5_local_supplier_volume"](spark, sf_dir))
    assert js.get("BroadcastHashJoin", 0) >= 3  # supplier, nation, region


def test_q1_reads_only_needed_columns(spark, sf_dir):
    cols = P.read_columns(get_queries()["q1_pricing_summary"](spark, sf_dir))
    assert len(cols) == 1
    assert "l_partkey" not in cols[0] and "l_suppkey" not in cols[0]
    assert "l_returnflag" in cols[0]


def test_q6_filters_pushed(spark, sf_dir):
    pf = P.pushed_filters(get_queries()["q6_forecast_revenue"](spark, sf_dir))
    assert any("l_quantity" in f for f in pf)
    assert any("l_shipdate" in f for f in pf)


def test_codegen_covers_relational_queries(spark, sf_dir):
    for name in ("q1_pricing_summary", "join_inner", "agg_orders_by_priority"):
        df = get_queries()[name](spark, sf_dir)
        assert P.codegen_stage_count(df) >= 1, name


def test_plan_stability_all_oracle_queries(spark, sf_dir):
    """Reference pattern 3 (plan round-trip stability, tests/e2e.rs:53-92)
    across the whole registry: building the same query twice must yield
    identical optimized plans."""
    for name, fn in get_queries().items():
        P.assert_plan_stable(lambda fn=fn: fn(spark, sf_dir))


@pytest.mark.parametrize(
    "name",
    [
        "docs_quality_quartiles",
        "orderkey_islands",
        "customer_rfm_segments_scalable",
        "cumulative_revenue_scalable",
        "customer_rank_scalable",
        "pack_token_bins",
        "price_percentiles_scalable",
        "token_budget_selection_scalable",
        "ntile_customer_quartiles",
        "shipping_delay_deciles_by_priority",
        "token_len_quartiles_by_lang",
        "orders_interarrival_median",
        "customer_order_gap_stats",
    ],
)
def test_no_unpartitioned_window(spark, sf_dir, name):
    """The distributed-prefix rewrites exist to kill WindowExec's
    all-rows-to-one-task path: every Window node in these queries'
    physical plans must carry a partition spec (__bx_pid or a real
    key)."""
    df = get_queries()[name](spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    for line in phys.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            # every window in these queries comes from the prefix
            # machinery (__bx_pid range buckets) or partitions by a
            # real high-cardinality key (per-customer LAG)
            assert "__bx_pid" in line or "o_custkey#" in line, line


def test_plan_summary_shape(spark, sf_dir):
    s = P.plan_summary(get_queries()["q3_shipping_priority"](spark, sf_dir))
    assert set(s) == {
        "shuffle_exchanges",
        "joins",
        "codegen_stages",
        "pushed_filters",
        "read_columns",
    }
    assert s["shuffle_exchanges"] >= 1  # two fact joins + agg
