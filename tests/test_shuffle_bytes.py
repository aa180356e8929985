"""RUNTIME shuffle-byte gates for the engine's zero-shuffle claims.

Plan-level assertions (tests/test_plans.py, test_round8_ops.py) prove
the optimized plan has no Exchange node; these tests close the loop at
the EXECUTION layer: the UI REST cumulative executor counters
(plans/metrics.py — the same source bench.py records into
BENCH_FULL.json, VERDICT r8 directive #4) must report literally zero
shuffle bytes for the operators DEPLOYMENT.md sells as shuffle-free,
and must report non-zero bytes for a genuine groupBy so a zero reading
is never vacuous (a dead counter would green every gate).

Execution is driven through the ``noop`` write sink, not ``count()``:
count() plans its own two-stage aggregation whose one-row final
exchange (~59 bytes) would make a literal zero unreachable even for a
genuinely shuffle-free relation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ballista_extensions_spark.io import load_table, write_bucketed
from ballista_extensions_spark.operators.cdc import cdc_merge
from ballista_extensions_spark.plans.metrics import shuffle_totals


def measure_shuffle(spark, action) -> tuple[int, int]:
    """Run ``action`` and return the (read, write) shuffle bytes it
    caused. (-1, -1) when the UI is unavailable."""
    r0, w0 = shuffle_totals(spark)
    action()
    if r0 < 0:
        return (-1, -1)
    r1, w1 = shuffle_totals(spark)
    if r1 < 0:
        return (-1, -1)
    return (r1 - r0, w1 - w0)


@pytest.fixture(scope="module")
def _ui_available(spark):
    if shuffle_totals(spark)[0] < 0:
        pytest.skip("Spark UI REST endpoint unavailable in this session")


def test_counter_sees_real_shuffles(spark, _ui_available):
    """Positive control: a wide groupBy over a generated range MUST move
    shuffle bytes — otherwise every zero below is a dead counter, not a
    zero-shuffle plan."""
    r, w = measure_shuffle(
        spark,
        lambda: spark.range(0, 200_000)
        .selectExpr("id % 1024 AS k", "id AS v")
        .groupBy("k")
        .agg(F.sum("v"))
        .count(),
    )
    assert r > 0 and w > 0


def test_repetition_stats_zero_shuffle_bytes(spark, documents, _ui_available):
    """repetition_stats is one narrow projection (operators/text.py):
    per-row array arithmetic, no aggregation — zero bytes shuffled at
    runtime, which is what makes it safe to run over a 100 TB corpus as
    a map-only pass."""
    from ballista_extensions_spark.operators.text import repetition_stats

    df = repetition_stats(documents)
    r, w = measure_shuffle(
        spark,
        lambda: df.write.format("noop").mode("overwrite").save(),
    )
    assert (r, w) == (0, 0)


def test_bucketed_cdc_merge_zero_shuffle_bytes(spark, sf_dir, _ui_available):
    """The bucketed CDC merge's zero-Exchange PLAN (test_round8_ops)
    also moves ZERO shuffle bytes at runtime — the claim DEPLOYMENT.md
    makes for co-bucketed snapshot+changes maintenance at scale."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    last = F.col("o_orderkey") % 10
    write_bucketed(
        o.filter(last != 9), "sbx_cdc_snap", "o_orderkey", buckets=8
    )
    write_bucketed(
        o.filter(last.isin(9, 0)).select(
            F.col("o_orderkey").alias("c_orderkey"),
            F.when(last == 9, F.lit("I")).otherwise(F.lit("U")).alias("op"),
            F.col("price").alias("new_price"),
        ),
        "sbx_cdc_changes",
        "c_orderkey",
        buckets=8,
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        merged = cdc_merge(
            spark.table("sbx_cdc_snap"),
            spark.table("sbx_cdc_changes"),
            "o_orderkey",
            "c_orderkey",
            {"price": "new_price"},
        )
        r, w = measure_shuffle(
            spark,
            lambda: merged.write.format("noop").mode("overwrite").save(),
        )
        assert (r, w) == (0, 0)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS sbx_cdc_snap")
        spark.sql("DROP TABLE IF EXISTS sbx_cdc_changes")


def test_bucketed_join_zero_shuffle_bytes(spark, sf_dir, _ui_available):
    """Two tables bucketed on the join key with equal bucket counts
    join with zero shuffle bytes even with broadcast disabled — the
    physical property that makes pre-bucketing the 100 TB co-location
    strategy for repeated fact-to-fact joins."""
    o = load_table(spark, sf_dir, "orders")
    write_bucketed(
        o.select("o_orderkey", "o_totalprice"),
        "sbx_join_a",
        "o_orderkey",
        buckets=8,
    )
    write_bucketed(
        o.select(
            F.col("o_orderkey").alias("b_orderkey"), "o_orderdate"
        ),
        "sbx_join_b",
        "b_orderkey",
        buckets=8,
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("sbx_join_a").join(
            spark.table("sbx_join_b"),
            F.col("o_orderkey") == F.col("b_orderkey"),
        )
        r, w = measure_shuffle(
            spark,
            lambda: joined.write.format("noop").mode("overwrite").save(),
        )
        assert (r, w) == (0, 0)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS sbx_join_a")
        spark.sql("DROP TABLE IF EXISTS sbx_join_b")


def test_shuffle_diff_flags_synthetic_regressions():
    """tools/shuffle_diff.diff is the round-over-round gate bench.py now
    reports after every sweep (VERDICT r9 directive #5): a zero-shuffle
    query growing ANY bytes is always flagged; growth must clear BOTH
    the ratio and the absolute floor; shrinkage and sub-floor jitter
    pass; [-1, -1] (UI unavailable) entries are skipped."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "shuffle_diff",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
            "shuffle_diff.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    old = {"shuffle_read_write_bytes": {
        "was_zero": [0, 0],
        "big_growth": [100_000, 100_000],
        "jitter": [100_000, 100_000],
        "shrank": [500_000, 500_000],
        "ui_down": [-1, -1],
    }}
    new = {"shuffle_read_write_bytes": {
        "was_zero": [8, 8],                  # 0 -> anything: flagged
        "big_growth": [1_000_000, 1_000_000],  # 10x and +900KB: flagged
        "jitter": [120_000, 120_000],        # 1.2x, +20KB: below floors
        "shrank": [100_000, 100_000],        # improvement: never flagged
        "ui_down": [123, 123],               # old run had no UI: skipped
    }}
    flagged, n_common = mod.diff(old, new, ratio=1.5, min_bytes=65536)
    assert n_common == 5
    assert [f[0] for f in flagged] == ["big_growth", "was_zero"]
    assert ("was_zero", 0, 8) in flagged


def test_rank_substrate_no_pid_exchange(spark, sf_dir):
    """r14 adjudication regression (VERDICT r15 directive #1): the
    distributed rank substrate must plan NO post-checkpoint exchange —
    the old Window.partitionBy(spark_partition_id()) shape re-shuffled
    the checkpointed frame once PER CONSUMER, and AQE's best-effort
    reuse of those identical exchanges raced run-to-run (the only
    shuffle-byte drift across 273 queries in two same-code sweeps)."""
    from ballista_extensions_spark.operators.prefix import (
        distributed_row_number,
    )

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    rn = distributed_row_number(c, ["c_acctbal", "c_custkey"])
    plan = rn._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__bx_pid" not in plan
    assert "Window" not in plan


def test_percent_rank_shuffle_bytes_deterministic(spark, sf_dir, _ui_available):
    """Same code + same data must move the same shuffle bytes run to
    run (tight band, not byte-equality: shuffle compression adds ~0.1%
    task-level noise). The r14 race showed as a +35% jump — a 2% band
    catches any duplicate-exchange materialization."""
    from ballista_extensions_spark.queries.analytics4 import (
        customer_percent_rank_scalable,
    )

    def run():
        customer_percent_rank_scalable(spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()

    reads = []
    for _ in range(3):
        r, _w = measure_shuffle(spark, run)
        reads.append(r)
    assert max(reads) <= min(reads) * 1.02, reads
