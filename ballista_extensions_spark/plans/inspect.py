"""Plan-fact extraction from Spark query executions.

Works on the physical plan string (the same artifact `explain` prints);
string-level extraction keeps us off private JVM APIs while asserting
the properties that matter at 100 TB: where the shuffles are, what
reached the scan, which joins broadcast.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Full formatted physical plan (same text as df.explain('formatted');
    plain toString() truncates node lines, losing ReadSchema/PushedFilters)."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _live_ids(plan: str) -> set[str] | None:
    """Node ids of the CURRENT plan tree.

    An executed adaptive query's formatted text shows the final tree,
    then an '== Initial Plan ==' tree (the plan AQE replaced — same
    operators under fresh ids), then one detail block per id from BOTH
    trees. Counting without filtering doubles every metric, so metric
    extractors keep only detail blocks whose id occurs in the tree
    BEFORE the marker. Returns None when there is no Initial section
    (nothing to filter)."""
    marker = plan.find("== Initial Plan ==")
    if marker == -1:
        return None
    return set(re.findall(r"\((\d+)\)", plan[:marker]))


def _count_nodes(plan: str, op_pattern: str) -> set[str]:
    """Ids of detail blocks matching '(n) <op>' that belong to the
    current plan tree."""
    ids = set(re.findall(rf"\((\d+)\) {op_pattern}", plan))
    live = _live_ids(plan)
    return ids if live is None else ids & live


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def shuffle_exchanges(df: DataFrame) -> int:
    """Count of shuffle (non-broadcast) exchanges.

    For an EXECUTED adaptive plan, the truthful number is the
    materialized ShuffleQueryStage count: formatted explain repeats each
    stage's Exchange root inside every consumer subtree, so counting
    '(n) Exchange' lines can overstate the real shuffle work several-fold
    (reused exchanges execute once). For a not-yet-executed plan (no
    query stages) fall back to Exchange nodes — an upper bound that
    ignores runtime exchange reuse."""
    plan = executed_plan(df)
    stages = _count_nodes(plan, "ShuffleQueryStage\\b")
    if stages or "ResultQueryStage" in plan:
        return len(stages)
    return len(_count_nodes(plan, "Exchange\\b"))


def _live_scan_blocks(plan: str) -> list[str]:
    """Detail blocks ('(n) Op ...' sections) of current-tree nodes."""
    live = _live_ids(plan)
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    out = []
    for b in blocks:
        m = re.match(r"\((\d+)\) ", b)
        if m and (live is None or m.group(1) in live):
            out.append(b)
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every current-tree scan in the plan."""
    out: list[str] = []
    for block in _live_scan_blocks(executed_plan(df)):
        for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", block):
            if m.group(1).strip():
                out.extend(s.strip() for s in m.group(1).split(","))
    return out


def read_columns(df: DataFrame) -> list[list[str]]:
    """Columns actually read by each current-tree scan (ReadSchema) —
    column-pruning evidence."""
    schemas = []
    for block in _live_scan_blocks(executed_plan(df)):
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", block):
            cols = [
                c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()
            ]
            schemas.append(cols)
    return schemas


def join_strategies(df: DataFrame) -> dict[str, int]:
    """Physical join operator histogram (BroadcastHashJoin /
    SortMergeJoin / ShuffledHashJoin / BroadcastNestedLoopJoin)."""
    plan = executed_plan(df)
    out: dict[str, int] = {}
    for op in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        ids = _count_nodes(plan, op + "\\b")
        if ids:
            out[op] = len(ids)
    return out


def codegen_stage_count(df: DataFrame) -> int:
    """Whole-stage-codegen span count — wider spans mean more of the
    query runs as generated JVM loops. EXECUTES the query (collect):
    AQE wraps stages in codegen only at runtime, and the execution must
    happen on this DataFrame's own QueryExecution (a noop write would
    execute a separate command QE). Intended for tests/audits, not hot
    paths."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    spans = set(re.findall(r"\*\((\d+)\)", plan))  # '*(n) Op' = codegen'd
    spans |= set(re.findall(r"\[codegen id : (\d+)\]", plan))
    return len(spans)


def plan_summary(df: DataFrame) -> dict:
    """One-call scale audit for a query plan. Executes first (via the
    codegen probe) so shuffle/join counts reflect the FINAL adaptive
    plan — materialized stages after exchange reuse — not the initial
    pre-AQE tree with its duplicated subplans."""
    codegen = codegen_stage_count(df)  # collect(): finalizes AQE stages
    return {
        "shuffle_exchanges": shuffle_exchanges(df),
        "joins": join_strategies(df),
        "codegen_stages": codegen,
        "pushed_filters": pushed_filters(df),
        "read_columns": read_columns(df),
    }


def assert_no_exchange(df: DataFrame) -> None:
    """Narrow-op contract (sample, per-row transforms): no shuffle."""
    n = shuffle_exchanges(df)
    if n:
        raise AssertionError(f"expected narrow plan, found {n} shuffle exchange(s)")


def assert_plan_stable(build_df, times: int = 2) -> None:
    """Same plan from repeated construction — the Spark-native form of
    the reference's serialization round-trip test (tests/e2e.rs:53-92).
    Expression ids (#123), generated subexpression aliases
    (_common_expr_N from FILTER/count_if rewrites, _groupingexpression_N),
    and higher-order-function lambda variables (lambda x_7 from
    transform/aggregate — UnresolvedNamedLambdaVariable suffixes share the
    same global counter) are globally monotonic allocation counters, not
    plan structure, so they are normalized away before comparing."""
    def _norm(text: str) -> str:
        text = re.sub(r"#\d+", "#", text)
        text = re.sub(r"(_common_expr_|_groupingexpression_?)\d+", r"\1", text)
        return re.sub(r"\blambda ([A-Za-z]+)_\d+", r"lambda \1_", text)

    plans = {_norm(optimized_plan(build_df())) for _ in range(times)}
    if len(plans) != 1:
        raise AssertionError("plan text differs across constructions")
