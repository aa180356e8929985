"""Connected-components dedup tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ballista_extensions_spark.operators.components import (
    connected_components,
    dedup_by_components,
)


@pytest.fixture(scope="module")
def chain_graph(spark):
    """0-1-2-3 chain, 10-11 pair, 20 isolated."""
    nodes = spark.createDataFrame([(i,) for i in (0, 1, 2, 3, 10, 11, 20)], ["doc"])
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (3, 2), (10, 11)], ["doc_a", "doc_b"]
    )
    return nodes, edges


def test_components_chain(chain_graph):
    nodes, edges = chain_graph
    comp = {
        r.doc: r.component for r in connected_components(nodes, edges).collect()
    }
    assert comp == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20}


def test_components_max_iter_guard(chain_graph, spark, monkeypatch):
    from ballista_extensions_spark.operators import components as C

    # force the distributed star rounds (the fast path would solve the
    # tiny chain driver-side and never hit the iteration guard)
    monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", -1)
    nodes, edges = chain_graph
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(nodes, edges, max_iter=1)


def test_dedup_by_components_representatives(spark):
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(5)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(0, 3), (3, 4)], ["doc_a", "doc_b"])
    rows = {r.doc_id: r for r in dedup_by_components(df, pairs).collect()}
    assert rows[0].component == rows[3].component == rows[4].component == 0
    assert rows[0].is_representative and not rows[3].is_representative
    reps = [r for r in rows.values() if r.is_representative]
    assert sorted(r.doc_id for r in reps) == [0, 1, 2]


def test_pagerank_integer_mass_and_determinism(spark):
    """Integer PageRank: total mass stays within the damping envelope
    (truncation only loses mass), ranks are deterministic across runs,
    and a symmetric 2-cycle converges to equal ranks."""
    from ballista_extensions_spark.operators.components import (
        pagerank_integer,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], ["u", "v"]
    )
    a = {r["node"]: r["pr_millionths"] for r in pagerank_integer(edges).collect()}
    b = {r["node"]: r["pr_millionths"] for r in pagerank_integer(edges).collect()}
    assert a == b
    n = len(a)
    # mass: damping floor n*150000 <= total <= n*1_000_000 (start mass)
    assert n * 150_000 <= sum(a.values()) <= n * 1_000_000
    # symmetric outer nodes 1 and 3 must tie exactly
    assert a[1] == a[3]
    # the hub (node 2) outranks the leaves
    assert a[2] > a[1]


def test_components_distributed_path_matches_fast_path(spark, monkeypatch):
    """The star-round distributed path and the driver union-find fast
    path must produce identical labels on a random-ish graph."""
    import random

    from ballista_extensions_spark.operators import components as C

    rng = random.Random(7)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc"])
    edf = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    fast = {
        r.doc: r.component
        for r in connected_components(nodes, edf).collect()
    }
    monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", -1)
    dist = {
        r.doc: r.component
        for r in connected_components(nodes, edf).collect()
    }
    assert fast == dist
