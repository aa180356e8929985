"""Contract-audit queries (VERDICT r7 directives #4 and #8): every
(check_name, passed) row must be TRUE at pytest's sf, mirroring the
driver's constant-oracle hash check at its sf."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ballista_extensions_spark.queries import QUERIES
from ballista_extensions_spark.queries.audits import AUDITS


@pytest.mark.parametrize("name", list(AUDITS))
def test_audit_all_pass(spark, sf_dir, name):
    """Every row TRUE, and exactly the declared check names."""
    rows = QUERIES[name](spark, sf_dir).collect()
    failed = [r["check_name"] for r in rows if not r["passed"]]
    assert not failed, f"failed checks: {failed}"
    assert sorted(r["check_name"] for r in rows) == sorted(AUDITS[name])


def test_packing_audit_counts_documents_independently(
    spark, sf_dir, monkeypatch
):
    """eos_per_document compares against the input's document count, so
    an applier that drops a document fails it even though every other
    check reads the applier's own (consistent) output."""
    from ballista_extensions_spark.operators import bpe_stream

    applier = bpe_stream.bpe_stream_token_ids

    def drops_first_doc(docs, merges, **kw):
        id_col = kw.get("id_col", "doc_id")
        first = docs.agg(F.min(id_col)).first()[0]
        return applier(docs, merges, **kw).filter(F.col(id_col) != first)

    monkeypatch.setattr(bpe_stream, "bpe_stream_token_ids", drops_first_doc)
    rows = dict(
        (r["check_name"], r["passed"])
        for r in QUERIES["packing_contract_audit"](spark, sf_dir).collect()
    )
    assert rows["eos_per_document"] is False


def test_sketch_measured_errors(spark, orders):
    """The raw relative errors behind sketch_contract_audit's booleans —
    measured, not asserted-from-docs (BASELINE.md records the sf0.1
    values). Bounds here are the audit's own thresholds."""
    est = orders.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("o_custkey", F.lit(12))
        ).cast("double").alias("est"),
        F.countDistinct("o_custkey").cast("double").alias("exact"),
    ).first()
    hll_rel = abs(est["est"] - est["exact"]) / est["exact"]
    assert hll_rel <= 0.049

    q = orders.agg(
        F.kll_sketch_get_quantile_double(
            F.kll_sketch_agg_double(F.col("o_totalprice").cast("double")),
            F.lit(0.5),
        ).alias("q")
    ).first()["q"]
    n = orders.count()
    below = orders.filter(F.col("o_totalprice").cast("double") <= q).count()
    kll_rank_err = abs(below / n - 0.5)
    assert kll_rank_err <= 2 * 0.0165
