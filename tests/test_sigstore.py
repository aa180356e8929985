"""MinHash signature store (operators/sigstore.py): frozen-cap
semantics, ingest-vs-direct equivalence and the bucketed-table plan
shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ballista_extensions_spark.operators import sigstore as SS


def _pairs_set(df):
    return {
        (r.doc_stored, r.doc_new, round(r.jaccard, 12))
        for r in df.collect()
    }


def _direct_frozen_cap_pairs(spark, stored, batch, threshold, max_df):
    """Independent reference: exact store-vs-batch pairs under the
    frozen cap (stop shingles from the STORED corpus only), computed
    with plain DataFrame ops — no banding, no sigstore code."""
    from ballista_extensions_spark.operators.dedup import (
        _word_postings,
    )

    a_post = _word_postings(stored, "text", "doc_id", 3)
    b_post = _word_postings(batch, "text", "doc_id", 3)
    stop = (
        a_post.groupBy("s")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > max_df)
        .select("s")
    )
    a_cap = a_post.join(stop, "s", "left_anti")
    b_cap = b_post.join(stop, "s", "left_anti")
    sa = a_cap.groupBy("doc").agg(F.count(F.lit(1)).alias("sza"))
    sb = b_cap.groupBy("doc").agg(F.count(F.lit(1)).alias("szb"))
    inter = (
        a_cap.select(F.col("doc").alias("da"), "s")
        .join(b_cap.select(F.col("doc").alias("db"), "s"), "s")
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).cast("double").alias("i"))
    )
    j = (
        inter.join(sa, inter["da"] == sa["doc"])
        .join(sb, inter["db"] == sb["doc"])
        .select(
            F.col("da").alias("doc_stored"),
            F.col("db").alias("doc_new"),
            (
                F.col("i")
                / (
                    F.col("sza").cast("double")
                    + F.col("szb").cast("double")
                    - F.col("i")
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return j


def test_ingest_matches_direct_computation(spark, documents):
    """The banded store path reproduces the direct frozen-cap pair set
    bit-for-bit on the test corpus (recall 1.0 at b=64/r=2, precision
    exact by verification)."""
    stored = documents.filter(F.col("doc_id") % 3 != 0)
    batch = documents.filter(F.col("doc_id") % 3 == 0)
    store = SS.build_signature_store(stored, max_df=100)
    sig = SS.batch_signatures(store, batch)
    got = SS.ingest_against_store(store, sig, threshold=0.35)
    want = _direct_frozen_cap_pairs(spark, stored, batch, 0.35, 100)
    assert _pairs_set(got) == _pairs_set(want)
    assert len(_pairs_set(got)) > 0  # the corpus has real near-dups


def test_identical_text_is_caught(spark):
    """A new doc with text identical to a stored doc surfaces as a
    jaccard-1.0 pair; an unrelated doc surfaces nowhere."""
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    stored = mk(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
        ]
    )
    batch = mk(
        [
            (10, "alpha beta gamma delta epsilon zeta"),
            (11, "totally different words everywhere here now"),
        ]
    )
    store = SS.build_signature_store(stored, max_df=100)
    sig = SS.batch_signatures(store, batch)
    pairs = _pairs_set(
        SS.ingest_against_store(store, sig, threshold=0.5)
    )
    assert pairs == {(1, 10, 1.0)}


def test_bucketed_store_candidate_join_plan(spark, documents):
    """With the store persisted bucketed by bkey, the candidate join
    reads the store side WITHOUT an exchange: the only shuffle is the
    (small) increment's band rows moving to the store's bucket layout
    — the property that keeps per-increment cost independent of
    corpus size."""
    from ballista_extensions_spark import plans as P

    stored = documents.filter(F.col("doc_id") % 3 != 0).limit(200)
    batch = documents.filter(F.col("doc_id") % 3 == 0).limit(50)
    store = SS.build_signature_store(
        stored, max_df=100, table_prefix="sig_test_store", buckets=8
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        sig = SS.batch_signatures(store, batch)
        # flatten the increment's own signature pipeline (it has its
        # legitimate internal shuffles) so the assertion isolates the
        # CANDIDATE JOIN: one exchange for the increment moving to the
        # store's bucket layout, none for the store scan
        nb = sig.bands.select(
            F.col("doc").alias("doc_b"), "bkey"
        ).localCheckpoint()
        sb = store.bands.select(F.col("doc").alias("doc_a"), "bkey")
        joined = sb.join(nb, "bkey")
        joined.count()
        assert P.shuffle_exchanges(joined) == 1
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "sig_test_store_bands" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        for t in ("sig_test_store_bands", "sig_test_store_sets",
                  "sig_test_store_stop"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_batch_signature_param_mismatch_is_callers_burden(spark):
    """Differently-parameterized banding produces incomparable bkeys:
    a self-identical doc is MISSED when bands differ — documented
    sharp edge (the query face pins matching params)."""
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    stored = mk([(1, "alpha beta gamma delta epsilon zeta")])
    batch = mk([(10, "alpha beta gamma delta epsilon zeta")])
    store = SS.build_signature_store(stored, bands=64, rows_per_band=2)
    sig = SS.batch_signatures(store, batch, bands=32, rows_per_band=4)
    # bkeys disagree -> zero candidates -> zero pairs despite jaccard 1
    assert SS.ingest_against_store(store, sig, threshold=0.5).count() == 0
