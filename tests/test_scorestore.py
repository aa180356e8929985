"""Persisted classifier-score store (operators/scorestore.py —
VERDICT r15 directive #5): score-once/join-later equals the inline
fold and the bucketed join is exchange-free on the store side."""

from __future__ import annotations

from pyspark.sql import functions as F

from ballista_extensions_spark.operators import scorestore as SC

CAP, SEED = 2048, 20260815


def test_store_schedule_equals_recompute(spark, documents, sf_dir):
    """The directive's core contract: curriculum from the persisted
    scores is BIT-identical to the inline-fold schedule
    (curriculum_shard_schedule's exact frame)."""
    from ballista_extensions_spark.queries.analytics15 import (
        curriculum_shard_schedule,
    )

    inline = curriculum_shard_schedule(spark, sf_dir).collect()
    scores = SC.quality_score_frame(documents)
    via_store = SC.curriculum_from_scores(
        documents, scores, CAP, SEED
    ).collect()
    assert inline == via_store


def test_store_table_round_trip(spark, documents):
    """build -> read-back: same (doc_id, qscore) set; qscore is the
    exact micro-logit of the classifier."""
    table = "qscore_test_store"
    try:
        handle = SC.build_score_store(documents, table, buckets=4)
        direct = {
            (r["doc_id"], r["qscore"])
            for r in SC.quality_score_frame(documents).collect()
        }
        stored = {
            (r["doc_id"], r["qscore"]) for r in handle.collect()
        }
        assert direct == stored and len(stored) > 0
    finally:
        SC.drop_score_store(spark, table)


def test_bucketed_join_is_exchange_free_on_store_side(
    spark, documents
):
    """Both sides bucketed by doc_id -> the curriculum join reads the
    store without an exchange (the 100 TB posture: downstream
    consumers never reshuffle the score table)."""
    from ballista_extensions_spark import plans as P

    stable, dtable = "qscore_join_store", "qscore_join_docs"
    try:
        SC.build_score_store(documents, stable, buckets=4)
        from ballista_extensions_spark.io import write_bucketed

        write_bucketed(
            documents.filter(F.col("text").isNotNull()).select(
                "doc_id", "text"
            ),
            dtable,
            "doc_id",
            4,
            sort_by="doc_id",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
        )
        try:
            joined = spark.table(dtable).join(
                spark.table(stable), "doc_id"
            )
            joined.count()
            assert P.shuffle_exchanges(joined) == 0
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.unset(
                "spark.sql.adaptive.autoBroadcastJoinThreshold"
            )
    finally:
        SC.drop_score_store(spark, stable)
        SC.drop_score_store(spark, dtable)


def test_null_text_excluded(spark):
    df = spark.createDataFrame(
        [(0, "good text here"), (1, None)], ["doc_id", "text"]
    )
    rows = SC.quality_score_frame(df).collect()
    assert [r["doc_id"] for r in rows] == [0]
