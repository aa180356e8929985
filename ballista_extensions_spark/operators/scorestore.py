"""Persisted quality-classifier score store (VERDICT r15 directive
#5): score each document ONCE with the frozen classifier at gate
time, persist ``(doc_id, qscore)``, and let every downstream consumer
(curriculum ordering, classified curation, DSIR target gating) JOIN
the store instead of re-paying the fold — the sigstore/annstore
cross-run-state pattern (operators/sigstore.py) applied to quality
scores.

Why: the frozen classifier's hashed-BoW fold is a per-token 8k-dim
dot product — the most expensive per-row expression in the pipeline
(curriculum_shard_schedule's 0.86 scale exponent in BASELINE.md r15
was exactly this fold re-paid over the corpus). A pipeline that
already gated on quality has these logits; recomputing them at
curriculum time doubles the most expensive narrow stage for zero
information.

State model: one frame ``(doc_id, qscore)`` where ``qscore =
floor(logit * 1e6)`` as BIGINT — the micro-logit quantization the
curriculum query already uses (exact integer SUMs cross-engine; 1e-6
is far below any meaningful quality difference). Persisted bucketed
by ``doc_id``: downstream joins against a corpus bucketed the same
way are exchange-free on the store side, and ingest of a crawl
increment appends WITHOUT scanning stored scores (cost ∝ increment
— plan-asserted in tests/test_scorestore.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ballista_extensions_spark.operators.qualityclassifier import (
    quality_logit_sql,
)
from ballista_extensions_spark.operators.shards import (
    assign_training_shards,
    manifest_agg,
)

__all__ = [
    "quality_score_frame",
    "build_score_store",
    "curriculum_from_scores",
    "drop_score_store",
]

#: micro-logit quantization (shared with curriculum_shard_schedule)
MICRO = 1_000_000


def quality_score_frame(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score once: ``(doc_id, qscore)`` with qscore the BIGINT
    micro-logit of the frozen classifier — one codegen'd narrow
    projection over the corpus, zero shuffle."""
    return docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            f"CAST(floor(({quality_logit_sql(text_col)}) * {MICRO}.0) "
            "AS BIGINT)"
        ).alias("qscore"),
    )


def build_score_store(
    docs: DataFrame,
    table: str,
    *,
    buckets: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score the accepted corpus and persist as a bucketed-by-doc_id
    table; returns the read-back handle. Downstream equi-joins on
    doc_id against same-bucketed frames are exchange-free on the
    store side."""
    from ballista_extensions_spark.io import write_bucketed

    scores = quality_score_frame(
        docs, text_col=text_col, id_col=id_col
    )
    write_bucketed(scores, table, "doc_id", buckets, sort_by="doc_id")
    return docs.sparkSession.table(table)


def curriculum_from_scores(
    docs: DataFrame,
    scores: DataFrame,
    capacity: int,
    seed: int,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-curriculum shard schedule from PERSISTED scores — the
    same output as scoring inline (pinned by tests), with the fold
    replaced by an equi-join on doc_id (exchange-free on the store
    side when both frames are bucketed by doc_id): ``(sched_pos,
    shard_id, n_docs, n_tokens, min_rank, max_rank, content_hash,
    mean_score)``, shards ordered easy -> hard by mean micro-logit.
    The re-index window runs over SHARD-COUNT rows (manifest-sized),
    never the corpus."""
    d = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    scored = d.join(scores.select("doc_id", "qscore"), "doc_id")
    assigned = assign_training_shards(
        scored, capacity, seed, carry_cols=("qscore",)
    )
    man = manifest_agg(
        assigned,
        (
            F.sum("qscore").cast("double")
            / F.lit(float(MICRO))
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_score"),
    )
    return man.select(
        F.row_number()
        .over(Window.orderBy("mean_score", "shard_id"))
        .cast("long")
        .alias("sched_pos"),
        "shard_id",
        "n_docs",
        "n_tokens",
        "min_rank",
        "max_rank",
        "content_hash",
        "mean_score",
    ).orderBy("sched_pos")


def drop_score_store(spark: SparkSession, table: str) -> None:
    """Drop the managed store table (test/maintenance helper)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
