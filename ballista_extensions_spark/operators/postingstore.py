"""Persisted inverted-index posting store for BM25 retrieval — the
sigstore/annstore/scorestore cross-run-state pattern applied to the
lexical index: tokenize the corpus ONCE at ingest time, persist the
``(term, doc_id, tf, dl)`` postings bucketed by term, and serve every
later query from the store instead of re-exploding the corpus.

Reference parity note: the reference engine (the DataFusion/Ballista
extension showcase) stops at sampling; a persisted retrieval index is
north-star LLM-pipeline surface (SURVEY.md §2 addendum) — the
decontamination/curation workload runs MANY queries against one
corpus snapshot, so paying the corpus explode per query
(operators/retrieval.py:bm25_topk) is the curriculum-fold mistake
(VERDICT r15 #5) in lexical form.

Design for 100 TB:

- **Ingest** writes postings bucketed (and sorted) by ``term``:
  the explode + map-side-combined groupBy is the only corpus-scale
  stage, paid once per ingest, never per query.
- **Probe** filters ``term IN (query terms)`` on the bucket column —
  Spark prunes the scan to the ≤ |terms| matching buckets
  (SelectedBucketsCount evidence, plan-asserted in
  tests/test_postingstore.py), so query cost follows posting-list
  length, not corpus size, and NOTHING re-tokenizes.
- **Corpus scalars** (N, Σdl) live in a tiny side table with one row
  per ingest batch; a probe aggregates O(ingests) rows to two
  integers of driver state — the shard-manifest scalar pattern
  (operators/shards.py).
- **Increments** append postings computed from the new documents
  alone (the stored postings are never scanned — plan-asserted), the
  same append-only contract as the score store: the pipeline assigns new
  doc_ids, so per-(term, doc) tf rows never need merging across
  batches and per-term df is the plain row count.

Exactness: the probe reuses the inline path's score template and
epilogue verbatim (bm25_score_sql / bm25_pivot_topk), so
``bm25_from_store(store(corpus)) == bm25_topk(corpus)`` bit-for-bit —
pinned by tests/test_postingstore.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ballista_extensions_spark.operators.retrieval import (
    _check_terms,
    bm25_pivot_topk,
    bm25_score_sql,
)
from ballista_extensions_spark.operators.text import TOKENS_SQL

__all__ = [
    "posting_frame",
    "build_posting_store",
    "extend_posting_store",
    "bm25_from_store",
    "bm25_batch_topk",
    "drop_posting_store",
]


def _stats_table(table: str) -> str:
    return f"{table}_stats"


def posting_frame(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full inverted-index postings ``(term, doc_id, tf, dl)`` for a
    document frame — the same tokenizer expression the inline BM25
    path uses (TOKENS_SQL), so a store probe and a fresh
    :func:`~ballista_extensions_spark.operators.retrieval.bm25_topk`
    agree exactly. One explode + one map-side-combined groupBy."""
    d = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.expr(TOKENS_SQL.format(col=text_col)).alias("toks"),
        )
        .withColumn("dl", F.size("toks").cast("long"))
    )
    return (
        d.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def _stats_from_postings(postings: DataFrame) -> DataFrame:
    """One-row ``(n_docs, sum_dl)`` frame derived from POSTING rows
    (never a second tokenization pass): every non-NULL-text document
    yields at least one posting (``split`` maps even the empty string
    to ``['']``, the same expression the inline BM25 path uses), so
    ``n_docs`` is the distinct doc count and ``Σ tf`` telescopes to
    ``Σ dl``. Appended to the side table, never merged in place."""
    return postings.agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.coalesce(F.sum("tf"), F.lit(0)).cast("long").alias(
            "sum_dl"
        ),
    )


def build_posting_store(
    docs: DataFrame,
    table: str,
    *,
    buckets: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus ONCE and persist the postings bucketed +
    sorted by ``term`` (probes bucket-prune to the query's terms);
    the corpus scalars are then derived from the WRITTEN postings —
    a columnar aggregate over the fresh store, not a second
    tokenization pass over the corpus. Returns the read-back
    postings handle."""
    from ballista_extensions_spark.io import write_bucketed

    postings = posting_frame(docs, text_col=text_col, id_col=id_col)
    write_bucketed(postings, table, "term", buckets, sort_by="term")
    handle = docs.sparkSession.table(table)
    _stats_from_postings(handle).write.mode("overwrite").format(
        "parquet"
    ).saveAsTable(_stats_table(table))
    return handle


def extend_posting_store(
    new_docs: DataFrame,
    table: str,
    *,
    buckets: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    check_fresh_ids: bool = False,
) -> DataFrame:
    """Ingest a crawl increment: tokenize ONLY the new documents —
    once (the increment's postings are persisted across the write and
    the stats aggregate, then released; increments are bounded by
    contract) — append their postings and one stats row. The stored
    postings are never scanned (cost ∝ increment, plan-asserted in
    tests). Caller contract: increment doc_ids are new (the pipeline
    assigns monotone ids).

    ``check_fresh_ids=True`` verifies that contract loudly instead of
    letting a repeated doc_id silently double-count ``n_docs``/
    ``sum_dl`` and inflate df (ADVICE r16): a semi-join of the stored
    doc_ids against the increment's. Debug/ingest-validation mode —
    it scans the stored postings' doc_id column, so it trades the
    cost-∝-increment property for a corruption guard; leave it off on
    the hot path."""
    spark = new_docs.sparkSession
    if check_fresh_ids:
        if spark.catalog.tableExists(table):
            dup = (
                spark.table(table)
                .select("doc_id")
                .join(
                    new_docs.select(F.col(id_col).alias("doc_id")),
                    "doc_id",
                    "left_semi",
                )
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    f"extend_posting_store({table!r}): increment "
                    "contains doc_ids the store already holds — "
                    "appending would double-count n_docs/sum_dl and "
                    "inflate df for every shared term"
                )
    postings = posting_frame(
        new_docs, text_col=text_col, id_col=id_col
    ).persist()
    try:
        (
            postings.write.mode("append")
            .format("parquet")
            .bucketBy(buckets, "term")
            .sortBy("term")
            .saveAsTable(table)
        )
        _stats_from_postings(postings).write.mode("append").format(
            "parquet"
        ).saveAsTable(_stats_table(table))
    finally:
        postings.unpersist()
    return new_docs.sparkSession.table(table)


def bm25_from_store(
    spark: SparkSession,
    table: str,
    terms: tuple[str, ...],
    k: int = 20,
) -> DataFrame:
    """Exact BM25 top-``k`` served from the persisted index: the scan
    is pruned to the buckets holding the query terms, df is a
    |terms|-row aggregate of the pruned postings, and the corpus
    scalars come from O(ingests) stats rows. Output schema and values
    are identical to the inline ``bm25_topk`` on the same corpus:
    ``(doc_id, n_terms, bm25, rank)``."""
    terms = _check_terms(terms)
    if k <= 0:
        raise ValueError(f"bm25: k must be positive, got {k}")
    scored = _scored_postings(spark, table, terms)
    return bm25_pivot_topk(scored, terms, k)


def _scored_postings(
    spark: SparkSession,
    table: str,
    terms: tuple[str, ...],
    df_cap: int | None = None,
) -> DataFrame:
    """Shared probe front: stats scalars → bucket-pruned posting scan
    → broadcast df table → per-(doc, term) BM25 scores. BOTH store
    entry points (single probe and batch) go through this one
    function so their score expressions stay identical by
    construction — the bit-for-bit equality the tests pin.

    The IN-filter sits directly on the bucketed scan, so it reads
    <= |terms| of the store's buckets. No ensure_parallelism here —
    the probe never tokenizes (no CPU-heavy per-row stage), and a
    repartition between filter and scan would only add an exchange.
    """
    stats = (
        spark.table(_stats_table(table))
        .agg(
            F.sum("n_docs").cast("long").alias("n"),
            F.sum("sum_dl").cast("long").alias("sdl"),
        )
        .collect()[0]
    )
    n_docs, sum_dl = int(stats["n"] or 0), int(stats["sdl"] or 0)
    if n_docs == 0:
        raise ValueError(f"bm25: posting store {table!r} is empty")
    n_sql = f"CAST({n_docs} AS DOUBLE)"
    avgdl_sql = f"(CAST({sum_dl} AS DOUBLE) / CAST({n_docs} AS DOUBLE))"
    tf = spark.table(table).filter(F.col("term").isin(*terms))
    df_tbl = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    if df_cap is not None:
        if df_cap <= 0:
            raise ValueError(
                f"bm25: df_cap must be positive, got {df_cap}"
            )
        # the inner join below then drops capped-out terms' postings
        # BEFORE any downstream fan-out — the candidate volume
        # collapses at the |terms|-row df table
        df_tbl = df_tbl.filter(F.col("df") <= df_cap)
    return tf.join(F.broadcast(df_tbl), "term").withColumn(
        "score", F.expr(bm25_score_sql(n_sql, avgdl_sql))
    )


def bm25_batch_topk(
    spark: SparkSession,
    table: str,
    queries: DataFrame,
    k: int = 10,
    *,
    df_cap: int | None = None,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
) -> DataFrame:
    """BM25 top-``k`` per query for a whole QUERY TABLE against the
    persisted index in ONE job — the decontamination shape: a
    benchmark suite is thousands of queries, and running
    :func:`bm25_from_store` per query pays the fixed job cost
    thousands of times. Input: ``(query_id, terms array<string>)``.
    Output: ``(query_id, doc_id, n_terms, bm25, rank)`` with rank
    1..≤k per query; queries whose terms match nothing yield no rows
    (a decontamination "no hit").

    Contract and scale posture:

    - The query table is benchmark-sized BY CONTRACT (thousands of
      rows, not a corpus): its distinct term universe is collected to
      the driver (O(total query terms) state) so the store scan keeps
      the literal IN-filter that bucket-prunes it, and the per-term
      df table and the query↔term map are broadcast.
    - Candidate rows per query are bounded by the posting lists of
      its terms (df-bounded, never corpus-wide); the only wide
      exchange after the pruned scan is the per-(query, doc) groupBy,
      and the top-k window partitions by query_id over those bounded
      candidates — never a global sort.
    - Duplicate terms within a query score once (standard
      set-of-terms BM25; query-side multiplicity is ignored).
      Case-VARIANT terms are distinct terms here (the tokenizer is
      case-sensitive) — unlike the single probe, whose pivot-column
      spelling forces it to reject case-folded collisions.
    - ``df_cap`` is the batch's SCALE CONTROL (the semdedup-n_lists
      analogue): candidate volume is Θ(Σ_q Σ_{t∈q} df(t)), so
      stop-grade terms (df ≈ N) make it Θ(queries × corpus) — the
      measured worst case on the 31-term synthetic corpus where
      every term's df ≈ 0.77·N (BASELINE.md). Setting ``df_cap``
      drops terms with df > cap from scoring entirely (they carry
      near-zero idf mass anyway); capped-out queries then simply
      rank by their surviving terms, identical to querying with
      those terms removed (pinned by tests). ``None`` = exact,
      uncapped.

    Exactness: per-(query, doc) totals fold the per-term scores in
    SORTED-TERM order via a materialized, sorted struct array —
    deterministic and engine-replayable (DuckDB: list_sort +
    ordered list fold), unlike a SUM over doubles whose accumulation
    order is partition-dependent. A single-query batch therefore
    equals :func:`bm25_from_store` called with its terms in sorted
    order (pinned by tests/test_postingstore.py).
    """
    if k <= 0:
        raise ValueError(f"bm25: k must be positive, got {k}")
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.array_distinct(F.col(terms_col)).alias("terms"),
    )
    raw = {
        r["t"]
        for r in q.select(F.explode("terms").alias("t"))
        .distinct()
        .collect()
    }
    if None in raw:
        raise ValueError(
            "bm25: NULL term inside a query's terms array"
        )
    if not raw:
        raise ValueError("bm25: empty query term set")
    bad = [t for t in raw if not (t.isascii() and t.isalnum())]
    if bad:
        # same per-term rule as the single probe; the batch skips only
        # the cross-set case-fold check (it builds no pivot columns,
        # so s_Data/s_data collisions cannot occur here)
        raise ValueError(
            f"bm25: terms {sorted(bad)[:5]!r} are not "
            "ASCII-alphanumeric"
        )
    universe = tuple(sorted(raw))

    # one bucket-pruned scan + scoring front shared with
    # bm25_from_store (literal IN keeps static bucket pruning, which
    # a broadcast join would forfeit)
    scored = _scored_postings(spark, table, universe, df_cap)
    qterms = q.select(
        "query_id", F.explode("terms").alias("term")
    )
    hits = scored.join(F.broadcast(qterms), "term")
    # fixed-order fold: sorted (term, score) structs per (query, doc)
    totals = (
        hits.groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sort_array(
                F.collect_list(F.struct("term", "score"))
            ).alias("parts"),
        )
        .withColumn(
            "bm25",
            F.expr(
                "aggregate(parts, CAST(0 AS DOUBLE),"
                " (acc, x) -> acc + x.score)"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), "doc_id"
    )
    return (
        totals.select(
            "query_id",
            "doc_id",
            "n_terms",
            "bm25",
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def drop_posting_store(spark: SparkSession, table: str) -> None:
    """Drop the postings and stats tables (test/maintenance helper)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {_stats_table(table)}")
