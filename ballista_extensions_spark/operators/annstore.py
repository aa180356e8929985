"""Persisted ANN index store: the sigstore pattern for embeddings
(VERDICT r9 directive #2). ``similarity.ivf_topk`` rebuilds centroids
and assignments on every call; a production pipeline builds the index
ONCE, appends each new embedding batch incrementally, probes it per
query batch, and re-clusters only when the corpus has drifted.

State model (two artifacts, optionally persisted as tables):

- ``centroids`` — the FROZEN coarse quantizer (n_lists × dim doubles,
  a few KB). Frozen for the same reason sigstore's stop list is: a
  true incremental system cannot re-train the quantizer per increment
  without re-assigning the whole corpus; it drifts slowly
  (``similarity.centroid_drift`` monitors it) and is re-trained by a
  fresh ``train_centroids`` + ``build_ann_index``.
- ``assignments`` — ``(vec_id, embedding, cell)``, persisted as a
  parquet table PARTITIONED BY cell: the literal inverted file. Two
  scale properties fall out of the layout:
    * ingest = ``mode("append")`` of ONLY the increment's assigned
      rows into the existing cell directories — cost ∝ increment,
      flat in store size BY CONSTRUCTION (no store rewrite, unlike
      sigstore's bucketed-merge compaction), and measured flat by
      ``tools/annstore_scale.py``;
    * probing n_probe cells pushes ``cell IN (...)`` into the scan as
      a PARTITION filter — the store scan reads only the probed
      lists' files (~n_probe/n_lists of the corpus), which is the
      whole point of an inverted file at 100 TB. Plan-asserted in
      tests/test_annstore.py.

Quantizer choice: ``lattice_centroids`` is a deterministic
integer-arithmetic lattice — exactly reproducible in ANSI SQL, which
is what lets the driver's DuckDB oracle replay assignment + probe +
exact cosine ranking bit-for-bit (``ann_index_incremental``).
``train_centroids`` is the quality path (bounded-sample k-means, the
``ivf_topk`` recipe); both produce plain tuples the rest of the store
treats identically, so correctness is proven on the frozen lattice
and recall is pytest-measured on the trained one.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ballista_extensions_spark.io import ensure_parallelism
from ballista_extensions_spark.operators.similarity import (
    as_double,
    dot_sql,
    norm_sql,
)

Centroids = tuple[tuple[float, ...], ...]


@dataclass(frozen=True)
class AnnIndex:
    """Handle to ANN index state: frozen coarse quantizer + inverted
    file. ``assignments`` may be in-memory or a cell-partitioned
    table (``table`` holds its name when persisted)."""

    centroids: Centroids
    assignments: DataFrame  # (vec_id, embedding, cell)
    table: str | None = None


def lattice_centroids(n_lists: int, dim: int) -> Centroids:
    """Deterministic quantizer points from pure integer arithmetic:
    component d of centroid j is ((j*1009 + d*9176 + j*d*31) mod 2001
    - 1000) / 1000.0 ∈ [-1, 1]. Both engines compute the identical
    IEEE division of the identical small integer, so the oracle can
    regenerate the exact doubles with generate_series."""
    return tuple(
        tuple(
            (((j * 1009 + d * 9176 + j * d * 31) % 2001) - 1000) / 1000.0
            for d in range(dim)
        )
        for j in range(n_lists)
    )


def train_centroids(
    corpus: DataFrame,
    n_lists: int,
    *,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> Centroids:
    """Quality quantizer: k-means over a bounded deterministic sample
    (the ``ivf_topk`` recipe — fit_cap smallest xxhash64(id, seed)
    values, so the same corpus yields the same centroids whatever its
    partitioning; training cost is O(cap) regardless of corpus size).
    ``refine_iters > 0`` follows with that many FULL-CORPUS Lloyd
    iterations as distributed aggregations
    (:func:`refine_centroids_distributed`) so the final quantizer does
    not depend on sample luck — the VERDICT r12 #5 path; driver state
    stays k x dim throughout."""
    import numpy as np

    from ballista_extensions_spark.operators.similarity import _kmeans_lloyd

    fit_cap = max(256 * n_lists, 4096)
    samp = (
        corpus.select(
            F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"),
            F.expr(as_double(vec_col)).alias("_v"),
        )
        .orderBy("_h")
        .limit(fit_cap)
    )
    pts = np.asarray([r[1] for r in samp.collect()], dtype=np.float64)
    cents = _kmeans_lloyd(pts, n_lists, seed=seed, max_iter=8)
    if not np.isfinite(cents).all():
        raise ValueError(
            "ann quantizer: non-finite centroid — corpus embeddings "
            "contain NaN/Inf; clean them upstream"
        )
    out = tuple(tuple(float(x) for x in c) for c in cents)
    if refine_iters > 0:
        out, _ = refine_centroids_distributed(
            corpus, out, iters=refine_iters, id_col=id_col, vec_col=vec_col
        )
    return out


def refine_centroids_distributed(
    corpus: DataFrame,
    centroids: Centroids,
    *,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[Centroids, list[float]]:
    """Full-corpus Lloyd refinement of a (sampled-)trained quantizer
    (VERDICT r12 directive #5): ``train_centroids`` fits k-means on a
    bounded driver-collected sample — standard practice, but at 100 TB
    centroid quality should not depend on sample luck. Each iteration
    here is ONE distributed aggregation: assign every vector to its
    nearest centroid (the codegen'd ``assign_cells`` pass), then
    groupBy(cell) with ``dim`` AVG aggregates (map-side combined — the
    shuffle carries k x dim partial sums per task, never vectors) and
    collect the k x dim new means; the driver holds ONLY the centroid
    table, exactly like the frozen path. Cells that lose all members
    keep their previous centroid (the standard empty-cell rule).

    Also returns the per-iteration ASSIGNMENT CHURN (fraction of
    vectors whose cell changed), computed in the same narrow pass that
    evaluates both quantizers side by side — no join, no second
    shuffle. Churn is the convergence/quality monitor a production
    pipeline reports next to drift (``similarity.centroid_drift``).

    Float caveat (why this is the QUALITY path, like train_centroids
    itself): AVG over doubles accumulates in partition order, so means
    can differ in final ulps across cluster layouts — fine for a
    quantizer (any fixed centroid set is valid; correctness queries
    use the integer-lattice quantizer the oracle regenerates)."""
    if iters < 1:
        raise ValueError(f"refine: iters must be >= 1, got {iters}")
    dim = len(centroids[0])
    base = corpus.select(
        F.col(id_col), F.expr(as_double(vec_col)).alias("__v")
    )
    cents = centroids
    churn: list[float] = []
    for _ in range(iters):
        assigned = assign_cells(
            base, cents, id_col=id_col, vec_col="__v"
        )
        rows = (
            assigned.groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[
                    F.avg(F.col("__v").getItem(i)).alias(f"d{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        means = {
            int(r["cell"]): tuple(float(r[f"d{i}"]) for i in range(dim))
            for r in rows
        }
        new_cents = tuple(
            means.get(j, cents[j]) for j in range(len(cents))
        )
        # churn: both argmins evaluated in ONE narrow projection
        old_lit = _cents_lit(cents)
        new_lit = _cents_lit(new_cents)
        moved = base.select(
            (
                F.expr(
                    f"array_position({_dists_sql('__v', old_lit)}, "
                    f"array_min({_dists_sql('__v', old_lit)}))"
                )
                != F.expr(
                    f"array_position({_dists_sql('__v', new_lit)}, "
                    f"array_min({_dists_sql('__v', new_lit)}))"
                )
            ).cast("int").alias("__m")
        ).agg(F.avg("__m")).first()[0]
        churn.append(float(moved or 0.0))
        cents = new_cents
    return cents, churn


def _cents_lit(centroids: Centroids) -> str:
    """Inline the quantizer as ONE nested array literal (O(n_lists*dim)
    literals, single shared fold — the ivf_topk plan-size discipline)."""
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in c) + ")"
            for c in centroids
        )
        + ")"
    )


def _dists_sql(vec_sql: str, cents_lit: str) -> str:
    """Per-centroid squared L2 distance, each an ordered left-to-right
    double fold over dims (oracle-reproducible, codegen'd)."""
    return (
        f"transform({cents_lit}, c -> "
        f"aggregate(zip_with({vec_sql}, c, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    )


def assign_cells(
    df: DataFrame,
    centroids: Centroids,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, embedding, cell): nearest-centroid assignment as ONE
    narrow codegen'd pass — centroid literals, argmin by first
    occurrence of the minimum (deterministic; ties go to the lowest
    cell index in both engines). No shuffle, no driver state."""
    lit = _cents_lit(centroids)
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(_dists_sql(as_double(vec_col), lit)).alias("__ds"),
    ).select(
        id_col,
        vec_col,
        (F.expr("array_position(__ds, array_min(__ds))").cast("int") - 1).alias(
            "cell"
        ),
    )


def build_ann_index(
    corpus: DataFrame,
    centroids: Centroids,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table_prefix: str | None = None,
) -> AnnIndex:
    """Build the index from the accepted corpus. With ``table_prefix``
    the assignments persist as ``{prefix}_assign`` partitioned by cell
    (the inverted file) and the quantizer as ``{prefix}_centroids``,
    and the returned handle reads from the tables — the cross-run
    form (reopen later as an ``AnnIndex`` over the two tables)."""
    assigned = assign_cells(
        ensure_parallelism(corpus), centroids, id_col=id_col, vec_col=vec_col
    )
    if table_prefix is None:
        return AnnIndex(centroids=centroids, assignments=assigned)
    spark = corpus.sparkSession
    assigned.write.mode("overwrite").format("parquet").partitionBy(
        "cell"
    ).saveAsTable(f"{table_prefix}_assign")
    spark.createDataFrame(
        [(j, list(c)) for j, c in enumerate(centroids)],
        "cell INT, centroid ARRAY<DOUBLE>",
    ).write.mode("overwrite").format("parquet").saveAsTable(
        f"{table_prefix}_centroids"
    )
    return AnnIndex(
        centroids=centroids,
        assignments=spark.table(f"{table_prefix}_assign"),
        table=f"{table_prefix}_assign",
    )


def ingest_into_index(
    index: AnnIndex,
    batch: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> AnnIndex:
    """Add an embedding increment under the FROZEN quantizer. Persisted
    index: APPEND only the increment's assigned rows into the
    cell-partitioned table — no store read, no store rewrite, cost ∝
    increment however large the corpus has grown (tools/annstore_scale
    measures this flat). In-memory index: union of frames."""
    assigned = assign_cells(
        batch, index.centroids, id_col=id_col, vec_col=vec_col
    )
    if index.table is None:
        return AnnIndex(
            centroids=index.centroids,
            assignments=index.assignments.unionByName(assigned),
        )
    spark = batch.sparkSession
    assigned.write.mode("append").format("parquet").insertInto(index.table)
    return AnnIndex(
        centroids=index.centroids,
        assignments=spark.table(index.table),
        table=index.table,
    )


def probe_index(
    index: AnnIndex,
    queries: DataFrame,
    *,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search against the store: each query ranks candidates from
    its n_probe nearest cells by exact cosine. Output (q_id, c_id,
    cosine, rn), rn ∈ 1..k, ties by candidate id — fully deterministic
    given the frozen quantizer, so SQL-oracle-checkable.

    Scale shape: the union of probed cells (≤ n_lists ints, computed
    narrowly and collected — bounded driver state) is pushed into the
    store scan as ``cell IN (...)``; on the persisted cell-partitioned
    table that is a PARTITION filter, so the scan reads only the
    probed lists' files. Probes broadcast; top-k is two-stage
    (per-input-partition local top-k, then the bounded survivor
    reduce) so no task ever holds a whole probe's candidate list."""
    lit = _cents_lit(index.centroids)
    q_cells = (
        queries.select(
            F.col(id_col).alias("q_id"),
            F.expr(as_double(vec_col)).alias("q_vec"),
            F.expr(norm_sql(as_double(vec_col))).alias("q_norm"),
            F.expr(_dists_sql(as_double(vec_col), lit)).alias("ds"),
        )
        .select(
            "q_id",
            "q_vec",
            "q_norm",
            F.explode(
                F.expr(
                    "slice(array_sort(zip_with(ds, sequence(0, size(ds) - 1), "
                    "(d, i) -> struct(d AS d2, i AS cell))), 1, "
                    f"{int(n_probe)})"
                )
            ).alias("pc"),
        )
        .select(
            "q_id", "q_vec", "q_norm", F.col("pc.cell").cast("int").alias("cell")
        )
        .localCheckpoint(eager=False)
    )
    # bounded driver state: ≤ n_lists distinct cell ids — this is what
    # turns the probe into a partition-pruned scan of the store
    probed = sorted(r[0] for r in q_cells.select("cell").distinct().collect())
    c = index.assignments.filter(F.col("cell").isin(probed)).select(
        F.col(id_col).alias("c_id"),
        F.expr(as_double(vec_col)).alias("c_vec"),
        F.expr(norm_sql(as_double(vec_col))).alias("c_norm"),
        "cell",
    )
    cos = F.expr(dot_sql("q_vec", "c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    scored = (
        F.broadcast(q_cells)
        .join(c, ["cell"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cos.alias("cosine"))
    )
    local_w = Window.partitionBy("q_id", "__pid").orderBy(
        F.col("cosine").desc(), F.col("c_id")
    )
    final_w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id")
    )
    return (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lrn", F.row_number().over(local_w))
        .filter(F.col("__lrn") <= k)
        .withColumn("rn", F.row_number().over(final_w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("q_id", "c_id", "cosine", "rn")
    )
