"""Contract-audit queries: driver-hash-checkable evidence for the
operators whose outputs are legitimately non-deterministic or
approximate (VERDICT r7 directive #4).

The sample family and the sketch family register rows-only queries (a
Bernoulli sample has no ANSI oracle; a sketch estimate is not a SQL
expression), so their strong contracts — determinism, Chernoff bands,
validation matrix, error bounds — lived only in pytest. Each audit
query RETURNS those contracts as (check_name, passed) rows whose
oracle is a constant table of TRUE — the driver's hash gate then
re-proves the contracts on its own data every time the query is graded.

Every audit has one form: :func:`register_audit` registers it with its
declared check names (and derives the constant oracle from them), and
the audit ends in :func:`check_rows`, which maps each check name to a
driver-side bool or a one-row frame with a ``passed`` column.

Construction differs by audit. The four here (sample, sketch, ann,
dedup_probabilistic) build lazily: the validation-matrix and
plan-shape checks are plan-time booleans (no jobs), everything
statistical is a one-row aggregate unioned into the result, so the
driver's single collect runs the whole audit. The other five
(compression, shard, dsir_gumbel, shard_replay, packing) run their
Spark actions while they are built — checkpoints, one aggregate per
evidence frame collected to the driver, a shard write — and return
the booleans as literal rows.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ballista_extensions_spark.errors import PlanError
from ballista_extensions_spark.io import load_table
from ballista_extensions_spark.queries.registry import register

#: audit name -> its declared check names; every constant-TRUE audit
#: registers here through :func:`register_audit`
AUDITS: dict[str, list[str]] = {}


def _const_true_oracle(names: list[str]) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT '{n}' AS check_name, TRUE AS passed" for n in names
    )


def register_audit(name: str, checks: list[str]):
    """Decorator: register a contract audit under ``name`` with its
    declared ``checks``; the oracle is the constant all-TRUE table
    over them."""
    AUDITS[name] = checks
    return register(name, oracle=_const_true_oracle(checks))


def check_rows(
    spark: SparkSession, checks: dict[str, bool | DataFrame]
) -> DataFrame:
    """An audit's result: one (check_name, passed) row per entry of
    ``checks``. A value is a driver-side bool or a one-row frame with a
    ``passed`` column (evaluated by the caller's collect)."""
    bools = [
        (n, bool(p)) for n, p in checks.items() if not isinstance(p, DataFrame)
    ]
    schema = "check_name string, passed boolean"
    frames = [spark.createDataFrame(bools, schema=schema)] if bools else []
    frames += [
        p.select(F.lit(n).alias("check_name"), F.col("passed").cast("boolean"))
        for n, p in checks.items()
        if isinstance(p, DataFrame)
    ]
    return functools.reduce(DataFrame.unionByName, frames)


def _frames_match_check(
    a: DataFrame,
    b: DataFrame,
    pairs: list[tuple[str, str]],
    expect_match: bool = True,
) -> DataFrame:
    """Distributed set-equality check: full-outer join ``a`` and ``b``
    on ALL column pairs (so a value mismatch surfaces as two unmatched
    rows, same as a missing row), then assert zero unmatched rows
    (``expect_match=True``) or at least one (``False`` — the
    'different seeds produce different samples' direction). One
    shuffle; no collect."""
    cond = None
    for la, rb in pairs:
        c = a[la] == b[rb]
        cond = c if cond is None else cond & c
    la0, rb0 = pairs[0]
    unmatched = F.sum(
        F.when(a[la0].isNull() | b[rb0].isNull(), 1).otherwise(0)
    )
    passed = (unmatched == 0) if expect_match else (unmatched > 0)
    # SUM over a zero-row join is NULL (both frames empty): two empty
    # sets are equal, and any set-level contract over an empty input is
    # vacuous — coalesce to TRUE so the audit tolerates degenerate
    # corpora instead of failing on a NULL boolean (same class as the
    # empty-exact-baseline guard in the ANN recall checks).
    return a.join(b, cond, "full_outer").agg(
        F.coalesce(passed, F.lit(True)).alias("passed")
    )


_SAMPLE_AUDIT_CHECKS = [
    "fraction_zero_rejected",
    "fraction_above_one_rejected",
    "negative_seed_rejected",
    "fraction_one_accepted",
    "schema_preserved",
    "plan_no_exchange",
    "same_seed_deterministic",
    "different_seeds_differ",
    "chernoff_band_6sigma",
    "stratified_bands_6sigma",
]


@register_audit("sample_contract_audit", _SAMPLE_AUDIT_CHECKS)
def sample_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sample operator's full contract as driver-checkable rows —
    the reference's e2e matrix (tests/e2e.rs:20-51) plus the statistical
    guarantees its golden tests encode rand-crate-specifically:

    - validation matrix: fraction 0 / >1 and negative seeds rejected,
      fraction 1.0 accepted (src/dataframe/sample.rs:28-38);
    - schema passthrough and no-Exchange plan shape
      (src/logical/sample_extension.rs:24, src/physical/sample_exec.rs:55-57);
    - same (plan, fraction, seed) -> identical kept set; different
      seeds -> different kept sets;
    - Chernoff 6-sigma band on the kept count at fraction 0.3, and
      per-stratum 6-sigma bands for the stratified sampler.

    The statistical checks are aggregates over the driver's own data
    (the symmetric difference rides a full-outer join on the composite
    key — distributed, no collect); the plan-shape checks are
    plan-construction booleans. Oracle: the constant all-TRUE table."""
    from ballista_extensions_spark import plans as P
    from ballista_extensions_spark.operators.sample import sample, sample_by

    li = load_table(spark, sf_dir, "lineitem")

    def _rejected(fn) -> bool:
        try:
            fn()
            return False
        except PlanError:
            return True

    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long")
    s1 = sample(li, 0.3, 123).select(key.alias("k1"))
    s2 = sample(li, 0.3, 123).select(key.alias("k2"))
    s3 = sample(li, 0.3, 321).select(key.alias("k3"))

    chernoff = (
        li.agg(F.count(F.lit(1)).cast("double").alias("n"))
        .crossJoin(
            s1.agg(F.count(F.lit(1)).cast("double").alias("kept"))
        )
        .select(
            (
                F.abs(F.col("kept") - 0.3 * F.col("n"))
                < F.lit(6.0) * F.sqrt(F.col("n") * 0.3 * 0.7)
            ).alias("passed")
        )
    )

    fractions = {"AUTOMOBILE": 0.4, "BUILDING": 0.3, "MACHINERY": 0.2}
    cust = load_table(spark, sf_dir, "customer")
    strat = sample_by(cust, "c_mktsegment", fractions, seed=7)
    frac_df = spark.createDataFrame(
        [(k, float(v)) for k, v in fractions.items()],
        schema="seg string, frac double",
    )
    per_key = (
        cust.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("double").alias("n_seg"))
        .join(frac_df, F.col("c_mktsegment") == F.col("seg"))
        .join(
            strat.groupBy(F.col("c_mktsegment").alias("__sseg")).agg(
                F.count(F.lit(1)).cast("double").alias("kept_seg")
            ),
            F.col("c_mktsegment") == F.col("__sseg"),
            "left",
        )
        .select(
            (
                F.abs(
                    F.coalesce(F.col("kept_seg"), F.lit(0.0))
                    - F.col("frac") * F.col("n_seg")
                )
                < F.lit(6.0)
                * F.sqrt(
                    F.col("n_seg") * F.col("frac") * (1 - F.col("frac"))
                )
                + F.lit(1.0)  # integer rounding slack for tiny strata
            ).alias("within")
        )
    )
    return check_rows(
        spark,
        {
            "fraction_zero_rejected": _rejected(lambda: sample(li, 0.0)),
            "fraction_above_one_rejected": _rejected(
                lambda: sample(li, 1.5)
            ),
            "negative_seed_rejected": _rejected(
                lambda: sample(li, 0.5, -1)
            ),
            "fraction_one_accepted": sample(li, 1.0, 0) is not None,
            "schema_preserved": sample(li, 0.3, 7).schema == li.schema,
            "plan_no_exchange": P.shuffle_exchanges(sample(li, 0.3, 7))
            == P.shuffle_exchanges(li),
            "same_seed_deterministic": _frames_match_check(
                s1, s2, [("k1", "k2")]
            ),
            "different_seeds_differ": _frames_match_check(
                s1, s3, [("k1", "k3")], expect_match=False
            ),
            "chernoff_band_6sigma": chernoff,
            # MIN over zero groups (empty customer table) is NULL — an
            # empty stratification is vacuously within its bands
            "stratified_bands_6sigma": per_key.agg(
                F.coalesce(F.min("within"), F.lit(True)).alias("passed")
            ),
        },
    )


_SKETCH_AUDIT_CHECKS = [
    "hll_error_within_3rse",
    "hll_union_consistent",
    "kll_median_rank_error_within_2x",
    "theta_intersection_error_within_5pct",
]


@register_audit("sketch_contract_audit", _SKETCH_AUDIT_CHECKS)
def sketch_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch error bounds as driver-checkable rows
    (VERDICT r7 stretch item): every estimate is compared against the
    EXACT answer computed side-by-side in the same query.

    - HLL (lg_k=12): distinct o_custkey estimate within 3 relative
      standard errors (3 * 1.04/sqrt(2^12) ~ 4.9%) of COUNT(DISTINCT);
    - HLL mergeability: union of per-priority sketches within 5% of the
      directly-built global sketch (both deterministic given the data);
    - KLL: the sketched median's TRUE normalized rank within twice the
      published ~1.65% two-sided rank error of 0.5;
    - theta: estimated intersection of the even-orderkey and
      odd-orderkey orderer sets (a data-independent split — both halves
      exist at every sf) within 5% (+1 absolute slack for exact-mode
      small sets) of the exact intersection.

    Sketches are hash-based and deterministic for fixed data, so the
    booleans are stable across runs — the oracle is the constant
    all-TRUE table."""
    o = load_table(spark, sf_dir, "orders")

    est = o.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("o_custkey", F.lit(12))
        ).cast("double").alias("est"),
        F.countDistinct("o_custkey").cast("double").alias("exact"),
    )
    hll_err = est.select(
        (
            F.abs(F.col("est") - F.col("exact"))
            <= F.lit(0.049) * F.col("exact")
        ).alias("passed")
    )

    per = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey", F.lit(12)).alias("sk")
    )
    union_est = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("double").alias("u")
    )
    direct_est = o.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("o_custkey", F.lit(12))
        ).cast("double").alias("d")
    )
    hll_union = union_est.crossJoin(direct_est).select(
        (F.abs(F.col("u") - F.col("d")) <= F.lit(0.05) * F.col("d")).alias(
            "passed"
        )
    )

    q = o.agg(
        F.kll_sketch_get_quantile_double(
            F.kll_sketch_agg_double(F.col("o_totalprice").cast("double")),
            F.lit(0.5),
        ).alias("q")
    )
    kll_rank = (
        o.select(F.col("o_totalprice").cast("double").alias("v"))
        .crossJoin(F.broadcast(q))
        .agg(
            # 0/0 on an empty orders table is NULL — vacuously in-band
            F.coalesce(
                F.abs(
                    F.sum(
                        F.when(F.col("v") <= F.col("q"), 1).otherwise(0)
                    ).cast("double")
                    / F.count(F.lit(1)).cast("double")
                    - 0.5
                )
                <= F.lit(2 * 0.0165),
                F.lit(True),
            ).alias("passed")
        )
    )

    halves = o.select(
        (F.col("o_orderkey") % 2).alias("half"), "o_custkey"
    )
    a = halves.filter(F.col("half") == 0).select("o_custkey").distinct()
    b = halves.filter(F.col("half") == 1).select(
        F.col("o_custkey").alias("__b")
    ).distinct()
    exact_i = a.join(b, F.col("o_custkey") == F.col("__b")).agg(
        F.count(F.lit(1)).cast("double").alias("exact_i")
    )
    theta_est = (
        halves.groupBy("half")
        .agg(F.theta_sketch_agg("o_custkey").alias("sk"))
        .agg(
            F.theta_sketch_estimate(
                F.theta_intersection_agg("sk")
            ).cast("double").alias("est_i")
        )
    )
    theta_check = theta_est.crossJoin(exact_i).select(
        (
            F.abs(F.col("est_i") - F.col("exact_i"))
            <= F.lit(0.05) * F.col("exact_i") + F.lit(1.0)
        ).alias("passed")
    )

    return check_rows(
        spark,
        {
            "hll_error_within_3rse": hll_err,
            "hll_union_consistent": hll_union,
            "kll_median_rank_error_within_2x": kll_rank,
            "theta_intersection_error_within_5pct": theta_check,
        },
    )


_ANN_AUDIT_CHECKS = [
    "exact_topk_well_formed",
    "lsh_recall_floor",
    "ivf_recall_floor",
    "lsh_deterministic",
    "ivf_deterministic",
]


@register_audit("ann_contract_audit", _ANN_AUDIT_CHECKS)
def ann_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN family's statistical contracts as driver-checkable rows —
    the audit complement of the rows-only ann_lsh_topk / ann_ivf_topk /
    ann_recall_report entries (xxhash-bucketed results can never have an
    ANSI oracle, but their CONTRACTS can):

    - exact top-k well-formedness: brute_force_topk returns exactly k
      ranked rows per probe, ranks 1..k;
    - LSH recall floor: recall@10 vs exact >= 0.08 at n_planes=3
      (measured 0.20-0.23 on the synthetic random corpora — a
      sieve-sanity floor with headroom for corpus regeneration, not a
      quality bar; real embedded corpora with cluster structure sit far
      higher);
    - IVF recall floor: recall@10 >= 0.5 at n_lists=16, n_probe=8
      (measured 0.82);
    - determinism: two constructions of each approximate path agree
      row-for-row including ranks (xxhash planes / seeded k-means are
      data-deterministic).

    All checks are lazy joins/aggregates over the driver's own data;
    the oracle is the constant all-TRUE table."""
    from ballista_extensions_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 50)

    # the brute-force baseline feeds FOUR checks (well-formedness and
    # both recall floors, each referencing it twice) — lazy
    # localCheckpoint so it is computed once and the checkpointed
    # partitions are reused, instead of re-running the O(corpus×probes)
    # scoring join per branch (VERDICT r8 directive #5)
    exact = (
        S.brute_force_topk(e, probes, k=10)
        .select(
            "q_id", F.col("c_id").alias("e_id"), F.col("rn").alias("e_rn")
        )
        .localCheckpoint(eager=False)
    )
    # Expected rows per probe is min(k, corpus-1): a corpus below k+1
    # vectors cannot yield k non-self candidates, and an empty baseline
    # (corpus < 2) is vacuously well-formed — without these guards the
    # MIN/MAX over zero rows would yield NULL, failing the all-TRUE
    # oracle on exactly the degenerate inputs an audit must tolerate.
    corpus_n = e.agg(F.count(F.lit(1)).alias("m"))
    kexp = F.least(F.lit(10), F.col("m") - 1)
    well_formed = (
        exact.agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("q_id").alias("nq"),
            F.min("e_rn").alias("min_rn"),
            F.max("e_rn").alias("max_rn"),
        )
        .crossJoin(corpus_n)
        .select(
            (
                (F.col("cnt") == 0)
                | (
                    (F.col("cnt") == kexp * F.col("nq"))
                    & (F.col("min_rn") == 1)
                    & (F.col("max_rn") == kexp)
                )
            ).alias("passed")
        )
    )

    def _recall_check(approx: DataFrame, floor: float) -> DataFrame:
        a = approx.select(
            F.col("q_id").alias("a_q"), F.col("c_id").alias("a_id")
        )
        hit = exact.join(
            a,
            (exact["q_id"] == a["a_q"]) & (exact["e_id"] == a["a_id"]),
        ).agg(F.count(F.lit(1)).cast("double").alias("n_hit"))
        base = exact.agg(F.count(F.lit(1)).cast("double").alias("n_exact"))
        return hit.crossJoin(base).select(
            (
                # vacuously true on an empty baseline (a corpus with
                # <2 vectors has no exact top-k rows) — the 0/0
                # division would otherwise yield a NULL boolean
                (F.col("n_exact") == 0)
                | (F.col("n_hit") / F.col("n_exact") >= F.lit(floor))
            ).alias("passed")
        )

    # ONE construction of each approximate path feeds BOTH its recall
    # check and side A of its determinism check (checkpointed); side B
    # stays a fresh, independent construction — the determinism check
    # still compares two computations, but the battery builds each path
    # twice instead of three times (VERDICT r8 directive #5)
    lsh = S.lsh_topk(e, probes, dim=64, k=10, n_planes=3).localCheckpoint(
        eager=False
    )
    ivf = S.ivf_topk(
        e, probes, k=10, n_lists=16, n_probe=8
    ).localCheckpoint(eager=False)

    def _determinism_check(a_df: DataFrame, mk) -> DataFrame:
        a = a_df.select(
            F.col("q_id").alias("a_q"),
            F.col("c_id").alias("a_c"),
            F.col("rn").alias("a_rn"),
        )
        b = mk().select(
            F.col("q_id").alias("b_q"),
            F.col("c_id").alias("b_c"),
            F.col("rn").alias("b_rn"),
        )
        return _frames_match_check(
            a, b, [("a_q", "b_q"), ("a_c", "b_c"), ("a_rn", "b_rn")]
        )

    return check_rows(
        spark,
        {
            "exact_topk_well_formed": well_formed,
            "lsh_recall_floor": _recall_check(lsh, 0.08),
            "ivf_recall_floor": _recall_check(ivf, 0.5),
            "lsh_deterministic": _determinism_check(
                lsh, lambda: S.lsh_topk(e, probes, dim=64, k=10, n_planes=3)
            ),
            "ivf_deterministic": _determinism_check(
                ivf, lambda: S.ivf_topk(e, probes, k=10, n_lists=16, n_probe=8)
            ),
        },
    )


_DEDUP_AUDIT_CHECKS = [
    "minhash_recall_floor",
    "lsh_verified_matches_exact",
    "simhash_identical_docs_agree",
    "simhash_deterministic",
]


@register_audit("dedup_probabilistic_audit", _DEDUP_AUDIT_CHECKS)
def dedup_probabilistic_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probabilistic-dedup contracts as driver-checkable rows — the
    audit complement of the rows-only dedup_near_minhash / dedup_simhash
    entries:

    - MinHash recall floor: MinHash+LSH banding recovers >= 0.5 of the
      true (exact inverted-index) near-dup pairs at threshold 0.35
      (measured 1.0 on the synthetic corpora; vacuously true if the
      corpus has no true pairs);
    - LSH-verified exactness: the banded-candidates-then-verify path
      reproduces the exact pair join BIT-EXACTLY (pairs and jaccard
      values) — the property that lets it share the exact path's SQL
      oracles;
    - SimHash consistency: documents with identical text always get
      identical 64-bit signatures (checked per exact-dup family);
    - SimHash determinism: two independent signature computations agree
      per document.

    Oracle: the constant all-TRUE table."""
    from ballista_extensions_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")

    # ONE materialized capped-posting frame feeds BOTH the exact pair
    # join and the LSH-verified path below (r17): their internal
    # constructions differ physically (distinct exchange vs
    # checkpointed repartition-by-doc), so without sharing each path
    # re-ran the tokenize+shingle pass from the scan (~1.8 s each at
    # sf0.1, guide §2.4).
    shared_capped = D._capped_word_postings(
        docs, "text", "doc_id", 3, 100
    ).localCheckpoint(eager=False)

    # the exact pair join feeds THREE branches (recall numerator,
    # recall denominator, and both sides' anchor of the set-equality
    # check) — lazy localCheckpoint so the inverted-index join runs
    # once instead of per branch (VERDICT r8 directive #5)
    exact = (
        D.near_dup_pairs_exact(
            docs, threshold=0.35, probe_mod=1, capped=shared_capped
        )
        .select(
            F.col("doc_a").alias("e_a"),
            F.col("doc_b").alias("e_b"),
            F.col("jaccard").alias("e_j"),
        )
        .localCheckpoint(eager=False)
    )
    mh = D.dedup_near_minhash(docs, threshold=0.35).select(
        F.col("doc_a").alias("m_a"), F.col("doc_b").alias("m_b")
    )
    n_exact = exact.agg(F.count(F.lit(1)).cast("double").alias("n_exact"))
    n_hit = exact.join(
        mh, (exact["e_a"] == mh["m_a"]) & (exact["e_b"] == mh["m_b"])
    ).agg(F.count(F.lit(1)).cast("double").alias("n_hit"))
    minhash_recall = n_hit.crossJoin(n_exact).select(
        (
            (F.col("n_exact") == 0)
            | (F.col("n_hit") / F.col("n_exact") >= 0.5)
        ).alias("passed")
    )

    lv = D.near_dup_pairs_lsh_verified(
        docs, threshold=0.35, capped=shared_capped
    ).select(
        F.col("doc_a").alias("l_a"),
        F.col("doc_b").alias("l_b"),
        F.col("jaccard").alias("l_j"),
    )
    lsh_exact = _frames_match_check(
        exact,
        lv,
        [("e_a", "l_a"), ("e_b", "l_b"), ("e_j", "l_j")],
    )

    # sig anchors both the identical-docs check and one side of the
    # determinism check; s2 below stays a FRESH construction so the
    # determinism check still compares two independent computations
    sig = D.simhash64(docs).localCheckpoint(eager=False)
    fams = (
        docs.select(F.md5("text").alias("h"), F.col("doc_id"))
        .join(sig, F.col("doc_id") == sig["doc"])
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.countDistinct("simhash").alias("nsig"),
        )
        .filter(F.col("c") > 1)
    )
    identical_agree = fams.agg(
        F.coalesce(F.max("nsig") <= 1, F.lit(True)).alias("passed")
    )

    s2 = D.simhash64(docs).select(
        F.col("doc").alias("doc2"), F.col("simhash").alias("sim2")
    )
    # joining on (doc AND signature) makes a per-doc signature mismatch
    # surface as two unmatched rows — same helper as every other
    # set-equality audit
    det = _frames_match_check(
        sig, s2, [("doc", "doc2"), ("simhash", "sim2")]
    )

    return check_rows(
        spark,
        {
            "minhash_recall_floor": minhash_recall,
            "lsh_verified_matches_exact": lsh_exact,
            "simhash_identical_docs_agree": identical_agree,
            "simhash_deterministic": det,
        },
    )
