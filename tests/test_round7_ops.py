"""Round-7 regression tests: the four round-6 ADVICE fixes (exact_top_k
<k-survivors guard + canonical stringification, bloom NULL-key
semantics, grouped percentile rewrite) and the weighted-sample
pow-parity boundary-margin contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------ exact_top_k fixes

def test_exact_top_k_fewer_than_k_survivors(spark):
    """ADVICE r6 (high): with fewer than k distinct items surviving the
    MG summaries, kth_lb must be treated as 0 (forcing the exact
    fallback) — min over the <k survivors would silently drop the true
    ranks (survivors+1)..k."""
    from ballista_extensions_spark.operators.frequent import exact_top_k

    # 10 distinct items, heavily skewed so summaries keep them all with
    # big lower bounds, then ask for k=30: correct answer is all 10
    # items with exact counts.
    rows = [(f"item_{i:02d}",) for i in range(10) for _ in range(100 * (i + 1))]
    df = spark.createDataFrame(rows, "v string").repartition(4)
    got = exact_top_k(df, "v", k=30, counters=8).collect()
    assert len(got) == 10
    by_item = {r["item"]: r["cnt"] for r in got}
    for i in range(10):
        assert by_item[f"item_{i:02d}"] == 100 * (i + 1)
    # ordered by cnt desc
    cnts = [r["cnt"] for r in got]
    assert cnts == sorted(cnts, reverse=True)


def test_exact_top_k_non_string_column_boolean(spark):
    """ADVICE r6 (medium): phase-1 items must use Spark's cast-to-string
    rendering ('true'/'false'), not pandas astype(str) ('True'/'False'),
    or the phase-2 semi-join never matches and the result is empty."""
    from ballista_extensions_spark.operators.frequent import exact_top_k

    rows = [(True,)] * 70 + [(False,)] * 30
    df = spark.createDataFrame(rows, "v boolean").repartition(3)
    got = {r["item"]: r["cnt"] for r in exact_top_k(df, "v", k=2).collect()}
    assert got == {"true": 70, "false": 30}


def test_exact_top_k_non_string_column_long(spark):
    from ballista_extensions_spark.operators.frequent import exact_top_k

    rows = [(7,)] * 50 + [(42,)] * 20 + [(None,)] * 5
    df = spark.createDataFrame(rows, "v long").repartition(2)
    got = {r["item"]: r["cnt"] for r in exact_top_k(df, "v", k=5).collect()}
    assert got == {"7": 50, "42": 20}  # NULLs excluded, Spark rendering


# ------------------------------------------------------ bloom NULL keys

def test_bloom_prefilter_drops_null_probe_keys(spark):
    """ADVICE r6 (low): xxhash64 skips NULL arguments (hashing only the
    seed), so without an explicit filter NULL probe keys hash to fixed
    positions and can pass the bit tests. The documented contract is
    'NULL keys are dropped'."""
    from ballista_extensions_spark.functions.bloom import (
        bloom_build,
        bloom_prefilter,
    )

    build = spark.createDataFrame([(None,), (1,), (2,)], "k long")
    bloom = bloom_build(build, "k")
    probe = spark.createDataFrame(
        [(None, "null_row"), (1, "hit"), (99999, "likely_miss")],
        "k long, tag string",
    )
    got = {r["tag"] for r in bloom_prefilter(probe, bloom, "k").collect()}
    assert "null_row" not in got  # the contract under test
    assert "hit" in got  # no false negatives


def test_bloom_filtered_join_unaffected_by_nulls(spark):
    from ballista_extensions_spark.functions.bloom import bloom_filtered_join

    big = spark.createDataFrame(
        [(1, "a"), (None, "n"), (2, "b"), (3, "c")], "k long, v string"
    )
    small = spark.createDataFrame([(1,), (3,), (None,)], "k long")
    got = sorted(
        (r["k"], r["v"]) for r in bloom_filtered_join(big, small, "k").collect()
    )
    assert got == [(1, "a"), (3, "c")]  # exactly the plain equi-join


# ------------------------------------------- grouped_percentile_disc

def test_grouped_percentile_disc_known_values(spark):
    """ceil(p*n) PERCENTILE_DISC per group, from ONE global distributed
    rank minus broadcast group offsets — no per-group window."""
    from ballista_extensions_spark.operators.prefix import (
        grouped_percentile_disc,
    )

    rows = [("a", v) for v in range(1, 11)] + [("b", v) for v in (5, 7, 9)]
    df = spark.createDataFrame(rows, "g string, v long").repartition(4)
    got = {
        (r["g"], r["prob"]): (r["v"], r["rank"], r["n"])
        for r in grouped_percentile_disc(
            df, "g", "v", [0.1, 0.5, 0.9]
        ).collect()
    }
    # group a: n=10 -> ranks ceil(1)=1, ceil(5)=5, ceil(9)=9
    assert got[("a", 0.1)] == (1, 1, 10)
    assert got[("a", 0.5)] == (5, 5, 10)
    assert got[("a", 0.9)] == (9, 9, 10)
    # group b: n=3 -> ranks ceil(.3)=1, ceil(1.5)=2, ceil(2.7)=3
    assert got[("b", 0.1)] == (5, 1, 3)
    assert got[("b", 0.5)] == (7, 2, 3)
    assert got[("b", 0.9)] == (9, 3, 3)


def test_grouped_percentile_disc_integral_pn_boundary(spark):
    """p*n integral is exactly where float ceil flips the selected row:
    p=0.25, n=8 -> rank must be 2 (ceil(2)=2), not 3."""
    from ballista_extensions_spark.operators.prefix import (
        grouped_percentile_disc,
    )

    df = spark.createDataFrame([("g", v) for v in range(1, 9)], "g string, v long")
    got = grouped_percentile_disc(df, "g", "v", [0.25]).collect()
    assert len(got) == 1
    assert (got[0]["v"], got[0]["rank"]) == (2, 2)


def test_grouped_percentile_disc_single_row_group(spark):
    from ballista_extensions_spark.operators.prefix import (
        grouped_percentile_disc,
    )

    df = spark.createDataFrame([("solo", 42)], "g string, v long")
    got = grouped_percentile_disc(df, "g", "v", [0.1, 0.9]).collect()
    assert {(r["prob"], r["v"], r["rank"]) for r in got} == {
        (0.1, 42, 1),
        (0.9, 42, 1),
    }


# ------------------------------------------- parquet write-side bloom

# ------------------------------------------------ distributed_cummax

def test_distributed_cummax_matches_window(spark):
    from pyspark.sql.window import Window

    from ballista_extensions_spark.operators.prefix import distributed_cummax

    rows = [(i, v) for i, v in enumerate([3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5])]
    df = spark.createDataFrame(rows, "k long, v long").repartition(4)
    got = {
        r["k"]: r["cummax"]
        for r in distributed_cummax(df, ["k"], "v").collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    expect = {
        r["k"]: r["m"]
        for r in df.withColumn("m", F.max("v").over(w)).collect()
    }
    assert got == expect


def test_distributed_cummax_exclusive_and_nulls(spark):
    from ballista_extensions_spark.operators.prefix import distributed_cummax

    rows = [(0, None), (1, 5), (2, None), (3, 2), (4, 9)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(3)
    got = {
        r["k"]: r["cummax"]
        for r in distributed_cummax(
            df, ["k"], "v", inclusive=False
        ).collect()
    }
    # exclusive prefix: first row sees nothing; NULLs contribute nothing
    assert got == {0: None, 1: None, 2: 5, 3: 5, 4: 5}


def test_distributed_cummax_nan_propagates_like_spark_max(spark):
    """Spark's MAX orders NaN greater than any double; the driver-side
    offset fold must not drop it (Python max(5.0, nan) returns 5.0)."""
    import math

    from pyspark.sql.window import Window

    from ballista_extensions_spark.operators.prefix import distributed_cummax

    rows = [(0, 5.0), (1, float("nan")), (2, 3.0), (3, 7.0)]
    df = spark.createDataFrame(rows, "k long, v double").repartition(4)
    got = {
        r["k"]: r["cummax"]
        for r in distributed_cummax(df, ["k"], "v").collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    expect = {
        r["k"]: r["m"]
        for r in df.withColumn("m", F.max("v").over(w)).collect()
    }
    assert set(got) == set(expect)
    for k in got:
        if isinstance(expect[k], float) and math.isnan(expect[k]):
            assert math.isnan(got[k]), (k, got[k])
        else:
            assert got[k] == expect[k], (k, got[k], expect[k])
    # and concretely: once NaN appears the cummax stays NaN
    assert math.isnan(got[2]) and math.isnan(got[3])


def test_grouped_percentile_disc_ignores_nulls(spark):
    """SQL-standard PERCENTILE_DISC excludes NULL values: n must count
    only non-NULLs and a NULL can never be the selected value."""
    from ballista_extensions_spark.operators.prefix import (
        grouped_percentile_disc,
    )

    rows = [("g", None), ("g", 1), ("g", 2), ("g", 3)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = grouped_percentile_disc(df, "g", "v", [0.25]).collect()
    assert len(got) == 1
    assert (got[0]["v"], got[0]["rank"], got[0]["n"]) == (1, 1, 3)


def test_grouped_percentile_disc_all_null_group_and_null_key(spark):
    """SQL parity corners: an all-NULL group still emits (group, prob,
    NULL, NULL, 0) rows, and a NULL group KEY is a group like any
    other (null-safe join)."""
    from ballista_extensions_spark.operators.prefix import (
        grouped_percentile_disc,
    )

    rows = [("a", 1), ("a", 2), ("allnull", None), (None, 7)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        (r["g"], r["prob"]): (r["v"], r["rank"], r["n"])
        for r in grouped_percentile_disc(df, "g", "v", [0.5]).collect()
    }
    assert got[("a", 0.5)] == (1, 1, 2)
    assert got[("allnull", 0.5)] == (None, None, 0)
    assert got[(None, 0.5)] == (7, 1, 1)


def test_grouped_percentile_disc_rejects_overflow_probs(spark):
    """Float-artifact denominators (Fraction(str(1/3)) -> 1e16) would
    overflow the long num*n target arithmetic — rejected loudly."""
    from ballista_extensions_spark.operators.prefix import (
        grouped_percentile_disc,
    )

    df = spark.createDataFrame([("g", 1)], "g string, v long")
    with pytest.raises(ValueError, match="denominator"):
        grouped_percentile_disc(df, "g", "v", [1 / 3])


def test_sign_pack64_null_and_short_vectors(spark):
    from ballista_extensions_spark.operators.similarity import sign_pack64

    rows = [
        (1, [1.0] * 64),
        (2, None),
        (3, [1.0] * 10),
        (4, [-1.0] * 64),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["sig"] for r in sign_pack64(df).collect()}
    assert got[1] == -1  # all 64 bits set
    assert got[2] is None  # NULL vector -> NULL, not the valid sig 0
    assert got[3] is None  # short vector -> NULL
    assert got[4] == 0  # genuinely all-nonpositive -> 0


def test_skyline_2d_excludes_nan(spark):
    """A NaN maximize value must not become a level max and suppress
    the rest of the frontier (Spark MAX orders NaN greatest)."""
    from ballista_extensions_spark.operators.skyline import skyline_2d

    rows = [(1.0, float("nan")), (2.0, 100.0), (3.0, 150.0)]
    df = spark.createDataFrame(rows, "price double, q double")
    got = {(r["price"], r["q"]) for r in skyline_2d(df, "price", "q").collect()}
    assert got == {(2.0, 100.0), (3.0, 150.0)}


# ------------------------------------------------------- skyline_2d

def test_skyline_2d_matches_bruteforce_dominance(spark):
    """The monotone-scan skyline must equal the quadratic NOT EXISTS
    dominance definition (checked here where quadratic cost is
    harmless; the registered oracle uses the linear form)."""
    import random

    from ballista_extensions_spark.operators.skyline import skyline_2d

    rng = random.Random(7)
    pts = [(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(300)]
    df = spark.createDataFrame(pts, "price long, q long").repartition(5)
    got = {(r["price"], r["q"]) for r in skyline_2d(df, "price", "q").collect()}
    # brute force: non-dominated distinct points
    uniq = set(pts)
    expect = {
        (x, y)
        for (x, y) in uniq
        if not any(
            (bx <= x and by >= y and (bx < x or by > y)) for (bx, by) in uniq
        )
    }
    assert got == expect


def test_skyline_2d_drops_null_dimensions(spark):
    from ballista_extensions_spark.operators.skyline import skyline_2d

    df = spark.createDataFrame(
        [(1, 10), (None, 99), (2, None), (2, 20)], "a long, b long"
    )
    got = {(r["a"], r["b"]) for r in skyline_2d(df, "a", "b").collect()}
    assert got == {(1, 10), (2, 20)}


# ------------------------------------------- source-layer regressions

def test_avro_timestamp_micros_roundtrip_exact(spark, tmp_path_factory):
    """Micros must survive the write bit-exactly: the old float
    total_seconds() path truncated the last microsecond digit for
    2026-era timestamps."""
    import datetime as dt

    from ballista_extensions_spark.sources.avro_py import (
        read_avro,
        write_avro,
    )

    ts = dt.datetime(2026, 8, 14, 12, 0, 0, 123456)
    df = spark.createDataFrame([(1, ts)], "id long, ts timestamp")
    path = str(tmp_path_factory.mktemp("avro_us") / "t")
    write_avro(df, path)
    got = read_avro(spark, path).collect()[0]["ts"]
    assert got == ts, got


def test_write_any_parquet_uncompressed(spark, tmp_path_factory):
    """compression='none' must actually write uncompressed parquet, not
    fall through to Spark's snappy default."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from ballista_extensions_spark.sources.formats import write_any

    path = str(tmp_path_factory.mktemp("unc") / "t")
    write_any(
        spark.range(1000).selectExpr("id", "id * 2 AS v"),
        "parquet",
        path,
        compression="none",
    )
    f = sorted(str(p) for p in Path(path).glob("*.parquet"))[0]
    md = pq.ParquetFile(f).metadata
    codecs = {
        md.row_group(i).column(j).compression
        for i in range(md.num_row_groups)
        for j in range(md.num_columns)
    }
    assert codecs == {"UNCOMPRESSED"}, codecs


def test_read_csv_bounded_inference(spark, tmp_path_factory):
    """infer_max_records must bound the inference probe yet still give
    a correctly typed schema."""
    from ballista_extensions_spark.sources.formats import read_csv, write_any

    path = str(tmp_path_factory.mktemp("csvinf") / "t")
    write_any(
        spark.range(10_000).selectExpr(
            "id", "CAST(id AS DOUBLE) / 7 AS ratio", "CONCAT('s', id) AS s"
        ),
        "csv",
        path,
        compression="none",
    )
    df = read_csv(spark, path, infer_max_records=50)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["id"] in ("int", "bigint")
    assert types["ratio"] == "double"
    assert types["s"] == "string"
    assert df.count() == 10_000


# -------------------------------------- dynamic partition pruning (DPP)

def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path_factory):
    """Partition-pruned star join: when the fact table is laid out by
    the join key and the dimension side carries a selective filter,
    Catalyst must inject a dynamic-pruning subquery so the fact scan
    reads only the matching partitions — the layout/plan combination a
    100 TB star schema lives on. Asserts the dynamicpruningexpression
    is present in the fact scan's partition filters AND the result
    equals the unpruned join."""
    from ballista_extensions_spark.io import load_table

    path = str(tmp_path_factory.mktemp("dpp") / "orders_by_pri")
    o = load_table(spark, sf_dir, "orders")
    o.write.partitionBy("o_orderpriority").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        o.select("o_orderpriority", "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    )
    joined = fact.join(dim, "o_orderpriority")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    got = joined.count()
    expect = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).count()
    assert got == expect > 0


# -------------------------------------------- weighted pow-parity margin

def test_weighted_sample_boundary_margin(spark):
    """The pow-parity contract (round-5/6 ADVICE, now retired): A-Res
    priorities use pow, which is NOT correctly rounded, so Spark
    (Math.pow) and DuckDB (libm) may differ in the last ulp. The
    registered query's oracle parity therefore rests on the k-boundary
    priority gap being FAR wider than any 1-ulp perturbation — measure
    it: the relative gap between the 200th and 201st priorities must
    exceed 1e-12 (vs ~2.2e-16 for 1 ulp), so a last-bit divergence
    cannot flip membership."""
    import os

    from ballista_extensions_spark.io import load_table
    from ballista_extensions_spark.operators.weighted import uniform_from_hash

    # Measure at the GRADED scale: sf0.001's part table has exactly 200
    # rows, so k=200 keeps everything and there is no boundary at all
    # (parity is unconditional there). The driver grades at sf0.01.
    graded = "/root/testdata/sf0.01"
    if not os.path.isdir(graded):  # pragma: no cover
        pytest.skip("graded sf dir absent")
    p = load_table(spark, graded, "part").filter(F.col("p_retailprice") > 0)
    pri = F.pow(
        uniform_from_hash(F.col("p_partkey"), 42),
        F.lit(1.0) / F.col("p_retailprice").cast("double"),
    )
    top = (
        p.select(pri.alias("pri"))
        .orderBy(F.desc("pri"))
        .limit(201)
        .collect()
    )
    assert len(top) == 201, "fixture must exceed the sample size"
    kth, next_ = top[199]["pri"], top[200]["pri"]
    rel_gap = (kth - next_) / kth
    assert rel_gap > 1e-12, f"boundary margin too thin: {rel_gap}"
