"""Scale-helper tests: salted joins, bucketed co-located joins, pandas
UDF parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ballista_extensions_spark import plans as P
from ballista_extensions_spark.functions.skew import salted_join
from ballista_extensions_spark.io import load_table, write_bucketed


def test_salted_join_matches_plain(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    plain = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey")
        .count()
    )
    salted = (
        salted_join(o.withColumnRenamed("o_custkey", "k"),
                    c.withColumnRenamed("c_custkey", "k"), "k", salt_buckets=8)
        .groupBy("k")
        .count()
    )
    a = {r[0]: r[1] for r in plain.collect()}
    b = {r[0]: r[1] for r in salted.collect()}
    assert a == b


def test_salted_join_validates(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    with pytest.raises(ValueError, match="salt_buckets"):
        salted_join(o, o, "o_orderkey", salt_buckets=0)


def test_bucketed_join_elides_shuffle(spark, sf_dir):
    """Two tables bucketed on the same key x count join with zero shuffle
    exchanges — the co-located join contract."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    write_bucketed(o.select("o_orderkey", "o_custkey", "o_totalprice"),
                   "bx_orders_b", "o_custkey", buckets=8)
    write_bucketed(c.select("c_custkey", "c_acctbal"),
                   "bx_customer_b", "c_custkey", buckets=8)
    ob = spark.table("bx_orders_b")
    cb = spark.table("bx_customer_b")
    joined = ob.join(cb, ob["o_custkey"] == cb["c_custkey"]).select(
        "o_orderkey", "c_acctbal"
    )
    # disable broadcast so the join must rely on bucketing, not size
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        assert joined.count() > 0
        assert P.shuffle_exchanges(joined) == 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bx_orders_b")
        spark.sql("DROP TABLE IF EXISTS bx_customer_b")


def test_pandas_udf_parity_with_jvm(spark, documents):
    """Python UDF results equal the JVM built-in results row-for-row."""
    from ballista_extensions_spark.functions.udf import py_token_count
    from ballista_extensions_spark.operators.text import token_count

    both = documents.select(
        "doc_id",
        py_token_count(F.col("text")).alias("py"),
        token_count(F.col("text")).alias("jvm"),
    )
    assert both.filter(F.col("py") != F.col("jvm")).count() == 0
