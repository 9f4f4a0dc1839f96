"""functions.hashes unit tests: null-encoding, bucket arithmetic, ordered
digest determinism — the primitives every digest and oracle relies on."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

from data_sync_tool_spark.functions.hashes import (
    blockhash_ordered,
    blockhash_sum,
    bucket_expr,
    concat_fields,
    rowhash_int32,
)


def test_null_is_distinct_from_empty_string(spark):
    df = spark.createDataFrame([(None, "x"), ("", "x"), ("x", None), ("x", "")],
                               "a string, b string")
    out = [r["h"] for r in df.select(rowhash_int32("a", "b").alias("h")).collect()]
    assert len(set(out)) == 4  # (NULL,'x') != ('','x') != ('x',NULL) != ('x','')


def test_rowhash_matches_reference_md5_prefix(spark):
    df = spark.createDataFrame([("abc", 5)], "s string, n int")
    got = df.select(rowhash_int32("s", "n").alias("h")).first()["h"]
    image = "abc\x1f5"
    assert got == int(hashlib.md5(image.encode()).hexdigest()[:8], 16)


def test_bucket_expr_and_range_are_inverse(spark):
    df = spark.range(-5000, 5000, 37).select(F.col("id").cast("long").alias("x"))
    out = df.select(
        "x",
        bucket_expr(F.col("x"), 1000).alias("b"),
    )
    rows = out.collect()
    for r in rows:
        assert (r["x"] // 1000) == r["b"]  # floor semantics incl. negatives


def test_blockhash_sum_is_order_and_partition_invariant(spark):
    df = spark.createDataFrame([(i, f"v{i}") for i in range(1000)], "id int, v string")
    h1 = df.agg(blockhash_sum(rowhash_int32("id", "v")).alias("h")).first()["h"]
    h2 = (
        df.repartition(13).sortWithinPartitions(F.desc("id"))
        .agg(blockhash_sum(rowhash_int32("id", "v")).alias("h")).first()["h"]
    )
    assert h1 == h2


def test_blockhash_ordered_is_input_order_independent_but_key_order_dependent(spark):
    rows = [(i, f"v{i}") for i in range(50)]
    df1 = spark.createDataFrame(rows, "id int, v string")
    df2 = spark.createDataFrame(rows[::-1], "id int, v string").repartition(7)
    def digest(df):
        return df.agg(
            blockhash_ordered(rowhash_int32("v"), F.col("id")).alias("h")
        ).first()["h"]
    assert digest(df1) == digest(df2)  # explicit sort inside the digest
    # flipping the ORDER KEY changes the digest (order-dependence is real)
    flipped = df1.withColumn("id", -F.col("id"))
    assert digest(flipped) != digest(df1)
