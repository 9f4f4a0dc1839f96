"""functions.vectors unit tests."""

from __future__ import annotations

import pyspark.sql.functions as F

from data_sync_tool_spark.functions.vectors import cosine, dot, norm


def test_dot_norm_cosine(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 2.0], [2.0, 0.0, 0.0])], "a array<double>, b array<double>"
    )
    r = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        norm(F.col("a")).alias("na"),
        cosine(F.col("a"), F.col("b")).alias("c"),
    ).first()
    assert r["d"] == 2.0
    assert abs(r["na"] - 3.0) < 1e-12
    assert abs(r["c"] - 2.0 / (3.0 * 2.0)) < 1e-12


def test_l2_normalize_and_zero_vector(spark):
    df = spark.createDataFrame(
        [([3.0, 4.0],), ([0.0, 0.0],)], "v array<double>"
    )
    rows = df.select(cosine(F.col("v"), F.col("v")).alias("c")).collect()
    assert rows[1]["c"] == 0.0


def test_group_centroids_assembled_and_flat(spark):
    from data_sync_tool_spark.operators.similarity import group_centroids

    df = spark.createDataFrame(
        [
            (0, [1.0, 2.0, 3.0]),
            (0, [3.0, 4.0, 5.0]),
            (1, [10.0, 0.0, -2.0]),
        ],
        "label int, embedding array<float>",
    )
    got = {
        r["label"]: (r["centroid"], r["n_vecs"])
        for r in group_centroids(df).collect()
    }
    assert got[0] == ([2.0, 3.0, 4.0], 2)
    assert got[1] == ([10.0, 0.0, -2.0], 1)
    flat = group_centroids(df, assemble=False)
    row = flat.filter((F.col("label") == 0) & (F.col("pos") == 2)).collect()[0]
    assert row["mean_val"] == 4.0 and row["n_vecs"] == 2
    # pure JVM plan — no Python eval nodes
    plan = group_centroids(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
