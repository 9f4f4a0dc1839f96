"""Benchmark decontamination (operators/decontam.py): n-gram extraction
edge cases, hit counting vs hand-computed overlaps, anti-join semantics,
and the broadcast-join plan shape (the training corpus must not shuffle)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_sync_tool_spark.operators.decontam import (
    contamination_hits,
    decontaminate,
    doc_ngrams,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_doc_ngrams_distinct_per_doc(spark):
    # "a b a b a" has 3 bigram occurrences but 2 distinct bigrams
    df = _docs(spark, [(1, "a b a b a")])
    got = sorted(r["gram"] for r in doc_ngrams(df, 2).collect())
    assert got == ["a b", "b a"]


def test_contamination_hits_and_decontaminate(spark):
    bench = _docs(spark, [(100, "alpha beta gamma delta")])
    train = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),  # 2 overlapping 3-grams
            (2, "zeta eta theta iota"),             # clean
            (3, "x alpha beta gamma y"),            # 1 overlapping 3-gram
        ],
    )
    hits = {r["id"]: r["n_hit_grams"]
            for r in contamination_hits(train, bench, n=3).collect()}
    assert hits == {1: 2, 3: 1}
    clean = sorted(r["doc_id"] for r in decontaminate(train, bench, n=3).collect())
    assert clean == [2]


def test_decontaminate_keeps_all_when_benchmark_disjoint(spark):
    bench = _docs(spark, [(100, "one two three")])
    train = _docs(spark, [(1, "four five six"), (2, "seven eight nine")])
    assert decontaminate(train, bench, n=2).count() == 2


def test_redact_pii_and_counts(spark):
    from data_sync_tool_spark.functions.text import pii_count, redact_pii

    rows = [
        (1, "mail a.b+c@x-corp.co.uk now"),
        (2, "call 25-989-741-2988 or visit 192.168.0.1"),
        (3, "version 1.2.3.4.5 is not an ip boundary-wise"),  # 5 octets: \b still matches first 4
        (4, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {
        r["id"]: (r["e"], r["i"], r["p"], r["red"])
        for r in df.select(
            "id",
            pii_count(F.col("t"), "email").alias("e"),
            pii_count(F.col("t"), "ip").alias("i"),
            pii_count(F.col("t"), "phone").alias("p"),
            redact_pii(F.col("t")).alias("red"),
        ).collect()
    }
    assert out[1] == (1, 0, 0, "mail <EMAIL> now")
    assert out[2] == (0, 1, 1, "call <PHONE> or visit <IP>")
    assert out[3][1] == 1  # greedy quad match inside the 5-octet version string
    assert out[4] == (0, 0, 0, "clean text with no pii at all")


def test_contamination_join_is_broadcast_and_jvm_side(spark):
    """The corpus-side probe must be a broadcast hash join (no corpus
    shuffle before the join) and gram extraction stays in codegen."""
    bench = _docs(spark, [(100, "alpha beta gamma")])
    train = _docs(spark, [(1, "alpha beta gamma delta")])
    plan = (
        contamination_hits(train, bench, n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    anti = decontaminate(train, bench, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in anti and "LeftAnti" in anti
