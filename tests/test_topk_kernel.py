"""The flat top-k kernel (``similarity._block_topk``) behind
``brute_force_topk`` and ``pq_topk``: exact agreement with the JVM pair
plans it replaces, its job count and plan shape, and its bounds."""

from __future__ import annotations

import time

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.sql.window import Window

from data_sync_tool_spark.functions.vectors import cosine_prenormed, norm
from data_sync_tool_spark.operators import similarity
from data_sync_tool_spark.operators.pq import _normalize, pq_encode, pq_topk, pq_train
from data_sync_tool_spark.operators.similarity import brute_force_topk

DIM = 8
SCHEMA = "vec_id long, embedding array<float>"


def _rows():
    """Float32 vectors in 4 partitions, one of them empty and one of 3 rows.
    Ids 100-102 copy vector 0 (exact ties at every rank they reach), id 50
    is the zero vector (the ``d > 0`` guard)."""
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((48, DIM)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(48)]
    rows += [(100 + j, rows[0][1]) for j in range(3)]
    rows.append((50, [0.0] * DIM))
    return [rows[:26], [], rows[26:49], rows[49:]]


@pytest.fixture(scope="module")
def corpus(spark):
    parts = _rows()
    assert len(parts[3]) == 3
    rdd = spark.sparkContext.parallelize(parts, len(parts)).flatMap(lambda p: p)
    df = spark.createDataFrame(rdd, SCHEMA).cache()
    assert df.rdd.getNumPartitions() == 4 and df.count() == 52
    return df


@pytest.fixture(scope="module")
def queries(spark, corpus):
    # self-matching queries (incl. a duplicate and the zero vector) plus one
    # query vector that is not in the corpus
    extra = spark.createDataFrame([(999, [0.5] * DIM)], SCHEMA)
    return corpus.filter(F.col("vec_id").isin(0, 7, 50, 100)).unionByName(extra)


@pytest.fixture(scope="module")
def pq_index(corpus):
    books = pq_train(corpus, m=4, k=4, n_iters=2)
    return books, pq_encode(corpus, books).cache()


def _jvm_topk(scored, score_col, k):
    w = Window.partitionBy("query_id").orderBy(F.col(score_col).desc(), F.col("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def _jvm_brute(corpus, queries, k):
    """The broadcast cross-join plan ``brute_force_topk`` used to run."""
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
                       norm(F.col("embedding")).alias("qn"))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"),
                      norm(F.col("embedding")).alias("cn"))
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id",
        F.round(cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6).alias("cos"),
    )
    return _jvm_topk(scored, "cos", k)


def _jvm_pq(spark, codes, queries, books, k):
    """The ``zip_with`` ADC plan ``pq_topk`` used to run over driver LUTs."""
    m, _, dsub = books.shape
    q_rows = queries.orderBy("vec_id").collect()
    qmat = _normalize(np.asarray([r.embedding for r in q_rows], dtype=np.float64))
    luts = spark.createDataFrame(
        [(r.vec_id, [[float(x) for x in qmat[i, s * dsub:(s + 1) * dsub] @ books[s].T]
                     for s in range(m)]) for i, r in enumerate(q_rows)],
        "query_id long, lut array<array<double>>",
    )
    adc = F.aggregate(
        F.zip_with(F.col("codes"), F.col("lut"), lambda c, lut: F.element_at(lut, c + F.lit(1))),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    scored = (
        codes.select(F.col("vec_id").alias("neighbor_id"), "codes")
        .join(F.broadcast(luts), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(adc, 6).alias("adc"))
    )
    return _jvm_topk(scored, "adc", k)


def _rowset(df):
    """Rows with the score as its exact bit pattern (``float.hex`` tells
    -0.0 from 0.0, which tuple equality does not)."""
    return {(q, n, s.hex()) for q, n, s in df.collect()}


def _prefixes(ranked, ks):
    """Each query's first k rows of a full (score desc, id asc) ranking."""
    by_q = {}
    for q, n, s in sorted(ranked, key=lambda r: (r[0], -float.fromhex(r[2]), r[1])):
        by_q.setdefault(q, []).append((q, n, s))
    return {k: {r for rows in by_q.values() for r in rows[:k]} for k in ks}


KS = (2, 5, 51)


@pytest.fixture(scope="module")
def jvm_truth(spark, corpus, queries, pq_index):
    """The parent's JVM plans at k = corpus size − 1 rank every pair; the
    reference for each smaller k is a prefix of that ranking."""
    books, codes = pq_index
    return {
        "brute": _prefixes(_rowset(_jvm_brute(corpus, queries, 51)), KS),
        "pq": _prefixes(_rowset(_jvm_pq(spark, codes, queries, books, 51)), KS),
    }


def _kernel_rows(make):
    """One action over the kernel at every k in ``KS``."""
    out = make(KS[0]).withColumn("k", F.lit(KS[0]))
    for k in KS[1:]:
        out = out.unionByName(make(k).withColumn("k", F.lit(k)))
    got = {k: set() for k in KS}
    for q, n, s, k in out.collect():
        got[k].add((q, n, s.hex()))
    return got


def test_kernel_equals_jvm_pair_plans_exactly(corpus, queries, pq_index, jvm_truth):
    """Every (query, neighbor, score) double equals the JVM fold's: k=2 cuts
    through the three-way tie of vector 0's copies, k=5 exceeds the 3-row
    partition, k=51 is corpus size − 1 (every partition fits in k)."""
    books, codes = pq_index
    got = _kernel_rows(lambda k: brute_force_topk(corpus, queries, k=k))
    got_pq = _kernel_rows(lambda k: pq_topk(codes, queries, books, k=k))
    assert got == jvm_truth["brute"]
    assert got_pq == jvm_truth["pq"]
    assert {n for q, n, _ in got[2] if q == 0} == {100, 101}
    assert all(c == (0.0).hex() for q, _, c in got[51] if q == 50)
    for k in KS:
        assert len(got_pq[k]) == sum(min(k, 52 - (q != 999)) for q in (0, 7, 50, 100, 999))


def _jobs(spark, fn):
    """Spark jobs one call of ``fn`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"topk-jobs-{time.monotonic_ns()}"
    sc.setJobGroup(group, "top-k job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_topk_job_count(spark, tmp_path):
    """A corpus of 3 parquet files and a one-file query batch: one bounded
    query collect, then the kernel stage and the window merge. The pair
    plans this replaces ran 3 (brute force) and 4 (PQ) jobs."""
    rng = np.random.default_rng(2)
    rows = [(i, [float(x) for x in rng.standard_normal(DIM)]) for i in range(120)]
    spark.createDataFrame(rows, SCHEMA).repartition(3).write.parquet(str(tmp_path / "c"))
    spark.createDataFrame(rows[:10], SCHEMA).coalesce(1).write.parquet(str(tmp_path / "q"))
    corpus = spark.read.parquet(str(tmp_path / "c"))
    q = spark.read.parquet(str(tmp_path / "q"))
    books = pq_train(corpus, m=4, k=4)
    codes = pq_encode(corpus, books)

    assert _jobs(spark, lambda: brute_force_topk(corpus, q, k=5).toArrow()) <= 3
    assert _jobs(spark, lambda: pq_topk(codes, q, books, k=5).toArrow()) <= 3
    for df in (brute_force_topk(corpus, q, k=5), pq_topk(codes, q, books, k=5)):
        plan = _plan(df)
        assert "MapInPandas" in plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_query_bound_raises_and_score_chunks_do_not_change_rows(
    spark, corpus, queries, pq_index, jvm_truth, monkeypatch
):
    books, codes = pq_index
    # a budget of 30 scores per block: one or two queries per chunk
    monkeypatch.setattr(similarity, "_SCORE_BLOCK_ELEMS", 30)
    assert _rowset(brute_force_topk(corpus, queries, k=5)) == jvm_truth["brute"][5]
    assert _rowset(pq_topk(codes, queries, books, k=5)) == jvm_truth["pq"][5]

    monkeypatch.setattr(similarity, "_MAX_DRIVER_QUERIES", 4)
    with pytest.raises(ValueError, match="lsh_topk"):
        brute_force_topk(corpus, queries, k=4)
