"""Product quantization: numpy-reference parity of codes and ADC scores,
recall against brute force, the persisted index, determinism."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_sync_tool_spark.operators.pq import (
    pq_encode,
    pq_index_write,
    pq_read_books,
    pq_topk,
    pq_topk_indexed,
    pq_train,
)
from data_sync_tool_spark.operators import similarity
from data_sync_tool_spark.operators.similarity import brute_force_topk
from data_sync_tool_spark.session import local_frame

DIM, M, K = 16, 4, 8


def _vecs(spark, n=120, seed=3):
    rng = np.random.RandomState(seed)
    # clustered corpus: 6 centers with small noise → meaningful neighbors
    centers = rng.randn(6, DIM)
    rows = []
    for i in range(n):
        v = centers[i % 6] + 0.15 * rng.randn(DIM)
        rows.append((i, [float(x) for x in v]))
    return local_frame(spark, rows, "vec_id long, embedding array<float>")


def _normalize(m):
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def _numpy_codes(mat, books):
    m, k, dsub = books.shape
    mat = _normalize(mat)
    codes = np.empty((len(mat), m), dtype=np.int64)
    for sub in range(m):
        x = mat[:, sub * dsub:(sub + 1) * dsub]
        d2 = ((x[:, None, :] - books[sub][None, :, :]) ** 2).sum(axis=2)
        codes[:, sub] = np.argmin(d2, axis=1)
    return codes


def test_encode_matches_numpy_reference(spark):
    df = _vecs(spark)
    books = pq_train(df, m=M, k=K, n_iters=2)
    assert books.shape == (M, K, DIM // M)
    got = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, books).collect()}
    mat = np.asarray(
        [r["embedding"] for r in df.orderBy("vec_id").collect()], dtype=np.float64
    )
    want = _numpy_codes(mat, books)
    assert all(got[i] == list(want[i]) for i in range(len(mat)))


def test_adc_scores_match_numpy_lut(spark):
    df = _vecs(spark)
    books = pq_train(df, m=M, k=K, n_iters=2)
    codes = pq_encode(df, books)
    q = df.filter(F.col("vec_id") < 3)
    got = {
        (r["query_id"], r["neighbor_id"]): r["adc"]
        for r in pq_topk(codes, q, books, k=500).collect()
    }
    mat = np.asarray(
        [r["embedding"] for r in df.orderBy("vec_id").collect()], dtype=np.float64
    )
    nc = _numpy_codes(mat, books)
    qmat = _normalize(mat[:3])
    dsub = DIM // M
    for qi in range(3):
        lut = np.stack(
            [qmat[qi, s * dsub:(s + 1) * dsub] @ books[s].T for s in range(M)]
        )
        for ni in range(len(mat)):
            if ni == qi:
                continue
            want = lut[np.arange(M), nc[ni]].sum()
            assert got[(qi, ni)] == pytest.approx(want, abs=2e-6)


def test_topk_recall_vs_brute_force(spark):
    """The production two-stage contract: ADC candidates at 3× oversample
    must contain (nearly all of) the exact top-10, and the refined search
    (exact re-rank over candidates only) must then recover it. Raw ADC@10
    alone is NOT asserted high — quantization error re-orders near-ties
    inside tight clusters by design; oversample+refine is the documented
    usage."""
    from data_sync_tool_spark.operators.pq import pq_topk_refined

    df = _vecs(spark, n=150)
    books = pq_train(df, m=M, k=K, n_iters=3)
    codes = pq_encode(df, books)
    q = df.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(df, q, k=10)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    cands = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(codes, q, books, k=30).collect()
    }
    assert len(e & cands) / len(e) >= 0.9, "candidate recall@10 under 3x oversample"
    refined = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk_refined(codes, df, q, books, k=10, oversample=3).collect()
    }
    assert len(e & refined) / len(e) >= 0.9, "refined recall@10"


def test_train_deterministic_across_partitionings(spark):
    df = _vecs(spark)
    b1 = pq_train(df.repartition(2), m=M, k=K)
    b2 = pq_train(df.repartition(13), m=M, k=K)
    np.testing.assert_array_equal(b1, b2)


def test_index_append_equals_rebuild(spark, tmp_path):
    df = _vecs(spark, n=100)
    path = str(tmp_path / "pq")
    pq_index_write(df, path, m=M, k=K)
    books = pq_read_books(spark, path)
    stored = {
        r["vec_id"]: list(r["codes"])
        for r in spark.read.parquet(f"{path}/codes").collect()
    }
    rebuilt = {
        r["vec_id"]: list(r["codes"]) for r in pq_encode(df, books).collect()
    }
    assert stored == rebuilt  # stored codes ≡ a re-encode with the stored codebooks
    q = df.filter(F.col("vec_id") < 3)
    direct = pq_topk(spark.read.parquet(f"{path}/codes"), q, books, k=5)
    via_index = pq_topk_indexed(spark, path, q, k=5)
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, via_index.collect())
    )


def test_dim_not_divisible_raises(spark):
    df = spark.createDataFrame(
        [(0, [0.1] * 10)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="divisible"):
        pq_train(df, m=4, k=2)


def test_empty_corpus_raises_and_empty_queries_empty_result(spark):
    df = _vecs(spark, n=30)
    books = pq_train(df, m=M, k=K)
    codes = pq_encode(df, books)
    empty_q = df.filter(F.col("vec_id") < 0)
    assert pq_topk(codes, empty_q, books).count() == 0
    with pytest.raises(ValueError, match="empty"):
        pq_train(df.filter(F.col("vec_id") < 0), m=M, k=K)


# ------------------------------------------------------------------- IVF-PQ

def test_ivfpq_refined_recall_and_partition_pruning(spark, tmp_path):
    from data_sync_tool_spark.operators.pq import ivfpq_index_write, ivfpq_topk

    df = _vecs(spark, n=150)
    path = str(tmp_path / "ivfpq")
    ivfpq_index_write(df, path, n_centroids=6, m=M, k=K)
    q = df.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(df, q, k=10)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    out_df = ivfpq_topk(spark, path, q, k=10, n_probe=3, oversample=3, refine=df)
    got = {(r["query_id"], r["neighbor_id"]) for r in out_df.collect()}
    assert len(e & got) / len(e) >= 0.85, "IVF-PQ refined recall@10"
    # posting-list scan must be partition-pruned to the probed lists
    plan = (
        ivfpq_topk(spark, path, q, k=5, n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "list_id" in plan and ("PartitionFilters: [" in plan or "isin" in plan.lower())


def test_ivfpq_exhaustive_equals_bruteforce_ranking_with_refine(spark, tmp_path):
    """n_probe = n_centroids + refine over all candidates (oversample spans
    the corpus) is exactly brute-force cosine top-k — the exhaustive
    configuration that pins the whole path end to end."""
    from data_sync_tool_spark.operators.pq import ivfpq_index_write, ivfpq_topk

    df = _vecs(spark, n=60)
    path = str(tmp_path / "ivfpq_ex")
    ivfpq_index_write(df, path, n_centroids=4, m=M, k=K)
    q = df.filter(F.col("vec_id") < 5)
    exact = sorted(
        (r["query_id"], r["neighbor_id"], r["cos"])
        for r in brute_force_topk(df, q, k=5).collect()
    )
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["score"])
        for r in ivfpq_topk(
            spark, path, q, k=5, n_probe=4, oversample=12, refine=df
        ).collect()
    )
    assert got == exact


def test_query_bound_raises_for_pq_and_ivfpq(spark, tmp_path, monkeypatch):
    """Driver-bound query collects are bounded: past the one bound
    (``similarity._MAX_DRIVER_QUERIES``) both pq_topk and ivfpq_topk raise
    with guidance."""
    from data_sync_tool_spark.operators.pq import ivfpq_index_write, ivfpq_topk

    df = _vecs(spark)
    books = pq_train(df, m=M, k=K)
    codes = pq_encode(df, books)
    q = df.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivfpq")
    ivfpq_index_write(df, path, n_centroids=4, m=M, k=K)
    monkeypatch.setattr(similarity, "_MAX_DRIVER_QUERIES", 4)
    with pytest.raises(ValueError, match="_MAX_DRIVER_QUERIES=4"):
        pq_topk(codes, q, books, k=3)
    with pytest.raises(ValueError, match="_MAX_DRIVER_QUERIES=4"):
        ivfpq_topk(spark, path, q, k=3)
