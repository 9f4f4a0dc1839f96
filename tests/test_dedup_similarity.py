"""Dedup suite + similarity search."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_sync_tool_spark.operators.dedup_suite import (
    exact_dedupe,
    exact_duplicate_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from data_sync_tool_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    ivf_topk,
    lsh_topk,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base + " tonight"),  # near dup of 0
        (3, "completely different content about spark shuffle partitions and skew"),
        (4, "  THE   quick brown fox jumps over the lazy dog and keeps running far away "),  # fp dup after normalization
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/embeddings.parquet").cache()


def test_exact_duplicate_groups(spark, docs):
    groups = exact_duplicate_groups(docs)
    ids = {r.doc_id: r.canonical_id for r in groups.collect()}
    assert ids == {0: 0, 1: 0, 4: 0}
    kept = exact_dedupe(docs)
    assert sorted(r.doc_id for r in kept.collect()) == [0, 2, 3, 5]


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r.a, r.b): r.jaccard for r in minhash_lsh_pairs(docs, threshold=0.4).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.4 <= pairs[(0, 2)] < 1.0
    assert all(3 not in p and 5 not in p for p in pairs)


def test_simhash_near_pairs(spark, docs):
    pairs = {(r.a, r.b): r.hamming for r in simhash_near_pairs(docs, max_hamming=6).collect()}
    assert pairs[(0, 1)] == 0  # identical docs: identical simhash
    assert (0, 2) in pairs  # near dup within hamming budget
    assert (0, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {(r.a, r.b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_ngram_jaccard_long_docs_recall(spark):
    """Regression: long near-duplicates whose lengths differ by far more than
    any fixed band width must still pair at t=0.8 (Jaccard bounds the length
    RATIO, not the absolute difference — fixed 32-char bands lost these)."""
    import random

    rng = random.Random(7)
    words = lambda n: " ".join(f"w{rng.randrange(100000)}" for _ in range(n))
    base = words(1500)        # ~10,000 chars
    suffix = words(150)       # ~1,000 extra chars → J ≈ 0.9, Δlen ≈ 1,000
    rows = [(0, base), (1, base + " " + suffix), (2, words(1500))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.a, r.b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.8
    assert all(2 not in p for p in pairs)


def test_brute_force_topk_self_retrieval(spark, emb):
    # each vector's own duplicate copy should rank at cos≈1.0; here we check
    # structure: k rows per query, sorted by cos, no self matches
    q = emb.limit(5)
    out = brute_force_topk(emb, q, k=3)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) == {r.vec_id for r in q.collect()}
    for qid, rs in per_q.items():
        assert len(rs) == 3
        assert all(r.neighbor_id != qid for r in rs)
        cs = [r.cos for r in rs]
        assert cs == sorted(cs, reverse=True)


def test_lsh_topk_recall_against_brute_force(spark, emb):
    q = emb.limit(5)
    exact = brute_force_topk(emb, q, k=5)
    approx = lsh_topk(emb, q, k=5, n_bits=3, n_tables=6)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ivf_topk_recall_against_brute_force(spark, emb):
    q = emb.limit(5)
    exact = brute_force_topk(emb, q, k=5)
    approx = ivf_topk(emb, q, k=5, n_centroids=8, n_probe=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_embedding_near_dup_pairs_finds_planted_dup(spark, emb):
    # plant an exact duplicate vector under a new id
    first = emb.limit(1).select(F.lit(999_999).alias("vec_id"), "embedding", "label")
    planted = emb.unionByName(first)
    pairs = embedding_near_dup_pairs(planted, threshold=0.999)
    found = {(r.a, r.b) for r in pairs.collect()}
    orig = emb.first()["vec_id"]
    assert (orig, 999_999) in found


def test_ivf_trains_on_sample_with_single_driver_collect(spark, emb, monkeypatch):
    """Index build must cost ONE bounded driver collect (the hash-min sample)
    — Lloyd refinement runs in numpy over that sample, never as per-iteration
    full-corpus jobs — and the returned assignment stays lazy."""
    import pyspark.sql.classic.dataframe as d  # Spark 4: the concrete class

    from data_sync_tool_spark.operators.similarity import ivf_assign

    calls = []
    orig = d.DataFrame.collect
    monkeypatch.setattr(
        d.DataFrame, "collect", lambda self: (calls.append(1), orig(self))[1]
    )
    assigned, centroids = ivf_assign(emb, n_centroids=8, n_iters=2)
    assert len(calls) == 1, f"expected 1 sample collect during training, got {len(calls)}"
    # assignment is complete and balanced-ish: every row gets a list
    n = emb.count()
    assert assigned.filter(F.col("list_id").isNull()).count() == 0
    assert assigned.count() == n
    sizes = [r["c"] for r in assigned.groupBy("list_id").count()
             .withColumnRenamed("count", "c").collect()]
    assert max(sizes) < n  # not everything in one list


def test_similarity_bucket_joins_do_not_carry_vectors(spark, emb):
    """SRP bucket candidates must never ship vectors through a join: the
    buckets are a key restriction inside the top-k kernel, so ``lsh_topk``'s
    optimized plan has no join at all — only the kernel (MapInPandas)."""
    from data_sync_tool_spark.operators.similarity import lsh_topk

    plan_df = lsh_topk(emb, emb.limit(3), k=3, n_bits=3, n_tables=2)
    opt = plan_df._jdf.queryExecution().optimizedPlan()
    stack, names = [opt], set()
    while stack:
        node = stack.pop()
        names.add(node.nodeName())
        for i in range(node.children().length()):
            stack.append(node.children().apply(i))
    assert "Join" not in names, "a candidate join reappeared"
    assert "MapInPandas" in names, "top-k kernel missing"


def test_near_dup_pairs_use_grouped_numpy_kernel_not_pair_join(spark, emb):
    """``embedding_near_dup_pairs`` scores each SRP bucket with one numpy
    gram matrix (FlatMapGroupsInPandas keyed on tbl/bucket) — the optimized
    plan must contain NO join at all: the former per-pair vector re-attach
    joins were the quadratic-shuffle shape this replaced."""
    from data_sync_tool_spark.operators.similarity import embedding_near_dup_pairs

    opt = embedding_near_dup_pairs(emb, threshold=0.5)._jdf.queryExecution().optimizedPlan()
    stack, names = [opt], set()
    while stack:
        node = stack.pop()
        names.add(node.nodeName())
        for i in range(node.children().length()):
            stack.append(node.children().apply(i))
    assert "Join" not in names, "pair-scoring join reappeared"
    assert "FlatMapGroupsInPandas" in names, "grouped numpy kernel missing"


def test_ivf_indexed_equals_direct_and_prunes_partitions(spark, emb, tmp_path):
    """Persisted-index IVF returns exactly what the in-memory path returns
    over the same deterministic build, and the posting-list scan is
    partition-pruned to the probed lists."""
    from data_sync_tool_spark.operators.similarity import (
        ivf_index_write,
        ivf_topk,
        ivf_topk_indexed,
    )

    path = str(tmp_path / "ivf")
    ivf_index_write(emb, path, n_centroids=8)
    q = emb.limit(5)
    direct = sorted(map(tuple, ivf_topk(emb, q, k=5, n_centroids=8, n_probe=3).collect()))
    indexed_df = ivf_topk_indexed(spark, path, q, k=5, n_probe=3)
    indexed = sorted(map(tuple, indexed_df.collect()))
    assert indexed == direct
    # partition pruning: the plan's parquet scan carries a list_id filter
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    assert "list_id" in plan and ("PartitionFilters: [" in plan or "isin" in plan.lower())


def test_minhash_incremental_index_equals_batch_cross_pairs(spark, docs, tmp_path):
    """Incremental dedup against a persisted index must equal the cross-pair
    subset of the batch path over corpus ∪ new — same bands, same verify."""
    import pyspark.sql.functions as F

    from data_sync_tool_spark.operators.dedup_suite import (
        minhash_index_write,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    path = str(tmp_path / "mh")
    minhash_index_write(docs, path)
    # new batch: one exact copy of doc 0, one near copy of doc 2, one novel
    new = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog and keeps running far away"),
            (102, "the quick brown fox jumps over the lazy dog and keeps running far away tonight ok"),
            (103, "entirely novel text about watermark state store timeouts"),
        ],
        "doc_id long, text string",
    )
    inc = {
        (r.corpus_id, r.new_id): r.jaccard
        for r in minhash_lsh_pairs_incremental(new, path, threshold=0.4).collect()
    }
    assert (0, 100) in inc and inc[(0, 100)] == 1.0
    assert all(new_id != 103 for _c, new_id in inc)
    # exact equality with the batch path's cross pairs
    batch = minhash_lsh_pairs(docs.unionByName(new), threshold=0.4)
    cross = {
        (r.a, r.b): r.jaccard
        for r in batch.filter((F.col("a") < 100) & (F.col("b") >= 100)).collect()
    }
    assert inc == cross


def test_lang_id_tie_break_und_and_prepadded_equivalence(spark):
    """lang_id semantics pinned across implementations: a winner needs a
    strictly positive score, ties keep the earliest language in marker
    order (en before de/fr/es), and the prepadded fast path is identical
    to the direct form."""
    import pyspark.sql.functions as F

    from data_sync_tool_spark.functions.text import lang_id, padded_lower

    rows = [
        ("the cat and the dog", "en"),        # clear en
        ("der Hund ist das Tier und", "de"),  # clear de
        ("the der", "en"),                    # 1-1 tie → earliest lang wins
        ("xyzzy 123", "und"),                 # no markers anywhere
        ("", "und"),
        (None, "und"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "text string")
    got = [r.lg for r in df.select(lang_id(F.col("text")).alias("lg")).collect()]
    assert got == [e for _, e in rows]
    pre = [
        r.lg for r in df.select(padded_lower(F.col("text")).alias("p"))
        .select(lang_id(F.col("p"), prepadded=True).alias("lg")).collect()
    ]
    assert pre == got
