"""The top-k kernel (``similarity._block_topk``) behind every similarity
search — flat (``brute_force_topk``, ``pq_topk``) and key-restricted
(``lsh_topk``, ``ivf_topk``, ``ivf_topk_indexed``, ``ivfpq_topk``, the refine
stages): exact agreement with the JVM pair plans it replaces, its job count
and plan shape, and its bounds."""

from __future__ import annotations

import time

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.sql.window import Window

from data_sync_tool_spark.functions.vectors import cosine, cosine_prenormed, norm
from data_sync_tool_spark.operators import similarity
from data_sync_tool_spark.operators.pq import (
    _ivfpq_codes,
    _load_ivfpq,
    _normalize,
    ivfpq_index_write,
    ivfpq_topk,
    pq_encode,
    pq_topk,
    pq_topk_refined,
    pq_train,
)
from data_sync_tool_spark.operators.similarity import (
    _srp_bits,
    brute_force_topk,
    ivf_assign,
    ivf_index_write,
    ivf_topk,
    ivf_topk_indexed,
    lsh_topk,
)

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


def _jvm_adc():
    """ADC of a ``codes`` row against a ``lut`` row, folded from 0.0."""
    return F.aggregate(
        F.zip_with(F.col("codes"), F.col("lut"), lambda c, lut: F.element_at(lut, c + F.lit(1))),
        F.lit(0.0), lambda acc, x: acc + x,
    )


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
    scored = (
        codes.select(F.col("vec_id").alias("neighbor_id"), "codes")
        .join(F.broadcast(luts), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(_jvm_adc(), 6).alias("adc"))
    )
    return _jvm_topk(scored, "adc", k)


def _jvm_exact(cands, queries, corpus, k, score_col="cos"):
    """The candidates-then-attach re-rank the LSH, IVF and refine paths used
    to run: (query_id, neighbor_id) candidates re-attach both vectors and
    score ``round(cosine_prenormed, 6)`` per pair in the JVM."""
    qv = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
                        norm(F.col("embedding")).alias("qn"))
    cv = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"),
                       norm(F.col("embedding")).alias("cn"))
    scored = cands.join(qv, "query_id").join(cv, "neighbor_id").select(
        "query_id", "neighbor_id",
        F.round(cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6)
        .alias(score_col),
    )
    return _jvm_topk(scored, score_col, k)


def _distinct_pairs(joined):
    return (joined.filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id").dropDuplicates())


def _jvm_lsh(corpus, queries, k, n_bits, n_tables, seed=7):
    """``lsh_topk``'s former plan: an SRP (tbl, bucket) self-join."""
    def bucketed(df, ident):
        return df.select(F.col("vec_id").alias(ident), F.posexplode(F.array(*[
            _srp_bits(df.sparkSession, "embedding", n_bits, DIM, seed + t)
            for t in range(n_tables)])).alias("tbl", "bucket"))

    cands = bucketed(corpus, "neighbor_id").join(bucketed(queries, "query_id"), ["tbl", "bucket"])
    return _jvm_exact(_distinct_pairs(cands), queries, corpus, k)


def _jvm_ivf(lists, centroids, queries, corpus, k, n_probe):
    """``ivf_topk``/``ivf_topk_indexed``'s former plan: a probe window over
    a broadcast centroid cross join, then a posting-list join."""
    wp = Window.partitionBy("query_id").orderBy(F.col("cs").desc(), F.col("list_id"))
    probes = (
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        .join(F.broadcast(centroids))
        .select("query_id", "list_id", cosine(F.col("qv"), F.col("centroid")).alias("cs"))
        .withColumn("pr", F.row_number().over(wp)).filter(F.col("pr") <= n_probe)
    )
    cands = probes.join(lists.select(F.col("vec_id").alias("neighbor_id"), "list_id"), "list_id")
    return _jvm_exact(_distinct_pairs(cands), queries, corpus, k)


def _jvm_ivfpq(spark, path, queries, k, n_probe, oversample=1, refine=None):
    """``ivfpq_topk``'s former plan: driver probes and one Python-list LUT
    per (query, probed list), broadcast-joined to the probed codes."""
    cmat, books = _load_ivfpq(spark, path)
    m, _, dsub = books.shape
    q_rows = queries.collect()
    qmat = _normalize(np.asarray([r.embedding for r in q_rows], dtype=np.float64))
    qc = qmat @ cmat.T
    probe_rows = []
    for qi, row in enumerate(q_rows):
        lut = [[float(x) for x in qmat[qi, s * dsub:(s + 1) * dsub] @ books[s].T]
               for s in range(m)]
        for lid in np.lexsort((np.arange(len(cmat)), -qc[qi]))[:n_probe]:
            probe_rows.append((row.vec_id, int(lid), float(qc[qi, lid]), lut))
    probes = spark.createDataFrame(
        probe_rows, "query_id long, list_id int, qc double, lut array<array<double>>")
    scored = (
        spark.read.parquet(f"{path}/codes")
        .select(F.col("vec_id").alias("neighbor_id"), "codes", "list_id")
        .join(F.broadcast(probes), "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(F.col("qc") + _jvm_adc(), 6).alias("score"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    topn = _jvm_topk(scored, "score", k * oversample)
    if refine is None:
        return topn
    return _jvm_exact(topn.select("query_id", "neighbor_id"), queries, refine, k, "score")


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
    partition, k=51 is corpus size − 1 (every partition fits in k). PQ runs
    over the cached codes and over a lazy ``pq_encode`` frame, which the
    kernel encodes itself."""
    books, codes = pq_index
    got = _kernel_rows(lambda k: brute_force_topk(corpus, queries, k=k))
    assert got == jvm_truth["brute"]
    assert {n for q, n, _ in got[2] if q == 0} == {100, 101}
    assert all(c == (0.0).hex() for q, _, c in got[51] if q == 50)
    for frame in (codes, pq_encode(corpus, books)):
        got_pq = _kernel_rows(lambda k: pq_topk(frame, queries, books, k=k))
        assert got_pq == jvm_truth["pq"]
        for k in KS:
            assert len(got_pq[k]) == sum(min(k, 52 - (q != 999)) for q in (0, 7, 50, 100, 999))


def _label_sets(frames):
    """One action over ``{label: (query_id, neighbor_id, score) frame}``:
    each label's rows with the score as its bit pattern."""
    out = None
    for label, df in frames.items():
        df = df.toDF("query_id", "neighbor_id", "score").withColumn("label", F.lit(label))
        out = df if out is None else out.unionByName(df)
    got = {label: set() for label in frames}
    for q, n, s, label in out.collect():
        got[label].add((q, n, s.hex()))
    return got


@pytest.fixture(scope="module")
def ann_indexes(corpus, tmp_path_factory):
    d = tmp_path_factory.mktemp("ann_indexes")
    ivf_index_write(corpus, str(d / "ivf"), n_centroids=4)
    ivfpq_index_write(corpus, str(d / "ivfpq"), n_centroids=4, m=4, k=4)
    return str(d / "ivf"), str(d / "ivfpq")


def _schema(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


def test_key_restricted_searches_equal_jvm_pair_plans_exactly(
    spark, corpus, queries, pq_index, ann_indexes
):
    """LSH buckets, IVF lists and refine candidates as a key restriction of
    the kernel return every (query, neighbor, score) double of the JVM join
    plans they replace, with the same output schema. Candidate sets that do
    not depend on k are checked at every k in ``KS`` against prefixes of the
    plan's ranking at k=51; refine stages, whose candidates do, at k=2 and 5."""
    books, codes = pq_index
    ivf_path, ivfpq_path = ann_indexes
    assigned, centroids = ivf_assign(corpus, 4)
    lists = spark.read.parquet(f"{ivf_path}/lists")
    cents = spark.read.parquet(f"{ivf_path}/centroids")
    ranked = {
        "lsh_0bits": (lambda k: lsh_topk(corpus, queries, k=k, n_bits=0),
                      _jvm_lsh(corpus, queries, 51, 0, 2)),
        "lsh_3bits": (lambda k: lsh_topk(corpus, queries, k=k, n_bits=3, n_tables=6),
                      _jvm_lsh(corpus, queries, 51, 3, 6)),
        "ivf": (lambda k: ivf_topk(corpus, queries, k=k, n_centroids=4, n_probe=2),
                _jvm_ivf(assigned, centroids, queries, corpus, 51, 2)),
        "ivf_idx_pruned": (lambda k: ivf_topk_indexed(spark, ivf_path, queries, k=k, n_probe=2),
                           _jvm_ivf(lists, cents, queries, corpus, 51, 2)),
        "ivf_idx_all": (lambda k: ivf_topk_indexed(spark, ivf_path, queries, k=k, n_probe=4),
                        _jvm_ivf(lists, cents, queries, corpus, 51, 4)),
        "ivfpq": (lambda k: ivfpq_topk(spark, ivfpq_path, queries, k=k, n_probe=2),
                  _jvm_ivfpq(spark, ivfpq_path, queries, 51, 2)),
    }
    refined = {}
    for k in (2, 5):
        refined[f"ivfpq_refine@{k}"] = (
            ivfpq_topk(spark, ivfpq_path, queries, k=k, n_probe=2, oversample=3, refine=corpus),
            _jvm_ivfpq(spark, ivfpq_path, queries, k, 2, 3, corpus))
        pq_plan = _jvm_exact(_jvm_pq(spark, codes, queries, books, 3 * k).select(
            "query_id", "neighbor_id"), queries, corpus, k)
        for route, frame in (("", codes), ("_fused", pq_encode(corpus, books))):
            refined[f"pq_refined{route}@{k}"] = (
                pq_topk_refined(frame, corpus, queries, books, k=k, oversample=3), pq_plan)
    made = {f"{label}@{k}": make(k) for label, (make, _) in ranked.items() for k in KS}
    made.update({label: df for label, (df, _) in refined.items()})
    plans = {label: plan for label, (_, plan) in ranked.items()}
    plans.update({label: plan for label, (_, plan) in refined.items()})

    plan_of = {f"{label}@{k}": label for label in ranked for k in KS}
    plan_of.update({label: label for label in refined})
    for label, df in made.items():
        assert _schema(df) == _schema(plans[plan_of[label]]), label
    assert _schema(made["ivfpq@5"]) == [("query_id", "bigint"), ("neighbor_id", "bigint"),
                                        ("score", "double")]
    got, truth = _label_sets(made), _label_sets(plans)
    for label in ranked:
        for k, rows in _prefixes(truth[label], KS).items():
            assert got[f"{label}@{k}"] == rows, (label, k)
    for label in refined:
        assert got[label] == truth[label], label
    # the restriction is real: pruned probes and 3-bit buckets see fewer pairs
    assert len(got["ivf_idx_pruned@51"]) < len(got["ivf_idx_all@51"])
    assert len(got["lsh_3bits@51"]) < len(got["lsh_0bits@51"])
    assert got["lsh_0bits@51"] == got["ivf_idx_all@51"]


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


# Jobs per call of each search over the job-count fixture: at most what the
# JVM pair plans it replaces ran on the same fixture. LSH counts a cold
# hyperplane cache (one weight job per table). Index centroids and codebooks
# are read with their fixed schemas (no inference job); the posting-list and
# code reads, whose columns follow the corpus, count their inference job.
MAX_JOBS = {
    "brute_force_topk": 3,
    "pq_topk": 3,
    "lsh_topk_0bits": 3,
    "lsh_topk_3bits": 9,
    "ivf_topk": 5,
    "ivf_topk_indexed": 5,
    "ivfpq_topk": 6,
    "ivfpq_topk_refine": 8,
    "pq_topk_refined": 5,
}


def test_topk_job_count(spark, tmp_path, monkeypatch, pq_index):
    """A corpus of 3 parquet files and a one-file query batch: one bounded
    query collect, then the kernel stage and the window merge (two for a
    refined search), plus what a search reads first — the IVF sample, the
    index's centroids and codebooks, the LSH hyperplanes. A lazy
    ``pq_encode`` frame is encoded inside the kernel (one Python runner);
    cached codes are scanned, not encoded again."""
    rng = np.random.default_rng(2)
    rows = [(i, [float(x) for x in rng.standard_normal(DIM)]) for i in range(120)]
    spark.createDataFrame(rows, SCHEMA).repartition(3).write.parquet(str(tmp_path / "c"))
    spark.createDataFrame(rows[:10], SCHEMA).coalesce(1).write.parquet(str(tmp_path / "q"))
    corpus = spark.read.parquet(str(tmp_path / "c"))
    q = spark.read.parquet(str(tmp_path / "q"))
    books = pq_train(corpus, m=4, k=4)
    codes = pq_encode(corpus, books)
    ivf, ivfpq = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    ivf_index_write(corpus, ivf, n_centroids=4)
    ivfpq_index_write(corpus, ivfpq, n_centroids=4, m=4, k=4)
    monkeypatch.setattr(similarity, "_SRP_WEIGHT_CACHE", {})
    searches = {
        "brute_force_topk": lambda: brute_force_topk(corpus, q, k=5),
        "pq_topk": lambda: pq_topk(codes, q, books, k=5),
        "lsh_topk_0bits": lambda: lsh_topk(corpus, q, k=5, n_bits=0),
        "lsh_topk_3bits": lambda: lsh_topk(corpus, q, k=5, n_bits=3, n_tables=6),
        "ivf_topk": lambda: ivf_topk(corpus, q, k=5, n_centroids=4, n_probe=2),
        "ivf_topk_indexed": lambda: ivf_topk_indexed(spark, ivf, q, k=5, n_probe=2),
        "ivfpq_topk": lambda: ivfpq_topk(spark, ivfpq, q, k=5, n_probe=2),
        "ivfpq_topk_refine": lambda: ivfpq_topk(spark, ivfpq, q, k=5, n_probe=2,
                                                oversample=3, refine=corpus),
        "pq_topk_refined": lambda: pq_topk_refined(codes, corpus, q, books, k=5),
    }
    jobs = {name: _jobs(spark, lambda: make().toArrow()) for name, make in searches.items()}
    assert all(jobs[name] <= MAX_JOBS[name] for name in searches), jobs
    for make in searches.values():
        plan = _plan(make())
        assert "MapInPandas" in plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    for name in ("pq_topk", "pq_topk_refined"):
        assert "ArrowEvalPython" not in _plan(searches[name]()), name
    # the IVF-PQ index encode assigns and residual-encodes in one runner
    encode_plan = _plan(_ivfpq_codes(corpus, *_load_ivfpq(spark, ivfpq), "vec_id", "embedding"))
    assert encode_plan.count("ArrowEvalPython") == 1, encode_plan
    cached_books, cached = pq_index
    plan = _plan(pq_topk(cached, q, cached_books, k=5))
    scan = plan[plan.index("MapInPandas"):].splitlines()
    assert "codes#" in scan[0] and scan[1].strip().startswith("+- InMemoryTableScan")
    assert plan.index("ArrowEvalPython") > plan.index("InMemoryRelation")


def test_query_bound_raises_and_score_chunks_do_not_change_rows(
    spark, corpus, queries, pq_index, jvm_truth, monkeypatch
):
    books, codes = pq_index
    # a budget of 30 scores per block: one or two queries per chunk
    monkeypatch.setattr(similarity, "_SCORE_BLOCK_ELEMS", 30)
    assert _rowset(brute_force_topk(corpus, queries, k=5)) == jvm_truth["brute"][5]
    for frame in (codes, pq_encode(corpus, books)):
        assert _rowset(pq_topk(frame, queries, books, k=5)) == jvm_truth["pq"][5]

    monkeypatch.setattr(similarity, "_MAX_DRIVER_QUERIES", 4)
    searches = (
        lambda: brute_force_topk(corpus, queries, k=4),
        lambda: lsh_topk(corpus, queries, k=4),
        lambda: ivf_topk(corpus, queries, k=4),
        lambda: pq_topk(codes, queries, books, k=4),
        lambda: pq_topk_refined(codes, corpus, queries, books, k=4),
    )
    for search in searches:
        with pytest.raises(ValueError, match="slices of at most 4 queries"):
            search()
