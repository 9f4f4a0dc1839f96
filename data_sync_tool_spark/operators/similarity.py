"""Similarity search over ``array<float>`` embedding columns.

- ``brute_force_topk`` : exact cosine top-k over every corpus row. The
  correctness baseline.
- ``lsh_topk``         : sign-random-projection LSH — deterministic
  hyperplanes from a seeded hash; a query scores only the rows that share
  its bucket in some table. The scale path: candidate count ~ corpus/2^bits
  per probe.
- ``ivf_topk``         : IVF-flat — deterministic centroid sample, vectors
  assigned to nearest centroid (numpy over Arrow batches), queries probe the
  ``n_probe`` nearest centroid lists only. ``ivf_topk_indexed`` runs the
  same search over a persisted index.
- ``embedding_near_dup_pairs`` : near-duplicate detection at threshold via
  the LSH buckets (the embedding-cosine member of the dedup suite).

Every top-k search here and in ``pq`` runs one kernel, ``_block_topk``: the
query batch is collected once (``_collect_queries``, bounded at
``_MAX_DRIVER_QUERIES``) and broadcast as numpy arrays, each corpus Arrow
batch is scored in numpy, every partition keeps each query's k best rows,
and only those reach the per-query window (``_topk_per_query``). An
optional key restriction turns the flat search into a bucketed one: each
corpus row carries keys (its SRP bucket per table, its IVF list, or its own
id for an exact re-rank of candidates), each query probes keys, and only
(query, row) pairs sharing a key are scored — no (query, corpus) pair ever
materializes in the JVM. Past the bound every search raises.
"""

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import round6_half_up
from ..functions.vectors import cosine_prenormed, norm

# Every top-k search collects its query batch on the driver, bounded here
# (read at call time): past it the collect itself is the bottleneck.
_MAX_DRIVER_QUERIES = 65_536
_OVER_BOUND = (
    "{who} collects its query batch on the driver and is bounded at "
    "_MAX_DRIVER_QUERIES={bound}; got more. Split the query batch into slices "
    "of at most {bound} queries and union the outputs: each query's top k does "
    "not depend on the other queries, so the union is exact."
)
# float64 elements per score block in ``_block_topk`` (≤ ~64 MB), the same
# budget ``_pairs_within_groups`` uses for its gram chunks.
_SCORE_BLOCK_ELEMS = 8_000_000
# A persisted index's centroid table: read with its schema, a parquet read
# runs no schema-inference job.
_CENTROIDS = "list_id long, centroid array<double>"


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str, who: str):
    """``(ids, mat)``: the query batch as an Arrow id array (its Spark type
    intact) and an ``(n, dim)`` float64 matrix — one bounded collect that
    raises past ``_MAX_DRIVER_QUERIES``."""
    bound = _MAX_DRIVER_QUERIES
    t = queries.select(id_col, vec_col).limit(bound + 1).toArrow()
    if t.num_rows > bound:
        raise ValueError(_OVER_BOUND.format(who=who, bound=bound))
    flat = t.column(1).combine_chunks().flatten().to_numpy(zero_copy_only=False)
    mat = flat.astype(np.float64).reshape(t.num_rows, -1 if t.num_rows else 0)
    return t.column(0).combine_chunks(), mat


def _fold_norms(m_t: np.ndarray) -> np.ndarray:
    """``sqrt(Σ x·x)`` per column of a dim-major matrix, folded like
    ``functions.vectors.norm``."""
    acc = np.zeros(m_t.shape[1])
    for d in range(m_t.shape[0]):
        acc += m_t[d] * m_t[d]
    return np.sqrt(acc)


def _cosine_side(qmat: np.ndarray):
    """The broadcast query side of a cosine search: ``(queries_t, norms)``."""
    q_t = qmat.T.copy()
    return q_t, _fold_norms(q_t)


def _cosine(q_t, qn, c_t, cn):
    """``score(q, r)``: the JVM ``cosine_prenormed`` (before ``round``) of
    queries ``q`` against rows ``r``, two index arrays that broadcast. Dot
    products sum left to right over dims from 0.0, exactly the JVM fold (a
    BLAS gemm sums in another order: last-ulp drift), then
    ``d > 0 ? dot/d : 0.0``."""

    def score(q, r):
        dot = np.zeros(np.broadcast_shapes(np.shape(q), np.shape(r)))
        tmp = np.empty_like(dot)
        for d in range(len(q_t)):
            np.multiply(q_t[d][q], c_t[d][r], out=tmp)
            dot += tmp
        den = qn[q] * cn[r]
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(den > 0, dot / den, 0.0)

    return score


def _vectors(col: pd.Series) -> np.ndarray:
    """An Arrow batch's vector column as an ``(n, dim)`` float64 matrix."""
    return np.stack(col.to_numpy()).astype(np.float64)


def _cosine_block(side, pdf: pd.DataFrame):
    """Cosine score function of ``_block_topk``: the batch's vectors
    (column 1) against the broadcast ``_cosine_side``."""
    c_t = _vectors(pdf.iloc[:, 1]).T.copy()
    return _cosine(*side, c_t, _fold_norms(c_t))


def _keep_topk(q: np.ndarray, ids: np.ndarray, s: np.ndarray, k: int) -> np.ndarray:
    """Positions of each query's k best entries by (score desc, id asc)."""
    order = np.lexsort((ids, -s, q))
    qs = q[order]
    rank = np.arange(len(order)) - np.searchsorted(qs, qs, side="left")
    return order[rank < k]


def _topk_per_query(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """Each query's first k rows by (score desc, neighbor_id asc)."""
    w = Window.partitionBy("query_id").orderBy(F.col(score_col).desc(), F.col("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def _row_keys(keys: np.ndarray, col: pd.Series):
    """``(row, key rank)`` of every key a batch row carries that some query
    probes; ``keys`` are the sorted probed keys."""
    rows = np.repeat(np.arange(len(col)), col.map(len).to_numpy())
    rk = np.concatenate(col.to_numpy())
    pos = np.minimum(np.searchsorted(keys, rk), len(keys) - 1)
    hit = keys[pos] == rk
    return rows[hit], pos[hit]


def _key_pairs(index, rows, rank, nq: int, q0: int, q1: int, n: int):
    """``(query, row)`` index pairs that share a key, for queries in
    ``[q0, q1)``; ``index`` is the ascending ``key rank · nq + query``
    array. A pair sharing several keys (LSH tables) appears once."""
    lo = np.searchsorted(index, rank * nq + q0)
    cnt = np.searchsorted(index, rank * nq + q1) - lo
    at = np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(cnt.sum())
    pair = np.unique(index[at] % nq * n + np.repeat(rows, cnt))
    return pair // n, pair % n


def _block_topk(
    corpus: DataFrame,
    id_col: str,
    query_ids,
    query_side,
    k: int,
    score_fn,
    score_col: str,
    probes=None,
) -> DataFrame:
    """``(query_id, neighbor_id, score_col)``: each query's top k corpus rows
    by (score desc, neighbor_id asc), self-matches excluded.

    ``corpus`` is ``(id_col, payload…)``; ``query_ids`` is an Arrow array (its
    type is the output ``query_id`` type) and ``query_side`` whatever
    ``score_fn`` needs, broadcast once. ``score_fn(query_side, batch)``
    parses one Arrow batch (a pandas frame of the corpus columns) and
    returns ``score(q, r)``: the raw scores of query indices ``q`` against
    batch row indices ``r``, two index arrays that broadcast together.

    Without ``probes`` every query meets every row: per batch, queries go in
    chunks of ≤ ``_SCORE_BLOCK_ELEMS`` scores, scored as one dense block;
    ``np.partition`` finds every query's k-th score and only entries at or
    above it stay candidates, so ties at the boundary survive to the exact
    ``lexsort`` on (query, score desc, id).

    ``probes = (query_index, key)`` is the key restriction: parallel arrays
    naming the keys each query probes, while the corpus's last column holds
    each row's keys (``array<long>``). The inverted key → query index is
    built here and broadcast once; per batch the kernel keeps only rows
    carrying a probed key, and per query chunk it forms only the (query,
    row) pairs that share a key, each once however many keys they share,
    and scores them as one flat vector.

    Scores are rounded with ``round6_half_up`` (Spark's ``round(·, 6)``). The
    partition's running top k absorbs each batch's candidates; the partition
    emits ≤k rows per query, and a ``row_number`` window merges partitions."""
    from pyspark.sql.pandas.types import from_arrow_type

    id_type = corpus.schema[id_col].dataType.simpleString()
    schema = (f"query_id {from_arrow_type(query_ids.type).simpleString()}, "
              f"neighbor_id {id_type}, {score_col} double")
    spark = corpus.sparkSession
    if len(query_ids) == 0 or (probes is not None and len(probes[1]) == 0):
        return spark.createDataFrame([], schema)
    qids = query_ids.to_numpy(zero_copy_only=False)
    index = None
    if probes is not None:
        keys, rank = np.unique(np.asarray(probes[1]), return_inverse=True)
        index = (keys, np.unique(rank * len(qids) + np.asarray(probes[0])))
    bc = spark.sparkContext.broadcast((qids, query_side, index))
    budget = _SCORE_BLOCK_ELEMS

    def kernel(batches):
        qids, side, index = bc.value
        nq = len(qids)
        kept = None  # the partition's running top k: (query index, id, score)
        for pdf in batches:
            if index is not None and len(pdf):
                rows, rank = _row_keys(index[0], pdf.iloc[:, -1])
                # parse and score only the rows some query probes
                hit, rows = np.unique(rows, return_inverse=True)
                pdf = pdf.iloc[hit]
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf.iloc[:, 0].to_numpy()
            score = score_fn(side, pdf)
            parts = [] if kept is None else [kept]
            step = max(1, budget // n)
            for q0 in range(0, nq, step):
                q1 = min(q0 + step, nq)
                if index is None:
                    q, r = np.arange(q0, q1)[:, None], np.arange(n)
                else:
                    q, r = _key_pairs(index[1], rows, rank, nq, q0, q1, n)
                s = score(q, r)
                s = round6_half_up(s.ravel()).reshape(s.shape)
                keep = qids[q] != ids[r]
                if index is None and 0 < k < n:
                    kth = np.partition(np.where(keep, s, -np.inf), n - k, axis=1)[:, n - k]
                    keep &= s >= kth[:, None]
                at = np.nonzero(keep)
                parts.append((np.broadcast_to(q, s.shape)[at],
                              ids[np.broadcast_to(r, s.shape)[at]], s[at]))
            q, i, sc = (np.concatenate(x) for x in zip(*parts))
            top = _keep_topk(q, i, sc, k)
            kept = (q[top], i[top], sc[top])
        if kept is not None:
            q, i, sc = kept
            yield pd.DataFrame({"query_id": qids[q], "neighbor_id": i, score_col: sc})

    return _topk_per_query(corpus.mapInPandas(kernel, schema), score_col, k)


def _refine(
    corpus: DataFrame, id_col: str, vec_col: str, query_ids, qmat: np.ndarray,
    cands: DataFrame, k: int, score_col: str,
) -> DataFrame:
    """Exact cosine top-k among each query's candidates (``cands``: the
    ``(query_id, neighbor_id)`` rows of a first stage over the same query
    batch): every candidate id is a key its query probes, and every corpus
    row's key is its own id."""
    t = cands.select("query_id", "neighbor_id").toArrow()
    qids = query_ids.to_numpy(zero_copy_only=False)
    order = np.argsort(qids, kind="stable")
    q = order[np.searchsorted(qids, t.column(0).to_numpy(), sorter=order)]
    return _block_topk(
        corpus.select(id_col, vec_col, F.array(id_col).alias("keys")), id_col, query_ids,
        _cosine_side(qmat), k, _cosine_block, score_col,
        probes=(q, t.column(1).to_numpy()),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cos) exact top-k per query (self-match
    excluded). The query batch is collected once (bounded at
    ``_MAX_DRIVER_QUERIES``; past it this raises) and broadcast as a numpy
    matrix with its norms; ``_block_topk`` scores each corpus Arrow batch
    against it. Every score is bit-identical to the JVM
    ``round(cosine_prenormed(q, c), 6)``: dot products and norms fold left
    to right over dims, then ``d > 0 ? dot/d : 0.0``."""
    qids, qmat = _collect_queries(queries, id_col, vec_col, "brute_force_topk")
    return _block_topk(
        corpus.select(id_col, vec_col), id_col, qids, _cosine_side(qmat),
        k, _cosine_block, "cos",
    )


_SRP_WEIGHT_CACHE: dict[tuple[int, int, int], list[list[float]]] = {}


def _srp_weights(spark, n_bits: int, dim: int, seed: int) -> list[list[float]]:
    """Materialize the deterministic hyperplane weights
    h[b][d] = (pmod(xxhash64(seed,b,d), 2000001) − 10^6)/10^6 ∈ [−1, 1)
    ONCE, with a single tiny Spark job over n_bits×dim rows — the per-ROW
    recompute this replaces cost n_bits×dim hash calls per input vector
    (≈6k/row at dim 768). Evaluating the identical JVM expression keeps the
    weights (and therefore every bucket id) bit-identical to the inline form."""
    key = (n_bits, dim, seed)
    if key not in _SRP_WEIGHT_CACHE:
        b = (F.col("id") / F.lit(dim)).cast("int")
        d = F.pmod(F.col("id"), F.lit(dim)).cast("int")
        w = (
            F.pmod(F.xxhash64(F.lit(seed), b, d), F.lit(2_000_001)) - F.lit(1_000_000)
        ) / F.lit(1_000_000.0)
        rows = spark.range(n_bits * dim).select(F.col("id"), w.alias("w")).collect()
        flat = [r["w"] for r in sorted(rows, key=lambda r: r["id"])]
        _SRP_WEIGHT_CACHE[key] = [flat[i * dim:(i + 1) * dim] for i in range(n_bits)]
    return _SRP_WEIGHT_CACHE[key]


def _srp_bits(spark, vec_col: str, n_bits: int, dim: int, seed: int) -> F.Column:
    """Sign-random-projection bucket id: deterministic pseudo-random
    hyperplanes embedded as LITERAL weight arrays (precomputed once by
    ``_srp_weights``); per row only the dot products remain. The zip_with +
    left-fold aggregate structure is unchanged, so results are bit-identical
    to the previous per-row-hash form."""
    if n_bits == 0:
        # degenerate single-bucket configuration: every vector shares bucket
        # 0, so candidates = all pairs — the exhaustive (exact, brute-force-
        # equivalent) setting used by the oracle-checked contract query
        return F.lit(0).cast("long")
    v = F.col(vec_col)
    weights = _srp_weights(spark, n_bits, dim, seed)
    bits = []
    for b in range(n_bits):
        plane = F.array(*[F.lit(w) for w in weights[b]])
        dot = F.aggregate(
            F.zip_with(v, plane, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(1 << b))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    n_tables: int = 2,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: candidates = same SRP bucket in ANY of ``n_tables``
    tables; exact cosine re-rank inside candidates. ``n_bits=0`` is the
    exhaustive configuration (single bucket → all pairs → exactly brute
    force — the oracle-checkable setting).

    The query batch is collected once (bounded at ``_MAX_DRIVER_QUERIES``;
    past it this raises) and its buckets are folded in numpy exactly like
    ``_srp_bits``, which buckets the corpus rows. Each bucket is a key
    ``tbl << n_bits | bucket``, so tables cannot collide, and
    ``_block_topk`` scores only the (query, row) pairs that share one —
    each pair once, however many tables it shares, and the vectors never
    leave their corpus batch."""
    qids, qmat = _collect_queries(queries, id_col, vec_col, "lsh_topk")
    spark, (nq, dim) = corpus.sparkSession, qmat.shape
    q_keys = np.empty((nq, n_tables), dtype=np.int64)
    for t in range(n_tables):
        w = np.asarray(_srp_weights(spark, n_bits, dim, seed + t) if n_bits else [],
                       dtype=np.float64).reshape(n_bits, dim)
        dot = np.zeros((nq, n_bits))
        for d in range(dim):
            dot += qmat[:, d, None] * w[None, :, d]
        # ~(dot < 0) is Spark's ``dot >= 0``, which is also true for NaN
        q_keys[:, t] = (t << n_bits) | ((~(dot < 0)) << np.arange(n_bits)).sum(axis=1)
    row_keys = F.array(*[
        F.lit(t << n_bits) + _srp_bits(spark, vec_col, n_bits, dim, seed + t)
        for t in range(n_tables)
    ])
    return _block_topk(
        corpus.select(id_col, vec_col, row_keys.alias("keys")), id_col, qids, _cosine_side(qmat),
        k, _cosine_block, "cos", probes=(np.repeat(np.arange(nq), n_tables), q_keys.ravel()),
    )


def _assign_udf(cmat: np.ndarray, cids: np.ndarray):
    """Arrow-batched nearest-centroid assignment: one numpy matmul per batch
    against the broadcast centroid matrix."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int64")
        m = np.asarray(vs.tolist(), dtype=np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(cids[np.argmax(m @ cmat.T, axis=1)])

    return _assign


def ivf_assign(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 2,
    sample_per_centroid: int = 256,
) -> tuple[DataFrame, DataFrame]:
    """IVF index build: centroids train on a bounded DETERMINISTIC hash-min
    sample (``sample_per_centroid × n_centroids`` rows, one distributed
    top-K-by-hash job — ``TakeOrdered`` map-side top-K, never a full sort),
    then the corpus is assigned to its nearest centroid exactly ONCE (lazy
    Arrow-matmul pass). Standard IVF practice: Lloyd refinement runs in
    numpy on the driver over the collected sample — at 10^10 rows the index
    build costs one bounded sample scan + one assignment pass, never
    ``n_iters`` full-corpus training passes. Deterministic end to end: no
    RNG; seeds = the ``n_centroids`` hash-smallest sample rows (identical to
    the pre-sampling seed selection), fixed iteration count.

    What refinement buys at scale: BALANCED lists (max-list size drops with
    iterations) — the bound on worst-case probe cost; recall at fixed
    n_probe is data-dependent. Returns (assigned corpus df + 'list_id',
    centroids df)."""
    from ..session import local_frame

    n_sample = max(n_centroids, n_centroids * sample_per_centroid)
    sample_rows = (
        corpus.select(id_col, vec_col)
        .withColumn("_h", F.xxhash64(F.col(id_col).cast("string")))
        .orderBy("_h")
        .limit(n_sample)
        .collect()
    )
    smat = np.asarray([r[vec_col] for r in sample_rows], dtype=np.float64)
    smat = smat / np.maximum(np.linalg.norm(smat, axis=1, keepdims=True), 1e-12)
    # seeds: the hash-smallest n_centroids rows (sample_rows is already in
    # ascending _h order — same seeds the full-corpus variant picked)
    cmat = smat[:n_centroids].copy()
    cids = np.arange(len(cmat), dtype=np.int64)

    for _ in range(max(0, n_iters)):
        # driver-local Lloyd step over the sample: assign → per-list mean
        nearest = np.argmax(smat @ cmat.T, axis=1)
        new = cmat.copy()  # empty lists keep their previous centroid
        for lid in range(len(cmat)):
            members = smat[nearest == lid]
            if len(members):
                m = members.mean(axis=0)
                new[lid] = m / max(float(np.linalg.norm(m)), 1e-12)
        cmat = new

    # an Arrow-backed local table: reading it back (``_centroid_matrix``)
    # or broadcasting it starts no Python worker
    centroids_df = local_frame(
        corpus.sparkSession,
        [(int(i), [float(x) for x in cmat[i]]) for i in range(len(cmat))], _CENTROIDS,
    )
    assigned = corpus.withColumn("list_id", _assign_udf(cmat, cids)(F.col(vec_col)))
    return assigned, centroids_df


def _centroid_matrix(centroids: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """``(list_ids, centroid matrix)`` of a ``(list_id, centroid)`` table, in
    list_id order."""
    t = centroids.select("list_id", "centroid").toArrow()
    if not t.num_rows:
        raise ValueError("no IVF centroids")
    t = t.sort_by("list_id")
    return (np.asarray(t.column("list_id").to_pylist(), dtype=np.int64),
            np.asarray(t.column("centroid").to_pylist(), dtype=np.float64))


def _probe(scores: np.ndarray, list_ids: np.ndarray, n_probe: int):
    """``(query index, list_id)`` probe pairs: each query's ``n_probe`` best
    lists by (score desc, list_id asc), the JVM probe window's order."""
    best = np.lexsort((np.broadcast_to(list_ids, scores.shape), -scores))[:, :n_probe]
    return np.repeat(np.arange(len(scores)), best.shape[1]), list_ids[best].ravel()


def _ivf_search(
    lists: DataFrame, list_ids: np.ndarray, cmat: np.ndarray, queries: DataFrame,
    k: int, n_probe: int, id_col: str, vec_col: str, who: str,
) -> DataFrame:
    """IVF-flat top-k over ``lists`` (corpus rows with their ``list_id``):
    each query probes its ``n_probe`` nearest centroids by an unrounded
    numpy cosine folded like the JVM ``cosine``, only the probed lists are
    read, and ``_block_topk`` scores the rows of the lists a query probes."""
    qids, qmat = _collect_queries(queries, id_col, vec_col, who)
    side = _cosine_side(qmat)
    c_t = cmat.T.copy()
    cs = _cosine(*side, c_t, _fold_norms(c_t))(np.arange(len(qmat))[:, None],
                                               np.arange(len(cmat)))
    q, probed = _probe(cs, list_ids, n_probe)
    lists = lists.filter(F.col("list_id").isin(np.unique(probed).tolist()))
    return _block_topk(
        lists.select(id_col, vec_col, F.array("list_id").alias("keys")), id_col, qids, side,
        k, _cosine_block, "cos", probes=(q, probed),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat search: queries probe their ``n_probe`` nearest centroid
    lists; exact cosine re-rank within the probed lists. The query batch is
    collected once (bounded at ``_MAX_DRIVER_QUERIES``; past it this
    raises); probes and scoring run in ``_ivf_search``."""
    assigned, centroids = ivf_assign(corpus, n_centroids, id_col, vec_col)
    return _ivf_search(assigned, *_centroid_matrix(centroids), queries, k, n_probe,
                       id_col, vec_col, "ivf_topk")


def ivf_index_write(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 2,
) -> None:
    """Persist an IVF index for build-once / query-many serving — the actual
    100-TB ANN shape (re-assigning a 10^10-row corpus per query batch is the
    anti-pattern the in-memory ``ivf_topk`` accepts for one-shot use).

    Layout: ``{path}/lists`` = the assigned corpus parquet PARTITIONED BY
    list_id (each posting list is its own partition directory, so a probe
    reads only its lists); ``{path}/centroids`` = the tiny centroid table."""
    assigned, centroids = ivf_assign(corpus, n_centroids, id_col, vec_col, n_iters)
    (
        assigned.select(id_col, vec_col, "list_id")
        # cluster rows by list BEFORE partitionBy: without this every task
        # opens a writer per list (tasks x lists small files)
        .repartition(max(1, n_centroids // 4), F.col("list_id"))
        .write.partitionBy("list_id").mode("overwrite").parquet(f"{path}/lists")
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a PERSISTED IVF index: the tiny centroid table is read
    once, probes are chosen on the driver, and the posting-list scan reads
    ONLY the probed ``list_id=`` partitions — static partition pruning,
    never a full index scan. The query batch is bounded as in ``ivf_topk``.
    Reads id, vector and list_id only, so indexes written with a stored
    ``vnorm`` column answer identically. Bit-identical to ``ivf_topk`` over
    the same index build (pytest-asserted)."""
    return _ivf_search(
        spark.read.parquet(f"{path}/lists"),
        *_centroid_matrix(spark.read.schema(_CENTROIDS).parquet(f"{path}/centroids")),
        queries, k, n_probe, id_col, vec_col, "ivf_topk_indexed",
    )


def _pairs_within_groups(
    df: DataFrame,
    group_cols: list[str],
    threshold: float,
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """All within-group vector pairs ``(a, b, cos)`` with ``a < b`` and
    ``round(cos, 6) >= threshold`` — ONE numpy gram matrix per group instead
    of an id self-join plus two vector re-attach joins plus a per-pair JVM
    higher-order-function cosine (guide §4.2: hand whole batches to
    vectorized native code). For a group of m vectors the old shape paid
    ~m²/2 join rows each allocating a zip_with array; this pays one chunked
    ``blk @ m.T`` BLAS call.

    Arithmetic parity with the JVM path: float32 values widen to float64
    exactly on both sides; the dot-sum order differs only in the last ulp,
    which ``round(·, 6)`` absorbs (a computed double can never sit exactly
    on a 1e-6 midpoint, so HALF_UP vs numpy HALF_EVEN cannot disagree);
    ``d > 0 ? dot/d : 0.0`` is mirrored verbatim.

    Memory: the whole group is materialized per task (m × dim float64), so
    group sizes must be bounded by construction — true for SemDeDup clusters
    (n_clusters scales with corpus) and SRP buckets (2^n_bits scales)."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = ", ".join(
        [f"{c} {df.schema[c].dataType.simpleString()}" for c in group_cols]
        + [f"a {id_type}", f"b {id_type}", "cos double"]
    )

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        ids = pdf[id_col].to_numpy()
        empty = {c: np.array([], dtype=np.int64) for c in group_cols}
        empty.update({"a": np.array([], dtype=ids.dtype),
                      "b": np.array([], dtype=ids.dtype),
                      "cos": np.array([], dtype=np.float64)})
        if n < 2:
            return pd.DataFrame(empty)
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]],
                       dtype=np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        step = max(1, 8_000_000 // n)  # ≤ ~64 MB of float64 dots per chunk
        frames = []
        from ..functions.numeric import round6_half_up

        for i0 in range(0, n, step):
            blk = slice(i0, min(i0 + step, n))
            dots = m[blk] @ m.T
            d = norms[blk, None] * norms[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(d > 0, dots / d, 0.0)
            cosr = round6_half_up(cos.ravel()).reshape(cos.shape)
            mask = (cosr >= threshold) & (ids[blk, None] < ids[None, :])
            r, c = np.nonzero(mask)
            if len(r):
                frames.append(pd.DataFrame({
                    "a": ids[blk][r], "b": ids[c], "cos": cosr[r, c]}))
        if not frames:
            return pd.DataFrame(empty)
        out = pd.concat(frames, ignore_index=True)
        for col, val in zip(group_cols, key):
            out[col] = val
        return out[group_cols + ["a", "b", "cos"]]

    return df.groupBy(*group_cols).applyInPandas(kernel, out_schema)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 6,
    n_tables: int = 3,
    seed: int = 11,
    dim: int | None = None,
) -> DataFrame:
    """(a, b, cos) embedding near-duplicates: SRP-bucket candidates, exact
    cosine verify at ``threshold``. The embedding-cosine member of the dedup
    suite.

    Scale shape: vectors ride the ×n_tables explode into one shuffle keyed
    by (tbl, bucket) and every bucket's pairs are scored by ONE numpy gram
    matrix (``_pairs_within_groups``); pair dedup across tables then carries
    only (a, b, cos). In the near-dup regime pairs-per-bucket ≫ rows-per-
    bucket, so shipping each vector n_tables× once is far cheaper than the
    former per-pair vector re-attach joins + per-pair JVM HOF cosine.
    Pass ``dim`` to skip the one-row probe job that otherwise infers it."""
    if dim is None and n_bits > 0:
        dim = len(df.select(vec_col).first()[0])
    from .dedup_suite import _FANOUT_MIN_BYTES_HEAVY, _ensure_parallelism

    base = _ensure_parallelism(df, _FANOUT_MIN_BYTES_HEAVY).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    bucketed = base.select(
        "id", "v",
        F.posexplode(
            F.array(*[
                _srp_bits(df.sparkSession, "v", n_bits, dim, seed + t)
                for t in range(n_tables)
            ])
        ).alias("tbl", "bucket"),
    )
    scored = _pairs_within_groups(bucketed, ["tbl", "bucket"], threshold)
    # a pair sharing several buckets scores identically in each (same kernel,
    # same inputs) — dedup AFTER scoring is equivalent to the old
    # dedup-then-score order
    return scored.select("a", "b", "cos").dropDuplicates(["a", "b"])


def group_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    assemble: bool = True,
) -> DataFrame:
    """Element-wise mean vector per group — class prototypes / cluster
    centroids / a distributed IVF-centroid refinement step.

    Shape at 100 TB: ``posexplode`` flattens to (group, pos, val) and ONE
    hash aggregate on (group, pos) computes the means — ``avg`` is partially
    aggregated map-side, so the shuffle carries one partial per (group, pos,
    task), never the vectors themselves. No ``collect_list`` of arrays, no
    driver numpy. With ``assemble=True`` a second (tiny, |groups|-sized)
    aggregate reassembles ordered arrays via sort-then-transform.

    Returns ``(group, centroid, n_vecs)`` when assembled, else the flat
    ``(group, pos, mean_val, n_vecs)`` — ``n_vecs`` is the per-group vector
    count (constant across positions for rectangular input).
    """
    flat = (
        df.select(F.col(group_col), F.posexplode(F.col(vec_col)).alias("pos", "val"))
        .groupBy(group_col, "pos")
        .agg(
            F.avg(F.col("val").cast("double")).alias("mean_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )
    if not assemble:
        return flat
    return (
        flat.groupBy(group_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("mean_val")))
                ),
                lambda s: s["mean_val"],
            ).alias("centroid"),
            F.max("n_vecs").alias("n_vecs"),
        )
    )


def semantic_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 2,
    sample_per_centroid: int = 256,
    _with_assignment: bool = False,
):
    """SemDeDup candidate pairs (Abbas et al. 2023, arXiv:2303.09540):
    cluster the embeddings with the IVF machinery, then compute EXACT
    pairwise cosine only WITHIN each cluster — ``(a, b, cos)`` for every
    within-cluster pair at or above ``threshold``.

    Scale shape: clustering caps the quadratic term at Σ|cluster|² instead
    of |corpus|² (with balanced lists, |corpus|²/n_clusters), and the
    self-join runs on bare ``(id, list_id)`` rows — vectors are re-attached
    once per side only for surviving candidate pairs, mirroring
    ``embedding_near_dup_pairs``. Each vector lives in exactly ONE list, so
    no candidate dedup pass is needed (unlike multi-table LSH). Cosines are
    rounded to 6 places for cross-engine comparability.

    ``n_clusters=1`` is the exhaustive configuration: exact all-pairs
    cosine at threshold — the DuckDB-verifiable sibling of the clustered
    approximation (same trick as ``lsh_topk_exhaustive``)."""
    assigned, centroids = ivf_assign(
        df, n_clusters, id_col, vec_col, n_iters, sample_per_centroid
    )
    base = assigned.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "list_id"
    )
    # one numpy gram matrix per cluster (``_pairs_within_groups``) replaces
    # the former (id, list_id) self-join + two vector re-attach joins + per-
    # pair JVM HOF cosine: Σ|cluster|² pair rows never materialize in a
    # shuffle, and the quadratic arithmetic runs as chunked BLAS
    pairs = _pairs_within_groups(base, ["list_id"], threshold).select(
        "a", "b", "cos"
    )
    if _with_assignment:
        return pairs, assigned, centroids
    return pairs


def semantic_dedupe(
    df: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "marginal",
    n_iters: int = 2,
    sample_per_centroid: int = 256,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """SemDeDup survivors: drop all but one member of every semantic
    near-duplicate group. Groups are connected components over
    ``semantic_dedup_pairs`` (transitive: a chain of ≥threshold links is one
    group even when its endpoints are unlike each other — same contract as
    the text dedup suite).

    ``keep`` picks the survivor per group: ``"marginal"`` keeps the member
    LEAST similar to its cluster centroid — the SemDeDup paper's choice
    (retain the outlier; duplicates cluster tightly, the marginal point
    carries the most diversity); ``"min_id"`` keeps the smallest id (the
    deterministic choice the text suite uses, and the one a SQL oracle can
    express).

    Shape: components run on the pair graph only; centroid scores are
    computed just for pair participants (semi-join before the broadcast
    centroid join); the corpus is anti-joined against losers and never
    reshuffled (``near_dedupe``)."""
    import tempfile

    from .graph import near_dedupe

    pairs, assigned, centroids = semantic_dedup_pairs(
        df, threshold, n_clusters, id_col, vec_col, n_iters,
        sample_per_centroid, _with_assignment=True,
    )
    # materialize the pair plan ONCE: it is consumed up to three times below
    # (the components' edge snapshot + both participant projections), and
    # each execution would re-run the assignment UDF + gram kernel
    root = checkpoint_dir or tempfile.mkdtemp(prefix="dst_semdd_")
    pairs.write.mode("overwrite").parquet(f"{root}/pairs")
    pairs = df.sparkSession.read.parquet(f"{root}/pairs")
    if keep == "min_id":
        return near_dedupe(df, pairs, id_col=id_col,
                           checkpoint_dir=checkpoint_dir)
    if keep != "marginal":
        raise ValueError(f"keep must be 'marginal' or 'min_id', got {keep!r}")
    participants = pairs.select(F.col("a").alias(id_col)).union(
        pairs.select(F.col("b").alias(id_col))
    ).dropDuplicates()
    scored = (
        assigned.join(participants, id_col, "left_semi")
        .join(F.broadcast(centroids), "list_id")
        .select(
            F.col(id_col),
            F.col(vec_col).alias("v"),
            F.col("centroid").alias("c"),
        )
        .select(
            id_col,
            (-F.round(cosine_prenormed(F.col("v"), F.col("c"), norm(F.col("v")),
                                       norm(F.col("c"))), 6)).alias("_marginality"),
        )
    )
    df_scored = df.join(scored, id_col, "left")
    survivors = near_dedupe(
        df_scored, pairs, id_col=id_col, score_col="_marginality",
        checkpoint_dir=checkpoint_dir,
    )
    return survivors.drop("_marginality")
