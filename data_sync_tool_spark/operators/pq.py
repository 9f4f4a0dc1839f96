"""Product quantization (PQ) for embedding columns — compressed ANN.

Jégou et al., "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011), re-expressed Spark-first. The reference engine has no
vector surface; this extends the LLM-training-data similarity suite
with the COMPRESSED corpus representation a 10^10-vector store needs:
a dim-768 float32 vector is 3 KB, its PQ code at m=8 subspaces is 8
small ints (~32 B before dictionary/bit packing) — the corpus side of
every query shrinks ~100×, and scoring never touches the raw vectors.

Scale shape:

- **train** mirrors ``similarity.ivf_assign``: codebooks fit on a
  bounded DETERMINISTIC hash-min sample (one distributed TakeOrdered
  job, never a full sort), Lloyd runs per-subspace in numpy on the
  driver. Codebooks are tiny (m × k × dim/m doubles ≈ 128 KB at
  m=8, k=256, dim=64→768) and broadcast.
- **encode** is ONE lazy Arrow pass: per batch, a numpy argmin against
  each subspace codebook (``_assign_codes``). The corpus is encoded once
  (build-once / query-many — persist the codes, drop the vectors). A
  ``pq_encode`` frame searched as returned is encoded per batch inside the
  search's top-k kernel (one Python runner per task); a transformed,
  cached or persisted one, or an index's, is scanned as codes.
- **search (ADC)** runs in the top-k kernel shared with every similarity
  search (``similarity._block_topk``): each query's m×k lookup table of
  subvector·codeword dot products is built driver-side (numpy over the
  small query batch) and broadcast once as one ``(m, n_queries, k)``
  array; each Arrow batch of codes is scored by one numpy gather per
  subspace, every partition keeps its top k per query, and the
  per-query window merges those — no Python row loop, no shuffle of the
  corpus, no decode, no (query, code) pair rows. IVF-PQ restricts the
  same kernel to the posting lists each query probes, and both refine
  stages restrict it to each query's candidate ids. Like every search,
  each collects its query batch once, bounded at
  ``similarity._MAX_DRIVER_QUERIES``, and raises past it.

Vectors are L2-normalized before subspace split, so ADC inner product
approximates cosine (residual/OPQ rotations are out of scope).
Deterministic end to end: hash-min sample seeds, fixed iteration
count, no RNG — retrains are bit-stable, so tests can pin exact codes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import (
    _CENTROIDS,
    _block_topk,
    _collect_queries,
    _centroid_matrix,
    _probe,
    _refine,
    _vectors,
)


# A persisted index's codebook table: read with its schema, a parquet read
# runs no schema-inference job.
_BOOKS = "sub int, code int, word array<double>"


def _normalize(m: np.ndarray) -> np.ndarray:
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def _lloyd(x: np.ndarray, k: int, n_iters: int) -> np.ndarray:
    """Driver-local deterministic k-means over a bounded sample: seeds are
    the first k rows (hash-min order), fixed iteration count, empty cells
    keep their previous codeword."""
    cb = x[:k].copy()
    for _ in range(max(0, n_iters)):
        d2 = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
        nearest = np.argmin(d2, axis=1)
        for c in range(k):
            members = x[nearest == c]
            if len(members):
                cb[c] = members.mean(axis=0)
    return cb


def _hash_min_sample(
    corpus: DataFrame, n_sample: int, id_col: str, vec_col: str
) -> np.ndarray:
    """Deterministic bounded sample (TakeOrdered by key hash — one map-side
    top-K job, never a full sort), L2-normalized."""
    rows = (
        corpus.select(id_col, vec_col)
        .withColumn("_h", F.xxhash64(F.col(id_col).cast("string")))
        .orderBy("_h")
        .limit(n_sample)
        .collect()
    )
    if not rows:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    return _normalize(np.asarray([r[vec_col] for r in rows], dtype=np.float64))


def _subspace_books(x: np.ndarray, m: int, k: int, n_iters: int) -> np.ndarray:
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"embedding dim {dim} not divisible into m={m} subspaces")
    dsub = dim // m
    books = np.empty((m, k, dsub), dtype=np.float64)
    for sub in range(m):
        books[sub] = _lloyd(x[:, sub * dsub:(sub + 1) * dsub], k, n_iters)
    return books


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 3,
    sample_per_code: int = 64,
) -> np.ndarray:
    """Train PQ codebooks → ``(m, k, dim//m)`` float64. The embedding dim
    must divide evenly into ``m`` subspaces. Sample and seeding follow
    ``ivf_assign``: the ``k × sample_per_code`` hash-smallest rows train,
    the k hash-smallest are the initial codewords per subspace, empty
    cells keep their previous codeword."""
    smat = _hash_min_sample(corpus, max(k, k * sample_per_code), id_col, vec_col)
    return _subspace_books(smat, m, k, n_iters)


def _assign_codes(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """``(n, m)`` int32 codes: each row's nearest codeword per subspace."""
    m, _, dsub = books.shape
    codes = np.empty((len(x), m), dtype=np.int32)
    for sub in range(m):
        xs = x[:, sub * dsub:(sub + 1) * dsub]
        # ||x-c||² = ||x||² − 2x·c + ||c||²; ||x||² is rank-constant
        d2 = -2.0 * (xs @ books[sub].T) + (books[sub] ** 2).sum(axis=1)[None, :]
        codes[:, sub] = np.argmin(d2, axis=1)
    return codes


def _encode_udf(books_bc):
    @F.pandas_udf("array<int>")
    def _encode(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        return pd.Series(list(_assign_codes(_normalize(_vectors(vs)), books_bc.value)))

    return _encode


def pq_encode(
    corpus: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "codes",
) -> DataFrame:
    """``(id, codes: array<int>)`` — the compressed corpus. One Arrow
    pass against the broadcast codebooks; everything but the id is
    dropped, so the persisted/queried table is ~100× smaller than the
    raw vectors. The returned frame records its inputs: searched as it
    is, it is encoded inside the search's kernel (see ``_adc_topk``)."""
    books = np.asarray(books, dtype=np.float64)
    bc = corpus.sparkSession.sparkContext.broadcast(books)
    codes = corpus.select(
        F.col(id_col), _encode_udf(bc)(F.col(vec_col)).alias(code_col)
    )
    codes._pq_encoded = (corpus.select(id_col, vec_col), books)
    return codes


def _luts(qmat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """``(m, n_queries, k)`` ADC lookup tables of the (normalized) query
    rows: one subvector·codebook product per query and subspace."""
    m, kk, dsub = books.shape
    luts = np.empty((m, len(qmat), kk))
    for qi in range(len(qmat)):
        for sub in range(m):
            luts[sub, qi] = qmat[qi, sub * dsub:(sub + 1) * dsub] @ books[sub].T
    return luts


def _adc_block(side, pdf: pd.DataFrame):
    """Score function of ``pq_topk``: ``side`` is ``(luts, books)`` and
    ``score(q, r)`` is the ADC of batch rows ``r`` for queries ``q``,
    folded over subspaces from 0.0 like the JVM
    ``aggregate(zip_with(codes, lut, …))`` (``0.0 + lut[0][c0] + …``), so
    every double is equal. Column 1 holds the codes, or with ``books`` the
    raw vectors, encoded here as ``pq_encode`` would."""
    luts, books = side
    c = np.stack(pdf.iloc[:, 1].to_numpy())
    if books is not None:
        c = _assign_codes(_normalize(c.astype(np.float64)), books)

    def score(q, r):
        acc = np.zeros(np.broadcast_shapes(np.shape(q), np.shape(r)))
        for sub in range(luts.shape[0]):
            acc += luts[sub][q, c[r, sub]]
        return acc

    return score


def _adc_topk(codes: DataFrame, id_col: str, code_col: str, qids, qmat: np.ndarray,
              books: np.ndarray, k: int) -> DataFrame:
    """Flat ADC top-k of a collected query batch. ``codes`` straight from
    ``pq_encode`` (not transformed, cached or persisted) is scored from its
    raw corpus, encoded per batch inside the kernel: one Python runner
    instead of the encode UDF's plus the kernel's."""
    corpus, enc_books = codes.select(id_col, code_col), None
    if "_pq_encoded" in vars(codes) and codes.storageLevel == StorageLevel.NONE:
        corpus, enc_books = codes._pq_encoded
    return _block_topk(corpus, id_col, qids, (_luts(_normalize(qmat), books), enc_books),
                       k, _adc_block, "adc")


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    books: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "codes",
) -> DataFrame:
    """(query_id, neighbor_id, adc) approximate top-k by asymmetric
    distance: the corpus side is the CODES table only. Each query's m×k
    LUT of subvector·codeword inner products is computed driver-side
    (queries are the small side) and broadcast once as one ``(m, n_q, k)``
    array; ``similarity._block_topk`` scores whole Arrow batches of codes
    with ``adc = Σ_sub lut[sub][code[sub]]`` (a numpy gather per subspace)
    and keeps each partition's top k per query — the hot path moves ~m
    ints per corpus row, never a vector, and no (query, code) pair row.
    A lazy ``pq_encode`` frame is the exception: its vectors are encoded
    per batch inside the kernel, which saves the encode UDF's runner.
    The query batch is bounded at ``similarity._MAX_DRIVER_QUERIES``; past
    it this raises."""
    qids, qmat = _collect_queries(queries, id_col, vec_col, "pq_topk")
    books = np.asarray(books, dtype=np.float64)
    return _adc_topk(codes, id_col, code_col, qids.cast(pa.int64()), qmat, books, k)


def pq_topk_refined(
    codes: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    books: np.ndarray,
    k: int = 10,
    oversample: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "codes",
) -> DataFrame:
    """Two-stage PQ search — the production shape: ADC over the compressed
    codes generates ``k × oversample`` candidates per query (the corpus
    scan touches codes only), then ONLY those candidates are re-ranked by
    exact cosine (``similarity._refine``: the kernel restricted to each
    query's candidate ids). The query batch is collected once for both
    stages, bounded as in ``pq_topk``. Returns (query_id, neighbor_id,
    cos)."""
    qids, qmat = _collect_queries(queries, id_col, vec_col, "pq_topk_refined")
    qids = qids.cast(pa.int64())
    books = np.asarray(books, dtype=np.float64)
    cands = _adc_topk(codes, id_col, code_col, qids, qmat, books, k * oversample)
    return _refine(corpus, id_col, vec_col, qids, qmat, cands, k, "cos")


def pq_index_write(
    corpus: DataFrame,
    path: str,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 3,
) -> None:
    """Persist a PQ index: ``{path}/codes`` = the compressed corpus
    parquet, ``{path}/books`` = the flattened codebook table. Build-once
    / query-many."""
    books = pq_train(corpus, m, k, id_col, vec_col, n_iters)
    _write_books(corpus.sparkSession, books, path)
    pq_encode(corpus, books, id_col, vec_col).write.mode("overwrite").parquet(
        f"{path}/codes"
    )


def _write_books(spark, books: np.ndarray, path: str) -> None:
    rows = [(sub, c, [float(x) for x in books[sub, c]])
            for sub in range(books.shape[0]) for c in range(books.shape[1])]
    spark.createDataFrame(rows, _BOOKS).write.mode("overwrite").parquet(f"{path}/books")


def pq_read_books(spark, path: str) -> np.ndarray:
    rows = spark.read.schema(_BOOKS).parquet(f"{path}/books").collect()
    if not rows:
        raise ValueError(f"no PQ codebooks at {path}/books")
    m = max(r["sub"] for r in rows) + 1
    k = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["word"])
    books = np.zeros((m, k, dsub), dtype=np.float64)
    for r in rows:
        books[r["sub"], r["code"]] = r["word"]
    return books


def pq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k against a persisted PQ index — reads codes only. The query
    batch is bounded as in :func:`pq_topk`."""
    books = pq_read_books(spark, path)
    codes = spark.read.parquet(f"{path}/codes")
    return pq_topk(codes, queries, books, k, id_col, vec_col)


# ------------------------------------------------------------------- IVF-PQ
# The composed 10^10-vector serving shape (Jégou et al. §IV; FAISS
# IndexIVFPQ): coarse IVF partitioning bounds the scan to n_probe posting
# lists, PQ RESIDUAL codes (vector − its list centroid) bound the bytes per
# scanned row. ADC decomposes the inner product as
#   q·v ≈ q·c_list + Σ_sub lut_q[sub][code_sub],
# so each (query, probed list) pair needs one scalar (q·c) plus the query's
# m×k lookup table over the residual codebooks — both computed driver-side
# from the tiny centroid/query matrices and broadcast as arrays. The corpus
# side moves m small ints per row, read from ONLY the probed list_id=
# partitions.


def _ivfpq_codes(batch: DataFrame, cmat: np.ndarray, books: np.ndarray,
                 id_col: str, vec_col: str) -> DataFrame:
    """``(id, list_id, codes)`` of ``batch`` in one Arrow pass: per batch the
    vectors are normalized once, each row takes its nearest list (argmax
    against the centroid matrix, as ``similarity._assign_udf``) and is
    residual-encoded against that list's centroid — one Python runner.
    Clustered by list for the ``list_id=`` partitioned write."""

    @F.pandas_udf("list_id long, codes array<int>")
    def enc(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"list_id": pd.Series([], dtype="int64"),
                                 "codes": pd.Series([], dtype="object")})
        x = _normalize(_vectors(vs))
        lists = np.argmax(x @ cmat.T, axis=1)
        return pd.DataFrame({"list_id": lists.astype(np.int64),
                             "codes": list(_assign_codes(x - cmat[lists], books))})

    return (
        batch.select(F.col(id_col), enc(F.col(vec_col)).alias("e"))
        .select(id_col, "e.list_id", "e.codes")
        .repartition(max(1, len(cmat) // 4), F.col("list_id"))
    )


def ivfpq_index_write(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 3,
    sample_per_code: int = 64,
) -> None:
    """Build a persisted IVF-PQ index: ``{path}/codes`` = (id, codes)
    parquet PARTITIONED BY list_id, ``{path}/centroids`` = the coarse
    quantizer, ``{path}/books`` = residual codebooks. Training cost is two
    bounded sample collects (centroids, residual codebooks) + one lazy
    Arrow pass over the corpus that assigns and encodes — never an
    iteration over it."""
    from .similarity import ivf_assign

    centroids_df = ivf_assign(corpus, n_centroids, id_col, vec_col, n_iters)[1]
    spark = corpus.sparkSession
    cmat = _centroid_matrix(centroids_df)[1]
    # residual codebooks: sample assigned driver-side against the same
    # centroids the corpus pass uses — identical argmax, so sample residuals
    # are distributed like corpus residuals
    smat = _hash_min_sample(corpus, max(k, k * sample_per_code), id_col, vec_col)
    sres = smat - cmat[np.argmax(smat @ cmat.T, axis=1)]
    books = _subspace_books(sres, m, k, n_iters)
    _ivfpq_codes(corpus, cmat, books, id_col, vec_col).write.partitionBy(
        "list_id").mode("overwrite").parquet(f"{path}/codes")
    centroids_df.write.mode("overwrite").parquet(f"{path}/centroids")
    _write_books(spark, books, path)


def _load_ivfpq(spark, path: str) -> tuple[np.ndarray, np.ndarray]:
    cmat = _centroid_matrix(spark.read.schema(_CENTROIDS).parquet(f"{path}/centroids"))[1]
    return cmat, pq_read_books(spark, path)


def _ivfpq_block(side, pdf: pd.DataFrame):
    """Score function of ``ivfpq_topk``: ``qc[query, list] + adc`` over the
    batch's codes (column 1) and list ids (column 2), added like the JVM
    ``qc + aggregate(…)``."""
    luts, qc = side
    adc = _adc_block((luts, None), pdf)
    lists = pdf.iloc[:, 2].to_numpy()
    return lambda q, r: qc[q, lists[r]] + adc(q, r)


def ivfpq_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    oversample: int = 1,
    refine: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k against a persisted IVF-PQ index. The query batch is
    collected once (bounded at ``similarity._MAX_DRIVER_QUERIES``; past it
    this raises).
    Probes, the ``(n_queries, n_lists)`` q·centroid matrix and the
    ``(m, n_queries, k)`` LUTs are computed driver-side and broadcast; the
    posting-list scan reads ONLY the probed ``list_id=`` partitions and
    moves codes, never vectors, and ``similarity._block_topk`` scores each
    row only for the queries that probe its list. With ``refine`` (a
    DataFrame carrying the raw vectors) the ADC top ``k × oversample``
    candidates are exactly re-ranked by cosine (``similarity._refine``);
    without it the ADC scores rank directly. Returns (query_id,
    neighbor_id, score)."""
    cmat, books = _load_ivfpq(spark, path)
    qids, qmat = _collect_queries(queries, id_col, vec_col, "ivfpq_topk")
    qids = qids.cast(pa.int64())
    qn = _normalize(qmat)
    qc = qn @ cmat.T  # (n_queries, n_lists)
    q, probed = _probe(qc, np.arange(len(cmat)), n_probe)
    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("list_id").isin(np.unique(probed).tolist())  # partition-pruned scan
    )
    topn = _block_topk(
        codes.select(id_col, "codes", "list_id", F.array("list_id").alias("keys")), id_col, qids,
        (_luts(qn, books), qc), k * (oversample if refine is not None else 1),
        _ivfpq_block, "score", probes=(q, probed),
    )
    if refine is None:
        return topn
    return _refine(refine, id_col, vec_col, qids, qmat, topn, k, "score")
