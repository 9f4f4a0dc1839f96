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
  each subspace codebook. The corpus is encoded once (build-once /
  query-many — persist the codes, drop the vectors).
- **search (ADC)** runs in the flat top-k kernel shared with exact
  search (``similarity._block_topk``): each query's m×k lookup table of
  subvector·codeword dot products is built driver-side (numpy over the
  small query batch) and broadcast once as one ``(m, n_queries, k)``
  array; each Arrow batch of codes is scored by one numpy gather per
  subspace, every partition keeps its top k per query, and the
  per-query window merges those — no Python row loop, no shuffle of the
  corpus, no decode, no (query, code) pair rows. The executor-side LUT
  path for corpus-sized query sets (``distributed_luts=True``) keeps the
  JVM ``zip_with`` + ``aggregate`` join; both give equal doubles.

Vectors are L2-normalized before subspace split, so ADC inner product
approximates cosine (residual/OPQ rotations are out of scope).
Deterministic end to end: hash-min sample seeds, fixed iteration
count, no RNG — retrains are bit-stable, so tests can pin exact codes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .similarity import _MAX_DRIVER_QUERIES, _block_topk, _collect_queries, _topk_per_query


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


def _encode_udf(books_bc):
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _encode(vs: pd.Series) -> pd.Series:
        books = books_bc.value  # (m, k, dsub)
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        mat = _normalize(np.asarray(vs.tolist(), dtype=np.float64))
        m, k, dsub = books.shape
        codes = np.empty((len(mat), m), dtype=np.int32)
        for sub in range(m):
            x = mat[:, sub * dsub:(sub + 1) * dsub]
            # ||x-c||² = ||x||² − 2x·c + ||c||²; ||x||² is rank-constant
            d2 = -2.0 * (x @ books[sub].T) + (books[sub] ** 2).sum(axis=1)[None, :]
            codes[:, sub] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

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
    raw vectors."""
    bc = corpus.sparkSession.sparkContext.broadcast(
        np.asarray(books, dtype=np.float64)
    )
    return corpus.select(
        F.col(id_col), _encode_udf(bc)(F.col(vec_col)).alias(code_col)
    )


def _lut_udf(bc_books):
    """Arrow-batched LUT construction on the EXECUTORS — the distributed
    twin of the driver-side loop in pq_topk, for corpus-sized query sets."""

    @F.pandas_udf("array<array<double>>")
    def lut(v: pd.Series) -> pd.Series:
        books = bc_books.value  # (m, k, dsub)
        m, _, dsub = books.shape
        out = []
        for vec in v:
            q = np.asarray(vec, dtype=np.float64)
            q = q / max(float(np.linalg.norm(q)), 1e-12)
            out.append([
                [float(x) for x in q[s * dsub:(s + 1) * dsub] @ books[s].T]
                for s in range(m)
            ])
        return pd.Series(out)

    return lut


def _adc_block(luts: np.ndarray, codes: pd.Series):
    """Score function of ``pq_topk``'s kernel path: the ADC of a batch of
    codes against the broadcast ``(m, n_queries, k)`` LUTs, folded over
    subspaces from 0.0 like the JVM ``aggregate(zip_with(codes, lut, …))``
    (``0.0 + lut[0][c0] + lut[1][c1] + …``), so every double is equal."""
    c = np.stack(codes.to_numpy())

    def block(qs: slice) -> np.ndarray:
        acc = np.zeros((qs.stop - qs.start, len(c)))
        for sub in range(luts.shape[0]):
            acc += luts[sub, qs][:, c[:, sub]]
        return acc

    return block


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    books: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "codes",
    max_queries: int = _MAX_DRIVER_QUERIES,
    distributed_luts: bool = False,
    lut_slice_bytes: int = 64 << 20,
    max_lut_slices: int = 64,
) -> DataFrame:
    """(query_id, neighbor_id, adc) approximate top-k by asymmetric
    distance: the corpus side is the CODES table only. Each query's m×k
    LUT of subvector·codeword inner products is computed driver-side
    (queries are the small side) and broadcast once as one ``(m, n_q, k)``
    array; ``similarity._block_topk`` scores whole Arrow batches of codes
    with ``adc = Σ_sub lut[sub][code[sub]]`` (a numpy gather per subspace)
    and keeps each partition's top k per query — the hot path moves ~m
    ints per corpus row, never a vector, and no (query, code) pair row.

    The driver-side LUT build bounds the query batch at ``max_queries``
    (serving-sized; past it the collect itself is the bottleneck) and
    raises past the bound. For LARGER query sets pass
    ``distributed_luts=True``: LUTs are built executor-side by an
    Arrow-batched UDF and scored by a JVM join. The query set is
    hash-partitioned into slices whose LUT payload is *expected* to stay
    ≤ ``lut_slice_bytes`` under uniform hashing (not a hard cap; the
    budget counts LUT doubles only, not Spark's row and array overhead),
    and EACH slice joins with an explicit broadcast hint — the non-equi
    scoring join must always plan as a *Broadcast*NestedLoopJoin
    (plan-pinned); without the hint a LUT relation past the autoBroadcast
    size estimate silently degrades to a CartesianProduct with the corpus
    side replicated per partition pair. Each slice rescans the codes, so
    the corpus is read once per slice, and ``queries`` is evaluated
    n_slices + 1 times (a count, then once per slice): it must be
    deterministic — checkpoint it first if it is not. Past
    ``max_lut_slices`` slices (~4 GB of LUTs at the defaults) the flat
    all-pairs scan is the wrong tool and this raises, pointing at
    ``ivfpq_topk`` (bucketed, sub-all-pairs). Both paths score
    identically (pytest-pinned)."""
    books = np.asarray(books, dtype=np.float64)
    m, kk, dsub = books.shape
    spark = codes.sparkSession
    if not distributed_luts:
        qids, qmat = _collect_queries(
            queries, id_col, vec_col, max_queries, "pq_topk",
            "Pass distributed_luts=True (executor-side LUTs, no collect) or "
            "bucket with ivfpq_topk.",
        )
        qmat = _normalize(qmat)
        luts = np.empty((m, len(qmat), kk))
        for qi in range(len(qmat)):
            for sub in range(m):
                luts[sub, qi] = qmat[qi, sub * dsub:(sub + 1) * dsub] @ books[sub].T
        return _block_topk(
            codes.select(id_col, code_col), id_col, qids.cast(pa.int64()),
            luts, k, _adc_block, "adc",
        )

    n_q = queries.select(id_col).count()
    if n_q == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, adc double"
        )
    lut_bytes = m * kk * 8  # doubles per query LUT
    slice_rows = max(1, lut_slice_bytes // lut_bytes)
    n_slices = -(-n_q // slice_rows)
    if n_slices > max_lut_slices:
        raise ValueError(
            f"pq_topk(distributed_luts=True) would need {n_slices} "
            f"broadcast LUT slices for {n_q} queries "
            f"(> max_lut_slices={max_lut_slices}); a flat ADC scan at "
            f"this size is the wrong shape — use ivfpq_topk (bucketed) "
            f"or raise lut_slice_bytes/max_lut_slices deliberately."
        )
    bc = spark.sparkContext.broadcast(books)

    def _score(i: int) -> DataFrame:
        # deterministic hash slicing BELOW the LUT projection: the filter
        # prunes before the Arrow UDF, so LUT work totals one pass over the
        # queries across all slices
        sliced = queries if n_slices == 1 else queries.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_slices)) == F.lit(i)
        )
        qdf = F.broadcast(sliced.select(
            F.col(id_col).alias("query_id"),
            _lut_udf(bc)(F.col(vec_col)).alias("lut"),
        ))
        return (
            codes.select(F.col(id_col).alias("neighbor_id"), F.col(code_col))
            .join(qdf, F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    F.aggregate(
                        F.zip_with(
                            F.col(code_col),
                            F.col("lut"),
                            lambda c, lut: F.element_at(lut, c + F.lit(1)),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    6,
                ).alias("adc"),
            )
        )

    scored = _score(0)
    for i in range(1, n_slices):  # slices partition the query set: union is exact
        scored = scored.unionByName(_score(i))
    return _topk_per_query(scored, "adc", k)


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
    scan touches codes only), then ONLY those candidates re-attach their
    raw vectors for an exact cosine re-rank. At 10^10 vectors the exact
    stage reads k×oversample×|queries| vectors instead of the corpus —
    the refine join is the same slim candidates-then-attach shape as
    ``lsh_topk``. Returns (query_id, neighbor_id, cos)."""
    from ..functions.vectors import cosine_prenormed, norm

    cands = pq_topk(
        codes, queries, books, k=k * oversample, id_col=id_col,
        vec_col=vec_col, code_col=code_col,
    ).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    scored = cands.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id").select(
        "query_id", "neighbor_id",
        F.round(cosine_prenormed(F.col("qv"), F.col("cv"),
                                 F.col("qn"), F.col("cn")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


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
    / query-many, with the same incremental contract as the IVF index:
    codebooks are FROZEN at build time, so appended batches encode
    against them without touching existing codes."""
    books = pq_train(corpus, m, k, id_col, vec_col, n_iters)
    mm, kk, dsub = books.shape
    spark = corpus.sparkSession
    rows = [
        (sub, c, [float(x) for x in books[sub, c]])
        for sub in range(mm)
        for c in range(kk)
    ]
    spark.createDataFrame(
        rows, "sub int, code int, word array<double>"
    ).write.mode("overwrite").parquet(f"{path}/books")
    pq_encode(corpus, books, id_col, vec_col).write.mode("overwrite").parquet(
        f"{path}/codes"
    )


def pq_read_books(spark, path: str) -> np.ndarray:
    rows = spark.read.parquet(f"{path}/books").collect()
    if not rows:
        raise ValueError(f"no PQ codebooks at {path}/books")
    m = max(r["sub"] for r in rows) + 1
    k = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["word"])
    books = np.zeros((m, k, dsub), dtype=np.float64)
    for r in rows:
        books[r["sub"], r["code"]] = r["word"]
    return books


def pq_index_append(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Encode NEW vectors against the stored (frozen) codebooks and
    append to the codes table — O(batch), the corpus is never rescanned;
    append ≡ rebuilding the codes over corpus ∪ batch with the same
    codebooks (pytest-asserted)."""
    books = pq_read_books(batch.sparkSession, path)
    pq_encode(batch, books, id_col, vec_col).write.mode("append").parquet(
        f"{path}/codes"
    )


def pq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = _MAX_DRIVER_QUERIES,
    distributed_luts: bool = False,
    lut_slice_bytes: int = 64 << 20,
    max_lut_slices: int = 64,
) -> DataFrame:
    """ADC top-k against a persisted PQ index — reads codes only. Query
    batch bounds / distributed-LUT path as in :func:`pq_topk`."""
    books = pq_read_books(spark, path)
    codes = spark.read.parquet(f"{path}/codes")
    return pq_topk(codes, queries, books, k, id_col, vec_col,
                   max_queries=max_queries, distributed_luts=distributed_luts,
                   lut_slice_bytes=lut_slice_bytes,
                   max_lut_slices=max_lut_slices)


# ------------------------------------------------------------------- IVF-PQ
# The composed 10^10-vector serving shape (Jégou et al. §IV; FAISS
# IndexIVFPQ): coarse IVF partitioning bounds the scan to n_probe posting
# lists, PQ RESIDUAL codes (vector − its list centroid) bound the bytes per
# scanned row. ADC decomposes the inner product as
#   q·v ≈ q·c_list + Σ_sub lut_q[sub][code_sub],
# so each (query, probed list) pair needs one scalar (q·c) plus one m×k
# lookup table over the residual codebooks — both computed driver-side from
# the tiny centroid/query matrices and shipped on the broadcast side of the
# posting-list join. The corpus side moves m small ints per row, read from
# ONLY the probed list_id= partitions.


def _rescode_udf(books_bc, cmat_bc):
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def enc(vs: pd.Series, lists: pd.Series) -> pd.Series:
        books, cmat = books_bc.value, cmat_bc.value
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        mat = _normalize(np.asarray(vs.tolist(), dtype=np.float64))
        res = mat - cmat[lists.to_numpy(dtype=np.int64)]
        m, k, dsub = books.shape
        codes = np.empty((len(res), m), dtype=np.int32)
        for sub in range(m):
            x = res[:, sub * dsub:(sub + 1) * dsub]
            d2 = -2.0 * (x @ books[sub].T) + (books[sub] ** 2).sum(axis=1)[None, :]
            codes[:, sub] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return enc


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
    quantizer, ``{path}/books`` = residual codebooks. Training cost is one
    bounded sample collect + two lazy Arrow passes (assign, encode) over
    the corpus — never an iteration over it."""
    from .similarity import ivf_assign

    assigned, centroids_df = ivf_assign(
        corpus, n_centroids, id_col, vec_col, n_iters
    )
    spark = corpus.sparkSession
    crows = centroids_df.orderBy("list_id").collect()
    cmat = np.asarray([r["centroid"] for r in crows], dtype=np.float64)
    # residual codebooks: sample assigned driver-side against the same
    # centroids the corpus pass uses — identical argmax, so sample residuals
    # are distributed like corpus residuals
    smat = _hash_min_sample(corpus, max(k, k * sample_per_code), id_col, vec_col)
    sres = smat - cmat[np.argmax(smat @ cmat.T, axis=1)]
    books = _subspace_books(sres, m, k, n_iters)

    sc = spark.sparkContext
    enc = _rescode_udf(sc.broadcast(books), sc.broadcast(cmat))
    (
        assigned.select(
            F.col(id_col), F.col("list_id"),
            enc(F.col(vec_col), F.col("list_id")).alias("codes"),
        )
        .repartition(max(1, n_centroids // 4), F.col("list_id"))
        .write.partitionBy("list_id").mode("overwrite").parquet(f"{path}/codes")
    )
    centroids_df.write.mode("overwrite").parquet(f"{path}/centroids")
    mm, kk, dsub = books.shape
    spark.createDataFrame(
        [
            (sub, c, [float(x) for x in books[sub, c]])
            for sub in range(mm)
            for c in range(kk)
        ],
        "sub int, code int, word array<double>",
    ).write.mode("overwrite").parquet(f"{path}/books")


def _load_ivfpq(spark, path: str) -> tuple[np.ndarray, np.ndarray]:
    crows = spark.read.parquet(f"{path}/centroids").orderBy("list_id").collect()
    if not crows:
        raise ValueError(f"no IVF centroids at {path}/centroids")
    cmat = np.asarray([r["centroid"] for r in crows], dtype=np.float64)
    return cmat, pq_read_books(spark, path)


def ivfpq_index_append(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Assign + residual-encode NEW vectors against the FROZEN stored
    centroids/codebooks and append into the partitioned posting lists —
    O(batch), corpus never rescanned, append ≡ rebuild (pytest-pinned)."""
    from .similarity import _assign_udf

    spark = batch.sparkSession
    cmat, books = _load_ivfpq(spark, path)
    sc = spark.sparkContext
    assigned = batch.withColumn(
        "list_id",
        _assign_udf(cmat, np.arange(len(cmat), dtype=np.int64))(F.col(vec_col)),
    )
    enc = _rescode_udf(sc.broadcast(books), sc.broadcast(cmat))
    (
        assigned.select(
            F.col(id_col), F.col("list_id"),
            enc(F.col(vec_col), F.col("list_id")).alias("codes"),
        )
        .repartition(max(1, len(cmat) // 4), F.col("list_id"))
        .write.partitionBy("list_id").mode("append").parquet(f"{path}/codes")
    )


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
    max_queries: int = _MAX_DRIVER_QUERIES,
) -> DataFrame:
    """ADC top-k against a persisted IVF-PQ index. Probe selection and the
    per-(query, list) LUTs are computed driver-side from the tiny centroid
    matrix (n_queries × n_probe tables of m×k doubles) and broadcast; the
    posting-list scan reads ONLY the probed ``list_id=`` partitions and
    moves codes, never vectors. With ``refine`` (a DataFrame carrying the
    raw vectors) the ADC top ``k × oversample`` candidates are exactly
    re-ranked by cosine — the candidates-then-attach shape; without it the
    ADC scores rank directly. Returns (query_id, neighbor_id, score).

    The driver-side probe/LUT build bounds the query batch at
    ``max_queries`` and raises past it (a 10^6-query batch would be
    driver-bound here — split it, or score flat codes with
    ``pq_topk(distributed_luts=True)``)."""
    cmat, books = _load_ivfpq(spark, path)
    m, kk, dsub = books.shape
    q_rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"ivfpq_topk builds per-query probe lists and ADC LUTs "
            f"driver-side; got more than max_queries={max_queries} queries. "
            f"Split the query batch, or use pq_topk(distributed_luts=True)."
        )
    if not q_rows:
        return spark.createDataFrame([], "query_id long, neighbor_id long, score double")
    qmat = _normalize(np.asarray([r[vec_col] for r in q_rows], dtype=np.float64))
    qc = qmat @ cmat.T  # (n_queries, n_centroids)
    n_probe = min(n_probe, len(cmat))
    probe_rows = []
    for qi, row in enumerate(q_rows):
        # the LUT depends on (query, residual codebooks) only — one per query
        lut = [
            [float(x) for x in qmat[qi, sub * dsub:(sub + 1) * dsub] @ books[sub].T]
            for sub in range(m)
        ]
        # ties broken by list_id: argsort on (-score, list) via stable lexsort
        order = np.lexsort((np.arange(len(cmat)), -qc[qi]))[:n_probe]
        for lid in order:
            probe_rows.append((row[id_col], int(lid), float(qc[qi, lid]), lut))
    probes = spark.createDataFrame(
        probe_rows,
        "query_id long, list_id int, qc double, lut array<array<double>>",
    )
    probed = sorted({r[1] for r in probe_rows})
    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("list_id").isin(probed)  # partition-pruned scan
    )
    scored = (
        codes.select(F.col(id_col).alias("neighbor_id"), "codes", "list_id")
        .join(F.broadcast(probes), "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.col("qc")
                + F.aggregate(
                    F.zip_with(
                        F.col("codes"),
                        F.col("lut"),
                        lambda c, lut: F.element_at(lut, c + F.lit(1)),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("score"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    topn = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k * (oversample if refine is not None else 1))
        .drop("rn")
    )
    if refine is None:
        return topn
    from ..functions.vectors import cosine_prenormed, norm

    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    cv = refine.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    exact = (
        topn.select("query_id", "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            F.round(cosine_prenormed(F.col("qv"), F.col("cv"),
                                     F.col("qn"), F.col("cn")), 6).alias("score"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return exact.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") <= k).drop("rn")
