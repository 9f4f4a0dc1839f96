"""Benchmark decontamination — drop training documents that share any token
n-gram with an evaluation/benchmark set (the standard pretraining hygiene
step: GPT-3 appendix C, Llama "n-gram overlap" filtering). Part of the
LLM-training-data suite layered on the reference's query engine; the
reference (free4ages/data-sync-tool) has no counterpart operator.

Scale shape (100 TB corpus, small eval sets):

- Gram extraction is pure codegen HOFs on the string column
  (``split → filter → transform(slice) → array_distinct``) — pipelines
  inside the scan, no Python, no per-token row explosion until the single
  ``explode`` that feeds the join.
- The benchmark side reduces to a DISTINCT-gram set (eval suites are
  thousands of docs → at most a few million grams) and is **broadcast**:
  the training corpus is filtered by a broadcast hash join and is never
  shuffled. Contaminated-id sets (bounded by the benchmark size) broadcast
  back for the anti-join, so ``decontaminate`` costs one corpus scan.

Tokenization matches :func:`operators.corpus.tokenize` (lowercase,
non-[0-9a-z] → space) so gram text is engine-reproducible byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _tokens(text_col: Column) -> Column:
    return F.filter(
        F.split(F.regexp_replace(F.lower(text_col), "[^0-9a-z]", " "), " "),
        lambda x: x != "",
    )


def _gram_windows(toks: Column, n: int, distinct: bool = True) -> Column:
    """Sliding n-gram windows over a token-ARRAY column (distinct by
    default; ``distinct=False`` keeps every occurrence, for frequency
    signals like repetition stats). ``toks`` must be a bound column (not a
    composite expression): Catalyst does not CSE subexpressions inside the
    ``transform`` lambda, so an inline tokenize would re-run the regex
    split once per window — measured 4.7× slower at sf0.1. Callers project
    the token array first."""
    idx = F.when(F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return F.array_distinct(grams) if distinct else grams


def doc_ngrams(
    df: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, gram) — one row per distinct token n-gram per document. The
    token array is projected once, then windowed (no per-gram re-tokenize)."""
    if n < 1:
        raise ValueError("require n >= 1")
    from .dedup_suite import _ensure_parallelism

    staged = _ensure_parallelism(df).select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("_toks")
    )
    return staged.select(
        "id", F.explode(_gram_windows(F.col("_toks"), n)).alias("gram")
    )


def benchmark_grams(
    bench: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The benchmark's global DISTINCT gram set — the broadcast probe side.
    Materialize once per eval suite and reuse across corpus snapshots."""
    return doc_ngrams(bench, n, text_col, id_col).select("gram").dropDuplicates()


def contamination_hits(
    train: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_hit_grams) for every training doc sharing ≥1 token n-gram with
    the benchmark set; ``n_hit_grams`` counts the doc's distinct overlapping
    grams (audit signal: 1 ≈ coincidence at small n, tens ≈ verbatim leak)."""
    bg = benchmark_grams(bench, n, text_col, id_col)
    return (
        doc_ngrams(train, n, text_col, id_col)
        .join(F.broadcast(bg), "gram")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The training corpus minus contaminated docs — one scan of ``train``
    for gram probing plus one for the anti-join; the contaminated-id set
    (≤ benchmark reach) broadcasts, so the corpus is never shuffled."""
    hits = contamination_hits(train, bench, n, text_col, id_col).select(
        F.col("id").alias(id_col)
    )
    return train.join(F.broadcast(hits), id_col, "left_anti")
