"""Corpus-level term statistics — vocabulary, document frequency, TF-IDF
keyword extraction, and deterministic hash sampling.

The reference's transform surface stops at per-row scalar functions
(``/root/reference/core/transform.py``); a training-data pipeline also needs
corpus-level text statistics: which terms dominate, what characterizes a
document against the corpus, and how to carve reproducible subsets. All hot
paths here are built-in-expression compositions (explode → hash aggregate,
map-side combined) — zero per-row Python — and every function is designed to
be reproducible in ANSI SQL so the DuckDB oracle can verify it bit-for-bit.

Scale shape at 100 TB:
- ``tokenize`` is a projection + explode — as parallel as the input scan,
  no shuffle.
- ``vocabulary`` is ONE hash aggregate on the token key: ``doc_freq`` uses
  the (token, doc) dedup-then-count pattern expressed as two partial-
  aggregable steps, never ``collect_set``.
- ``tfidf_keywords`` joins the exploded tokens against the (small) vocabulary
  on the token key; the per-doc top-k is a window over (doc) — bounded state,
  skew equals the longest single document, not the corpus.
- ``hash_sample`` is a pure filter — pushed into the scan, samples the same
  rows on any cluster size and any partitioning (unlike ``df.sample``, whose
  output depends on partition layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashes import rowhash_int32, rowhash_md5


def tokenize(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, token) — one row per token occurrence.

    Normalization: lowercase, every non-[0-9a-z] character becomes a space,
    split on single spaces, empty tokens dropped. Deliberately the simplest
    scheme expressible identically in Spark and DuckDB
    (``regexp_replace(lower(text), '[^0-9a-z]', ' ', 'g')`` + string_split).
    """
    from .dedup_suite import _ensure_parallelism

    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^0-9a-z]", " ")
    # fan small inputs out to the session parallelism BEFORE the per-row
    # regex+explode (a 1-2-split parquet read otherwise runs the whole
    # tokenize pass on 1-2 cores); no-op on well-split inputs
    return (
        _ensure_parallelism(df)
        .select(F.col(id_col), F.explode(F.split(norm, " ")).alias("token"))
        .filter(F.col("token") != "")
    )


def vocabulary(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(token, doc_freq, term_freq) over the whole corpus.

    ``term_freq`` = total occurrences; ``doc_freq`` = number of distinct
    documents containing the token. Both are computed in one pass: a first
    (token, doc) aggregate collapses per-doc occurrences (partial map-side
    combine does the heavy lifting inside each scan task), then one token
    aggregate counts docs and sums occurrences. No ``count_distinct`` row
    expansion, no ``collect_set`` memory spike on stopword-scale tokens.
    """
    per_doc = (
        tokenize(df, text_col, id_col)
        .groupBy("token", id_col)
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return per_doc.groupBy("token").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.sum("_n").alias("term_freq"),
    )


def tfidf_keywords(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    scratch_dir: str | None = None,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by smoothed TF-IDF:
    (id, token, tf, tfidf_r6) with ``tfidf = tf * ln((N + 1) / (doc_freq
    + 1))``, rounded to 6 decimals for cross-engine float stability.

    Ties break deterministically (higher tfidf, then token ascending).

    The (id, token, tf) aggregate is consumed three times (corpus size N,
    the vocabulary branch, and the scoring join), so it is snapshotted to
    parquet ONCE — the corpus text is scanned exactly once, the three
    consumers read the far smaller aggregate (same policy as
    ``operators/graph.connected_components``: a parquet round-trip of slim
    intermediate state beats re-executing the wide upstream plan).
    ``scratch_dir`` must be executor-reachable on a real cluster (HDFS/S3);
    defaults to a driver-local temp dir, correct for local mode.
    """
    import tempfile

    toks = tokenize(df, text_col, id_col)
    root = scratch_dir or tempfile.mkdtemp(prefix="dst_tfidf_")
    spark = df.sparkSession
    toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf")).write.mode(
        "overwrite"
    ).parquet(f"{root}/per_doc")
    per_doc = spark.read.parquet(f"{root}/per_doc")
    vocab = per_doc.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    # exact doc count from the (already aggregated, small) per-doc table —
    # documents with zero tokens drop out of N in BOTH engines identically
    n_docs = per_doc.select(id_col).distinct().count()
    scored = per_doc.join(vocab, "token").select(
        id_col,
        "token",
        "tf",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs + 1)) / (F.col("doc_freq") + F.lit(1))),
            6,
        ).alias("tfidf_r6"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf_r6").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def unigram_cross_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scratch_dir: str | None = None,
) -> DataFrame:
    """Per-document unigram cross-entropy against the corpus's own unigram
    LM — the classic perplexity-style quality filter (KenLM-shaped, one
    order lower): ``ce = -avg over doc tokens of ln(term_freq(token) /
    total_tokens)``. Boilerplate and keyword-stuffed documents score LOW
    (common tokens), lexically-rich text scores high; both tails are
    filter candidates. Returns (id, n_tokens, ce_r6), empty-token docs
    dropped (no tokens to score).

    Scale shape: the exploded (id, token) stream is aggregated once into
    per-doc counts and snapshotted (same single-scan policy as
    :func:`tfidf_keywords`); the LM itself is the (small) token-frequency
    table, joined back on the token key. The stopword-skew of that join is
    harmless: the heavy tokens fan out to many docs, and the final per-doc
    aggregate partial-combines map-side.
    """
    import tempfile

    root = scratch_dir or tempfile.mkdtemp(prefix="dst_uce_")
    spark = df.sparkSession
    tokenize(df, text_col, id_col).groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf")
    ).write.mode("overwrite").parquet(f"{root}/per_doc")
    per_doc = spark.read.parquet(f"{root}/per_doc")
    lm = per_doc.groupBy("token").agg(F.sum("tf").alias("term_freq"))
    total = lm.agg(F.sum("term_freq")).first()[0]
    scored = per_doc.join(lm, "token").select(
        id_col,
        "tf",
        (F.col("tf") * -F.log(F.col("term_freq") / F.lit(float(total)))).alias("_nll"),
    )
    return scored.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        F.round(F.sum("_nll") / F.sum("tf"), 6).alias("ce_r6"),
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document within-doc repetition signals — the Gopher/MassiveText
    quality-filter family (Rae et al. 2021 §A1.1: "fraction of characters in
    the most common n-gram", "fraction of duplicate ..."):

    - ``n_tokens``, ``dup_tok_frac_r6`` = 1 − distinct/total tokens (high →
      keyword stuffing / stutter loops);
    - ``top_bigram``, ``top_bigram_frac_r6`` = the most frequent token
      bigram and its share of all bigram occurrences (high → boilerplate /
      template text). Ties break deterministically to the lexicographically
      largest bigram. Docs with <2 tokens carry NULL bigram columns; docs
      with 0 tokens are dropped (nothing to score).

    Scale shape: two exploded streams (tokens, bigram windows), each
    collapsed by partial-combining per-doc aggregates; the bigram argmax is
    a struct-max aggregate (no per-doc sort, no window). Token windowing
    happens on a pre-projected token array (see decontam._gram_windows).
    """
    from .decontam import _gram_windows, _tokens
    from .dedup_suite import _ensure_parallelism

    tok_stats = (
        tokenize(df, text_col, id_col)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_distinct("token").alias("n_distinct"),
        )
    )
    staged = _ensure_parallelism(df).select(
        F.col(id_col), _tokens(F.col(text_col)).alias("_toks")
    )
    bigrams = staged.select(
        id_col, F.explode(_gram_windows(F.col("_toks"), 2, distinct=False)).alias("gram")
    )
    per_gram = bigrams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    top = (
        per_gram.groupBy(id_col)
        .agg(
            F.max(F.struct(F.col("c"), F.col("gram"))).alias("_top"),
            F.sum("c").alias("_tot"),
        )
        .select(
            id_col,
            F.col("_top.gram").alias("top_bigram"),
            F.round(F.col("_top.c") / F.col("_tot"), 6).alias("top_bigram_frac_r6"),
        )
    )
    return tok_stats.join(top, id_col, "left").select(
        id_col,
        "n_tokens",
        F.round(F.lit(1) - F.col("n_distinct") / F.col("n_tokens"), 6).alias(
            "dup_tok_frac_r6"
        ),
        "top_bigram",
        "top_bigram_frac_r6",
    )


def hash_sample(
    df: DataFrame,
    key_cols: list[str],
    numerator: int,
    denominator: int = 1000,
    remainder: int = 0,
) -> DataFrame:
    """Deterministic, engine-independent sample: keep rows whose md5-prefix
    key hash lands in ``[remainder, remainder + numerator)`` mod
    ``denominator`` — e.g. ``numerator=10, denominator=1000`` ≈ a 1% sample.

    Unlike ``DataFrame.sample`` the result is a pure function of the key
    values: stable across cluster sizes, partitionings, and engines (DuckDB
    reproduces it exactly via the same md5-prefix arithmetic), and disjoint
    ``remainder`` slots partition the corpus into non-overlapping folds —
    the train/validation-split primitive. The filter is a scan-level
    predicate; no shuffle, no extra pass.
    """
    if not 0 < numerator <= denominator:
        raise ValueError("require 0 < numerator <= denominator")
    if not 0 <= remainder < denominator:
        raise ValueError("require 0 <= remainder < denominator")
    slot = (rowhash_int32(*key_cols) + F.lit(denominator - remainder)) % F.lit(denominator)
    return df.filter(slot < numerator)


def stratified_hash_sample(
    df: DataFrame,
    key_cols: list[str],
    stratum_col: str,
    rates: dict[str, int],
    denominator: int = 1000,
    default: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus *mixing-weight*
    primitive: keep ``rates[stratum] / denominator`` of each stratum (e.g.
    upsample high-quality sources, downsample boilerplate domains), hashing
    the same md5-prefix slot as :func:`hash_sample` so per-stratum samples
    are stable, engine-independent, and composable with fold remainders.
    Strata absent from ``rates`` keep ``default / denominator``. Still a pure
    scan-level filter: no shuffle, no per-stratum passes.
    """
    for s, n in rates.items():
        if not 0 <= n <= denominator:
            raise ValueError(f"rate for stratum {s!r} outside [0, {denominator}]")
    if not 0 <= default <= denominator:
        raise ValueError("default rate outside range")
    # flat map literal, not chained when(): constant-depth expression tree
    # regardless of stratum count (the lang_id lesson — Catalyst analysis
    # cost tracks tree size)
    entries = [x for s, n in rates.items() for x in (F.lit(s), F.lit(n))]
    rate = (
        F.coalesce(
            F.element_at(F.create_map(*entries), F.col(stratum_col)),
            F.lit(default),
        )
        if entries
        else F.lit(default)
    )
    slot = rowhash_int32(*key_cols) % F.lit(denominator)
    return df.filter(slot < rate)


def group_cap(
    df: DataFrame,
    group_col: str,
    key_cols: list[str],
    cap: int,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen deterministically by the
    engine-independent md5 key hash — the per-domain/per-source QUOTA step
    of C4/RefinedWeb-style corpus pipelines (no single domain may dominate
    the training mix). Selection is a pure function of (group, keys):
    stable across partitionings and engines, and monotone in ``cap`` —
    raising a quota only ADDS rows, it never swaps the already-selected
    ones (the same nesting property as :func:`hash_sample`, so tuned
    quotas produce incremental, not churned, corpora).

    Scale shape: the ``row_number() <= cap`` filter compiles to Spark's
    ``WindowGroupLimit`` physical node (SPARK-37099) — each map task keeps
    a bounded top-``cap`` heap per group BEFORE the shuffle, so the
    exchange moves O(groups × cap) rows per task, not the whole corpus,
    and a hot domain never materializes beyond ``cap`` rows per task
    (plan-shape pytest-pinned).
    """
    if cap < 1:
        raise ValueError("cap must be >= 1")
    w = Window.partitionBy(group_col).orderBy(
        rowhash_int32(*key_cols), *[F.col(c) for c in key_cols]
    )
    return (
        df.withColumn("_gc_rn", F.row_number().over(w))
        .filter(F.col("_gc_rn") <= cap)
        .drop("_gc_rn")
    )


def shuffle_shards(
    df: DataFrame,
    key_cols: list[str],
    n_shards: int,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle + sharding — the "randomize the corpus
    and cut it into N training shards" step before sequence packing. Adds
    ``shard`` (which of the ``n_shards`` a row lands in) and ``pos`` (the
    row's 1-based position within its shard); reading shards 0..N-1 in
    position order yields a pseudo-random permutation of the corpus that is
    a pure function of (keys, salt): stable across cluster sizes,
    partitionings, and engines, and re-saltable for a fresh epoch order.

    Scale shape: shard assignment is a scan-level expression; the only
    shuffle is the per-shard window (partition by ``shard``), whose state
    is one shard (corpus / n_shards rows) — pick ``n_shards`` so a shard
    fits a task (a 100 TB corpus at 10k shards → 10 GB sorts). No global
    single-partition window, no driver collect.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    h = rowhash_md5(*key_cols, F.lit(salt))
    shard = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % F.lit(n_shards)
    ).cast("int")
    out = df.withColumn("_ss_h", h).withColumn("shard", shard)
    w = Window.partitionBy("shard").orderBy(
        F.col("_ss_h"), *[F.col(c) for c in key_cols]
    )
    return out.withColumn("pos", F.row_number().over(w).cast("long")).drop("_ss_h")


def temperature_rates(
    counts: dict[str, int],
    alpha: float,
    target_frac: float,
    denominator: int = 1000,
) -> dict[str, int]:
    """Temperature-sampling mixing weights (the multilingual/multi-source
    formula: sample share ∝ count^alpha): given per-stratum corpus counts,
    return integer per-stratum keep-rates (out of ``denominator``) such
    that the expected TOTAL kept fraction is ``target_frac`` and stratum
    shares follow ``count^alpha``. ``alpha < 1`` flattens the mix
    (upsamples small sources relative to their natural share), ``alpha=1``
    reproduces the natural mix. Rates are floored (+1e-9 guard so exact
    integers do not flip on float error) and capped at ``denominator``;
    driver-side pure arithmetic over the tiny per-stratum count table.
    """
    if not counts:
        return {}
    total = sum(counts.values())
    z = sum(c ** alpha for c in counts.values())
    out = {}
    for s, c in counts.items():
        if c <= 0:
            out[s] = 0
            continue
        p = target_frac * total * (c ** alpha) / z / c  # per-row keep prob
        out[s] = min(denominator, int(p * denominator + 1e-9))
    return out


def temperature_mix(
    df: DataFrame,
    key_cols: list[str],
    stratum_col: str,
    alpha: float,
    target_frac: float,
    denominator: int = 1000,
) -> DataFrame:
    """Temperature-based corpus mixing end-to-end: ONE tiny aggregate over
    ``stratum_col`` (bounded by the number of sources) computes counts on
    the driver, :func:`temperature_rates` turns them into integer rates,
    and :func:`stratified_hash_sample` applies them as a scan-level filter
    — deterministic, engine-independent, and nested under the same hash
    slots as every other sampler (tuning ``alpha``/``target_frac`` only
    adds or removes rows per stratum, never churns the kept set).
    """
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(stratum_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rates = temperature_rates(counts, alpha, target_frac, denominator)
    return stratified_hash_sample(
        df, key_cols, stratum_col, rates, denominator, default=0
    )
