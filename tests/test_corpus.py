"""Corpus statistics operators (operators/corpus.py): tokenization edge
cases, vocabulary counts, TF-IDF keyword selection vs a hand-computed
fixture, and the determinism/fold-partition contract of hash_sample."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_sync_tool_spark.operators.corpus import (
    hash_sample,
    stratified_hash_sample,
    tfidf_keywords,
    tokenize,
    unigram_cross_entropy,
    vocabulary,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tokenize_normalizes_and_drops_empties(spark):
    df = _docs(spark, [(1, "Hello, WORLD!  hello"), (2, ""), (3, "--- !!")])
    got = sorted((r["doc_id"], r["token"]) for r in tokenize(df).collect())
    assert got == [(1, "hello"), (1, "hello"), (1, "world")]


def test_vocabulary_doc_and_term_freq(spark):
    df = _docs(spark, [(1, "a b a"), (2, "a c"), (3, "c c c")])
    got = {
        r["token"]: (r["doc_freq"], r["term_freq"])
        for r in vocabulary(df).collect()
    }
    assert got == {"a": (2, 3), "b": (1, 1), "c": (2, 4)}


def test_tfidf_keywords_hand_computed(spark):
    # 3 docs; 'common' in all → idf ln(4/4)=0; doc-unique terms dominate
    df = _docs(
        spark,
        [
            (1, "common rare1 rare1"),
            (2, "common rare2"),
            (3, "common midway"),
        ],
    )
    out = tfidf_keywords(df, k=1).collect()
    got = {r["doc_id"]: (r["token"], r["tf"], r["tfidf_r6"]) for r in out}
    idf_unique = round(2 * math.log(4 / 2), 6)
    assert got[1] == ("rare1", 2, idf_unique)
    assert got[2][0] == "rare2"
    assert got[3][0] == "midway"
    # 'common' scores exactly 0 everywhere, never beats a unique term
    assert all(tok != "common" for tok, _tf, _s in got.values())


def test_tfidf_ties_break_by_token(spark):
    df = _docs(spark, [(1, "zzz aaa"), (2, "other")])
    top = {r["doc_id"]: r["token"] for r in tfidf_keywords(df, k=1).collect()}
    assert top[1] == "aaa"  # equal tf and idf → lexicographic


def test_hash_sample_deterministic_across_partitioning(spark):
    df = spark.range(0, 5000).select(F.col("id").alias("k"))
    a = sorted(r["k"] for r in hash_sample(df.repartition(1), ["k"], 100).collect())
    b = sorted(r["k"] for r in hash_sample(df.repartition(16), ["k"], 100).collect())
    assert a == b
    assert 300 < len(a) < 700  # ~10% of 5000, md5 is uniform


def test_hash_sample_folds_partition_the_corpus(spark):
    df = spark.range(0, 2000).select(F.col("id").alias("k"))
    folds = [
        set(
            r["k"]
            for r in hash_sample(
                df, ["k"], numerator=250, denominator=1000, remainder=r0
            ).collect()
        )
        for r0 in (0, 250, 500, 750)
    ]
    assert sum(len(f) for f in folds) == 2000
    assert set().union(*folds) == set(range(2000))


def test_stratified_sample_is_per_stratum_hash_sample(spark):
    # the stratified sample of stratum s must equal hash_sample at s's rate
    # restricted to s — same hash slot, so samples compose and nest
    df = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("zh").alias("lang"),
    )
    got = stratified_hash_sample(
        df, ["k"], "lang", {"en": 400}, default=100
    )
    en = set(r["k"] for r in got.filter(F.col("lang") == "en").collect())
    zh = set(r["k"] for r in got.filter(F.col("lang") == "zh").collect())
    want_en = set(
        r["k"]
        for r in hash_sample(df.filter(F.col("lang") == "en"), ["k"], 400).collect()
    )
    want_zh = set(
        r["k"]
        for r in hash_sample(df.filter(F.col("lang") == "zh"), ["k"], 100).collect()
    )
    assert en == want_en and zh == want_zh
    # smaller rates nest inside larger ones (slot-prefix property): the 10%
    # sample is a subset of the 40% sample, so mixing weights can be tuned
    # without resampling from scratch
    small = set(r["k"] for r in hash_sample(df, ["k"], 100).collect())
    big = set(r["k"] for r in hash_sample(df, ["k"], 400).collect())
    assert small <= big


def test_stratified_sample_null_and_missing_strata_use_default(spark):
    df = spark.createDataFrame(
        [(i, None if i % 2 else "other") for i in range(1000)],
        "k long, lang string",
    )
    got = stratified_hash_sample(df, ["k"], "lang", {"en": 500}, default=0)
    assert got.count() == 0  # default 0 drops unknown AND null strata
    some = stratified_hash_sample(df, ["k"], "lang", {}, default=1000)
    assert some.count() == 1000


def test_stratified_sample_validates_rates(spark):
    df = spark.range(3).select(F.col("id").alias("k"), F.lit("en").alias("lang"))
    with pytest.raises(ValueError):
        stratified_hash_sample(df, ["k"], "lang", {"en": 1001})
    with pytest.raises(ValueError):
        stratified_hash_sample(df, ["k"], "lang", {}, default=-1)


def test_unigram_cross_entropy_hand_computed(spark, tmp_path):
    # LM over all docs: term_freq a=3 b=1 c=1, total=5; empty doc 3 dropped
    df = _docs(spark, [(1, "a b a"), (2, "a c"), (3, "")])
    got = {
        r["doc_id"]: (r["n_tokens"], r["ce_r6"])
        for r in unigram_cross_entropy(df, scratch_dir=str(tmp_path)).collect()
    }
    ce1 = -(2 * math.log(3 / 5) + math.log(1 / 5)) / 3
    ce2 = -(math.log(3 / 5) + math.log(1 / 5)) / 2
    assert set(got) == {1, 2}
    assert got[1][0] == 3 and got[2][0] == 2
    assert got[1][1] == pytest.approx(ce1, abs=1e-6)
    assert got[2][1] == pytest.approx(ce2, abs=1e-6)
    # boilerplate (all-common tokens) scores strictly lower than rare-heavy
    assert got[1][1] < got[2][1]


def test_repetition_stats_hand_computed(spark):
    from data_sync_tool_spark.operators.corpus import repetition_stats

    df = _docs(
        spark,
        [
            (1, "a b a b a"),   # tokens: 5, distinct 2; bigrams: ab,ba,ab,ba → tie 2/2 → 'b a'
            (2, "x y z"),       # no repetition; bigram tie 1/1 → 'y z'
            (3, "solo"),        # 1 token → NULL bigram columns
            (4, ""),            # 0 tokens → dropped
        ],
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["dup_tok_frac_r6"], r["top_bigram"], r["top_bigram_frac_r6"]
        )
        for r in repetition_stats(df).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == (5, 0.6, "b a", 0.5)
    assert got[2] == (3, 0.0, "y z", 0.5)
    assert got[3] == (1, 0.0, None, None)


def test_corpus_plans_stay_jvm_side(spark):
    """No Python-UDF nodes anywhere in the corpus operators' plans, and the
    hash_sample predicate sits in a plain Filter (scan-level, no shuffle)."""
    df = spark.createDataFrame([(1, "a b"), (2, "c d")], "doc_id long, text string")
    for plan_df in (
        vocabulary(df),
        tfidf_keywords(df, k=2),
        hash_sample(df, ["doc_id"], 100),
        stratified_hash_sample(df, ["doc_id"], "text", {"a b": 10}),
    ):
        plan = plan_df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    sampled = hash_sample(df, ["doc_id"], 100)
    assert "Exchange" not in sampled._jdf.queryExecution().executedPlan().toString()


def test_hash_sample_validates_params(spark):
    df = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        hash_sample(df, ["k"], 0)
    with pytest.raises(ValueError):
        hash_sample(df, ["k"], 1001, 1000)
    with pytest.raises(ValueError):
        hash_sample(df, ["k"], 10, 1000, remainder=1000)


def _cap_docs(spark):
    rows = [(i, f"s{i % 3}") for i in range(60)]  # 3 groups x 20
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_group_cap_bounds_and_nests(spark):
    from data_sync_tool_spark.operators.corpus import group_cap

    df = _cap_docs(spark)
    c5 = {r["doc_id"] for r in group_cap(df, "source", ["doc_id"], 5).collect()}
    c10 = {r["doc_id"] for r in group_cap(df, "source", ["doc_id"], 10).collect()}
    sizes = (
        group_cap(df, "source", ["doc_id"], 5)
        .groupBy("source").count().collect()
    )
    assert all(r["count"] == 5 for r in sizes) and len(sizes) == 3
    assert c5 < c10  # raising the quota only ADDS rows
    big = {r["doc_id"] for r in group_cap(df, "source", ["doc_id"], 100).collect()}
    assert len(big) == 60  # cap above group size keeps everything


def test_group_cap_deterministic_across_partitionings(spark):
    from data_sync_tool_spark.operators.corpus import group_cap

    df = _cap_docs(spark)
    a = sorted(r["doc_id"] for r in group_cap(df.repartition(2), "source", ["doc_id"], 7).collect())
    b = sorted(r["doc_id"] for r in group_cap(df.repartition(11), "source", ["doc_id"], 7).collect())
    assert a == b


def test_group_cap_uses_window_group_limit(spark):
    """The rank filter must compile to WindowGroupLimit: map-side bounded
    top-cap per group before the shuffle — a hot domain never materializes
    beyond cap rows per task."""
    from data_sync_tool_spark.operators.corpus import group_cap

    df = _cap_docs(spark)
    plan = (
        group_cap(df, "source", ["doc_id"], 5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan, plan


def test_group_cap_validates_cap(spark):
    from data_sync_tool_spark.operators.corpus import group_cap

    with pytest.raises(ValueError):
        group_cap(_cap_docs(spark), "source", ["doc_id"], 0)


# ----------------------------------------------------------- shuffle shards


def _shuffle_docs(spark, n=200):
    return spark.createDataFrame(
        [(f"d{i:04d}", f"s{i % 3}") for i in range(n)], "doc_id string, src string"
    )


def test_shuffle_shards_is_a_partition_of_the_corpus(spark):
    from data_sync_tool_spark.operators.corpus import shuffle_shards

    docs = _shuffle_docs(spark)
    out = shuffle_shards(docs, ["doc_id"], n_shards=4).collect()
    assert len(out) == 200
    assert {r.doc_id for r in out} == {f"d{i:04d}" for i in range(200)}
    # positions within each shard are exactly 1..shard_size
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(4))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_shuffle_shards_deterministic_and_salt_reorders(spark):
    from data_sync_tool_spark.operators.corpus import shuffle_shards

    docs = _shuffle_docs(spark)
    a = sorted(map(tuple, shuffle_shards(docs, ["doc_id"], 4).collect()))
    b = sorted(map(tuple, shuffle_shards(docs.repartition(13), ["doc_id"], 4).collect()))
    assert a == b  # pure function of keys — partitioning-independent
    c = sorted(map(tuple, shuffle_shards(docs, ["doc_id"], 4, salt="epoch2").collect()))
    assert a != c  # a fresh salt is a fresh permutation
    assert {t[0] for t in a} == {t[0] for t in c}


def test_shuffle_shards_validates(spark):
    from data_sync_tool_spark.operators.corpus import shuffle_shards

    with pytest.raises(ValueError):
        shuffle_shards(_shuffle_docs(spark), ["doc_id"], 0)


# ------------------------------------------------------- temperature mixing


def test_temperature_rates_alpha_one_is_uniform(spark):
    from data_sync_tool_spark.operators.corpus import temperature_rates

    r = temperature_rates({"a": 1000, "b": 10}, alpha=1.0, target_frac=0.3)
    assert r == {"a": 300, "b": 300}  # natural mix: every stratum keeps 30%


def test_temperature_rates_flatten_small_strata(spark):
    from data_sync_tool_spark.operators.corpus import temperature_rates

    r = temperature_rates({"big": 10000, "small": 2500}, alpha=0.5, target_frac=0.2)
    # alpha<1: the small stratum keeps a larger fraction of itself
    assert r["small"] > r["big"]
    # expected kept share of the mix follows count^alpha ratios (2:1 here)
    kept_big = r["big"] * 10000
    kept_small = r["small"] * 2500
    assert 1.8 < kept_big / kept_small < 2.2
    # a stratum whose ideal keep-prob exceeds 1 caps at the full stratum
    capped = temperature_rates({"big": 10000, "tiny": 100}, alpha=0.5, target_frac=0.2)
    assert capped["tiny"] == 1000
    assert temperature_rates({}, 0.5, 0.2) == {}
    assert temperature_rates({"z": 0}, 0.5, 0.2) == {"z": 0}


def test_temperature_mix_equals_manual_stratified_sample(spark):
    from data_sync_tool_spark.operators.corpus import (
        stratified_hash_sample,
        temperature_mix,
        temperature_rates,
    )

    docs = _shuffle_docs(spark, 300)
    got = temperature_mix(docs, ["doc_id"], "src", alpha=0.5, target_frac=0.4)
    counts = {r["src"]: r["n"] for r in docs.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    rates = temperature_rates(counts, 0.5, 0.4)
    want = stratified_hash_sample(docs, ["doc_id"], "src", rates)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert 0 < got.count() < 300
