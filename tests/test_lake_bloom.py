"""Per-file key bloom filters (sources/lake.py ``bloom_filters=True``):
point-lookup file skipping within a bucket — the index zone maps cannot
provide for hash-random keys. Covers: bounded file opens, no false
negatives (every key's lookup ≡ the filtered full read), fp sanity on
absent keys, size folding, carry/recompute through compact, the
``build_blooms()`` backfill, LWW correctness under pruning, and the
bloom-less conservative path."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_sync_tool_spark.sources.lake import (
    _BLOOM_M_MAX,
    _BLOOM_M_MIN,
    LakeTable,
)

KEYS = ["conv_id", "turn_idx"]


def _events(spark, n_convs=120, turns=3, batches=6):
    """Deterministic upsert stream: ``batches`` disjoint conv cohorts."""
    per = n_convs // batches
    rows = [
        (f"conv{c:04d}", t, f"text-{c}-{t}", c * turns + t, c // per)
        for c in range(n_convs)
        for t in range(turns)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, lsn long, cohort int"
    ).withColumn("op", F.lit("upsert"))


def _ingest(spark, tmp_path, bloom=True, n_buckets=4, batches=6):
    ev = _events(spark, batches=batches)
    t = LakeTable(
        spark, str(tmp_path / "t"), KEYS, n_buckets=n_buckets,
        merge_mode="mor", bloom_filters=bloom,
    )
    for b in range(batches):
        t.merge_into(ev.filter(F.col("cohort") == b).drop("cohort"), batch_id=f"b{b}")
    return t


def _spy_read(t: LakeTable):
    opened: list[str] = []
    orig = t._read_files

    def spy(files, schema):
        opened.extend(files)
        return orig(files, schema)

    return opened, spy, orig


def test_point_lookup_opens_bounded_files(spark, tmp_path):
    """A keyed read must open only its bucket's bloom-positive files — far
    fewer than the table's files; with disjoint-cohort batches, exactly the
    delta files of the key's cohort (1 file) plus any fp."""
    t = _ingest(spark, tmp_path)
    m = t._load_manifest()
    all_files = t._files(m, None)
    assert all(
        "bloom" in m["file_stats"].get(f, {}) for f in all_files
    ), "every committed file carries a bloom"
    opened, spy, orig = _spy_read(t)
    t._read_files = spy  # type: ignore[method-assign]
    try:
        got = t.read(keys=["conv0013"]).collect()
    finally:
        t._read_files = orig  # type: ignore[method-assign]
    # bucket pruning alone would give len(all)/n_buckets ≈ 6 files; the
    # bloom cuts that to the one delta file holding the conv (± rare fp)
    assert 1 <= len(opened) <= 2, (len(opened), len(all_files))
    assert len(got) == 3  # all three turns
    full = t.read().filter(F.col("conv_id") == "conv0013").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, full))


def test_no_false_negatives_every_key(spark, tmp_path):
    """Bloom pruning must never lose a key: for a sample of every cohort,
    keyed read ≡ filtered full read (rows AND values)."""
    t = _ingest(spark, tmp_path)
    probe = [f"conv{c:04d}" for c in range(0, 120, 7)]
    got = t.read(keys=probe).collect()
    full = t.read().filter(F.col("conv_id").isin(probe)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, full))
    assert len(got) == len(probe) * 3


def test_absent_keys_prune_to_nothing(spark, tmp_path):
    """Absent keys return 0 rows, and the ~1% fp target keeps file opens
    near zero across many probes."""
    t = _ingest(spark, tmp_path)
    opened, spy, orig = _spy_read(t)
    t._read_files = spy  # type: ignore[method-assign]
    try:
        absent = [f"ghost{i:04d}" for i in range(50)]
        for k in absent:
            assert t.read(keys=[k]).count() == 0
    finally:
        t._read_files = orig  # type: ignore[method-assign]
    # 50 probes × ~6 candidate files each at fp≈1% → expect ~3 fp opens;
    # assert well under the no-bloom baseline of ~300
    assert len(opened) < 30, len(opened)


def test_bloom_sizes_fold_to_row_count(spark, tmp_path):
    """Small files carry small blooms: sizes are pow2 in [M_MIN, M_MAX] and
    a 60-row delta file folds to the minimum size."""
    t = _ingest(spark, tmp_path)
    m = t._load_manifest()
    sizes = {
        st["bloom_m"] for st in m["file_stats"].values() if "bloom" in st
    }
    assert sizes == {_BLOOM_M_MIN}  # 60-row files → minimum bloom
    for s in sizes:
        assert _BLOOM_M_MIN <= s <= _BLOOM_M_MAX and s & (s - 1) == 0


def test_compact_rebuilds_blooms_and_pruning_survives(spark, tmp_path):
    t = _ingest(spark, tmp_path)
    t.compact()
    m = t._load_manifest()
    files = t._files(m, None)
    assert files and all("bloom" in m["file_stats"].get(f, {}) for f in files)
    got = t.read(keys=["conv0042"]).collect()
    assert len(got) == 3
    # post-compact each bucket is one base file: a lookup opens exactly 1
    opened, spy, orig = _spy_read(t)
    t._read_files = spy  # type: ignore[method-assign]
    try:
        t.read(keys=["conv0042"]).collect()
    finally:
        t._read_files = orig  # type: ignore[method-assign]
    assert len(opened) == 1


def test_lww_and_tombstones_correct_under_pruning(spark, tmp_path):
    """Out-of-order versions and deletes of a probed key resolve identically
    with and without keyed pruning."""
    t = LakeTable(
        spark, str(tmp_path / "t"), KEYS, n_buckets=4,
        merge_mode="mor", bloom_filters=True,
    )
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "conv_id string, turn_idx int, text string, lsn long, op string"
    )
    t.merge_into(mk([("a", 0, "v2", 20, "upsert"), ("b", 0, "live", 21, "upsert")]), "b0")
    t.merge_into(mk([("a", 0, "v1-late", 10, "upsert")]), "b1")  # late, loses LWW
    t.merge_into(mk([("b", 0, None, 30, "delete")]), "b2")
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read(keys=["a", "b"]).collect()}
    assert got == {("a", 0): "v2"}  # v2 wins, b deleted
    full = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert full == got


def test_build_blooms_backfills_existing_table(spark, tmp_path):
    """A table written without blooms reads keyed-correct (conservative) but
    opens every bucket file; ``build_blooms()`` indexes it in place."""
    t = _ingest(spark, tmp_path, bloom=False)
    m = t._load_manifest()
    assert not any("bloom" in st for st in m["file_stats"].values())
    opened, spy, orig = _spy_read(t)
    t._read_files = spy  # type: ignore[method-assign]
    try:
        before = t.read(keys=["conv0013"]).collect()
    finally:
        t._read_files = orig  # type: ignore[method-assign]
    assert len(before) == 3
    opens_without = len(opened)
    n = t.build_blooms()
    assert n == len(t._files(t._load_manifest(), None))
    assert t.build_blooms() == 0  # idempotent: nothing left to index
    opened2, spy2, orig2 = _spy_read(t)
    t._read_files = spy2  # type: ignore[method-assign]
    try:
        after = t.read(keys=["conv0013"]).collect()
    finally:
        t._read_files = orig2  # type: ignore[method-assign]
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    assert len(opened2) < opens_without
    # the metadata-only commit preserved exactly-once memory and watermarks
    assert "b5" in t.committed_batch_ids()


def test_keyed_read_composes_with_explicit_buckets_and_versions(spark, tmp_path):
    t = _ingest(spark, tmp_path)
    k = "conv0050"
    m = t._load_manifest()
    b = t._probe_keys([k], t._schema_of(m)["conv_id"].dataType, m["n_buckets"])[0][1]
    assert t.read(buckets=[b], keys=[k]).count() == 3
    # a bucket list NOT containing the key's bucket → empty (intersection)
    other = [x for x in range(4) if x != b]
    assert t.read(buckets=other, keys=[k]).count() == 0
    assert t.read(keys=[]).count() == 0
    # time travel: version pinned before the key's cohort landed
    v_after_b0 = 1
    assert t.read(version=v_after_b0, keys=["conv0119"]).count() == 0


def test_large_key_list_uses_semi_join(spark, tmp_path):
    """>512 keys switch from an IN chain to a broadcast semi-join; results
    stay exact."""
    t = _ingest(spark, tmp_path, batches=6)
    probe = [f"conv{c:04d}" for c in range(120)] + [
        f"ghost{i}" for i in range(500)
    ]
    got = t.read(keys=probe).count()
    assert got == 120 * 3


@pytest.fixture
def local_tz_not_utc(monkeypatch):
    """Run with the driver process's local time zone 5 h west of UTC: Spark
    reads a datetime without tzinfo as local time."""
    import time

    monkeypatch.setenv("TZ", "EST5")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_timestamp_keys_match_on_in_list_and_semi_join(spark, tmp_path, local_tz_not_utc):
    """Naive-datetime keys resolve to the same instants on every keyed-read
    path — the ≤512-key IN filter, the >512-key broadcast semi-join, and the
    bucket/bloom probe both use — when the local zone is not UTC."""
    import datetime as dt

    base = dt.datetime(2024, 1, 15, 8, 30)
    keys = [base + dt.timedelta(minutes=7 * i) for i in range(600)]
    t = LakeTable(
        spark, str(tmp_path / "t"), ["ts"], n_buckets=4,
        merge_mode="mor", bloom_filters=True,
    )
    t.merge_into(
        spark.createDataFrame(
            [(k, i, i) for i, k in enumerate(keys)], "ts timestamp, v long, lsn long"
        ).withColumn("op", F.lit("upsert")),
        batch_id="b0",
    )
    small = keys[:100]
    assert sorted(r["v"] for r in t.read(keys=small).collect()) == list(range(100))
    assert sorted(r["v"] for r in t.read(keys=keys).collect()) == list(range(600))
