"""Tombstone expiry and bucket-count rescale maintenance ops."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_sync_tool_spark.datagen import changelog_stream
from data_sync_tool_spark.operators.dedupe import replay_final_state
from data_sync_tool_spark.sources.lake import LakeTable


@pytest.fixture(scope="module")
def ch(spark):
    return changelog_stream(spark, 600, n_convs=15, max_turns=8, num_partitions=4).cache()


def test_expire_tombstones(spark, ch, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4,
                  checksum=False)
    t.merge_into(ch, batch_id="all")
    n_tomb = t.read(include_deleted=True).filter("_deleted").count()
    assert n_tomb > 0
    live_before = t.read().count()
    # expire tombstones older than half the stream
    t.expire_tombstones(older_than_lsn=300)
    remaining = t.read(include_deleted=True).filter("_deleted")
    assert remaining.filter(F.col("_lsn") < 300).count() == 0
    assert remaining.count() < n_tomb
    assert t.read().count() == live_before  # live rows untouched
    # a late OLDER insert for a GC'd key now resurrects — the documented
    # retention contract: only expire past the source's replay horizon
    assert t.lineage()[-1]["op"] == "expire_tombstones"


def test_rescale_preserves_state_and_pruning(spark, ch, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4,
                  checksum=True)
    t.merge_into(ch.filter(F.col("lsn") < 400), batch_id="a")
    chk = t.lineage()[-1]["table_checksum"]
    t.rescale(16)
    assert t.n_buckets == 16
    assert t.lineage()[-1]["table_checksum"] == chk  # same live data
    m = t._load_manifest()
    assert len(m["buckets"]) > 4  # physically re-bucketed
    # a NEW handle picks the bucket count up from the manifest, and merges
    # keep converging after the rescale
    t2 = LakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4,
                   checksum=False)
    assert t2.n_buckets == 16
    t2.merge_into(ch.filter(F.col("lsn") >= 400), batch_id="b")
    expect = replay_final_state(ch, ["conv_id", "turn_idx"])
    got = t2.read().drop("_lsn")
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_read_as_of_timestamp_and_age_based_vacuum(spark, tmp_path):
    import time as _time

    from data_sync_tool_spark.sources.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    df1 = spark.createDataFrame([("a", 1, 1, "upsert")],
                                "k string, v int, lsn long, op string")
    t.merge_into(df1, "b0")
    _time.sleep(0.05)
    mid = _time.time()
    _time.sleep(0.05)
    df2 = spark.createDataFrame([("a", 2, 2, "upsert")],
                                "k string, v int, lsn long, op string")
    t.merge_into(df2, "b1")
    # as-of between the commits serves version 1; as-of now serves latest
    assert t.read(as_of=mid).first().v == 1
    assert t.read(as_of=_time.time()).first().v == 2
    assert t.version_as_of(mid) == 1
    with pytest.raises(ValueError, match="younger"):
        t.version_as_of(mid - 3600)
    with pytest.raises(ValueError, match="not both"):
        t.read(version=1, as_of=mid)
    # age-based retention: a wide window keeps everything...
    r = t.vacuum(older_than_seconds=3600)
    assert r["removed_manifests"] == 0 and t.read(version=1).first().v == 1
    # ...a zero window expires all but the live version
    r = t.vacuum(older_than_seconds=0)
    assert r["removed_manifests"] == 1
    with pytest.raises(ValueError, match="expired"):
        t.read(version=1)
    assert t.read().first().v == 2


def test_history_surfaces_commit_timestamps(spark, tmp_path):
    import time as _time

    from data_sync_tool_spark.sources.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    before = _time.time()
    t.merge_into(spark.createDataFrame([("a", 1, 1, "upsert")],
                                       "k string, v int, lsn long, op string"), "b0")
    rec = t.history().collect()[0]
    assert before <= rec.committed_at <= _time.time()
    assert t.lineage()[0]["committed_at"] == rec.committed_at

def test_point_lookup_follows_manifest_bucket_count_after_rescale(spark, ch, tmp_path):
    """A long-lived handle probing read(keys=...) after ANOTHER process
    rescale()d the table must bucket the probe keys with the manifest's
    bucket count, not its constructor-cached one — hash-bucket pruning is
    not conservative under a stale count (wrong bucket = silent misses)."""
    path = str(tmp_path / "t")
    stale = LakeTable(spark, path, ["conv_id", "turn_idx"], n_buckets=4,
                      merge_mode="mor")
    stale.merge_into(ch, batch_id="b0")
    want = {
        (r.conv_id, r.turn_idx, r.text)
        for r in stale.read(keys=["conv-1", "conv-7"]).collect()
    }
    assert want  # probe keys exist in the fixture
    other = LakeTable(spark, path, ["conv_id", "turn_idx"], n_buckets=4,
                      merge_mode="mor")
    other.rescale(16)
    assert stale.n_buckets == 16  # the handle reads the manifest, never a cache
    got = {
        (r.conv_id, r.turn_idx, r.text)
        for r in stale.read(keys=["conv-1", "conv-7"]).collect()
    }
    assert got == want


_KV = "k string, v string, op string, lsn long"
_ALL = [f"k{i:02d}" for i in range(40)]


def _load_40(spark):
    return spark.createDataFrame([(k, "v1", "insert", i) for i, k in enumerate(_ALL)], _KV)


def _update_14(spark):
    return spark.createDataFrame(
        [(k, "v2", "update", 100 + i) for i, k in enumerate(_ALL[:14])], _KV
    )


def _assert_40_keys_converged(t):
    """One row per key with the 14 updates applied, and a point lookup of
    all 40 keys (hash-bucket pruning) serves exactly the full scan."""
    scan = sorted((r.k, r.v) for r in t.read().collect())
    assert len(scan) == 40 and len({k for k, _ in scan}) == 40
    assert scan == sorted([(k, "v2") for k in _ALL[:14]] + [(k, "v1") for k in _ALL[14:]])
    assert sorted((r.k, r.v) for r in t.read(keys=_ALL).collect()) == scan


@pytest.mark.parametrize("strategy,merge_mode", [
    ("upsert", "cow"), ("upsert", "mor"), ("delete_insert", "cow"), ("collapse", "mor"),
])
def test_stale_handle_merges_under_the_manifest_bucket_count(
    spark, tmp_path, strategy, merge_mode
):
    """A handle opened before another process rescale()d the table must
    bucket its merge with the manifest's count: under the old count a
    rewrite misses each key's old row (duplicates) and point lookups prune
    to the wrong buckets."""
    path = str(tmp_path / "t")
    a = LakeTable(spark, path, ["k"], n_buckets=4, merge_mode=merge_mode)
    a.merge_into(_load_40(spark), "load", strategy=strategy)
    LakeTable(spark, path, ["k"], n_buckets=4, merge_mode=merge_mode).rescale(16)
    a.merge_into(_update_14(spark), "b1", strategy=strategy)
    fresh = LakeTable(spark, path, ["k"], merge_mode=merge_mode)
    _assert_40_keys_converged(fresh)
    assert fresh._load_manifest()["n_buckets"] == 16
    fresh.compact()
    _assert_40_keys_converged(fresh)


def test_rollback_past_rescale_restores_the_bucket_count(spark, tmp_path):
    """Rolling back past a rescale reinstates files bucketed by the old
    count, so the old count is what the manifest must carry — and a
    handle opened after the rescale must merge under it."""
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, ["k"], n_buckets=4, merge_mode="mor")
    t.merge_into(_load_40(spark), "load")
    v_before = t.current_version()
    t.rescale(16)
    after = LakeTable(spark, path, ["k"], merge_mode="mor")
    t.rollback(v_before)
    after.merge_into(_update_14(spark), "b1")
    fresh = LakeTable(spark, path, ["k"], merge_mode="mor")
    _assert_40_keys_converged(fresh)
    assert fresh._load_manifest()["n_buckets"] == 4
