"""Privacy erasure (``LakeTable.purge_keys``): hard-delete of every stored
row version of a key — bounded rewrite via bucket/bloom pruning, history
truncation via vacuum, and no trace left in any on-disk parquet file."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from data_sync_tool_spark.session import local_frame
from data_sync_tool_spark.sources.lake import LakeTable

KEYS = ["conv_id", "turn_idx"]


def _mk(spark, rows):
    return local_frame(
        spark, rows, "conv_id string, turn_idx int, text string, lsn long, op string"
    )


def _disk_values(table_path: str, column: str) -> set:
    """Every value of ``column`` in every parquet file under the table —
    the forensic check: erasure means the bytes are GONE, not hidden."""
    vals: set = set()
    for f in glob.glob(os.path.join(table_path, "**", "*.parquet"), recursive=True):
        t = pq.read_table(f, columns=[column])
        vals.update(t.column(column).to_pylist())
    return vals


def test_purge_removes_every_trace_and_truncates_history(spark, tmp_path):
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, KEYS, n_buckets=4, merge_mode="mor")
    t.merge_into(
        _mk(spark, [("secret", 0, "pii v1", 1, "upsert"),
                    ("keep", 0, "fine", 2, "upsert")]), "b0",
    )
    t.merge_into(
        _mk(spark, [("secret", 0, "pii v2", 3, "upsert"),
                    ("secret", 1, "more pii", 4, "upsert"),
                    ("keep", 1, "also fine", 5, "upsert")]), "b1",
    )
    assert "secret" in _disk_values(path, "conv_id")
    report = t.purge_keys(["secret"])
    assert report["committed"] and report["rows_purged"] == 3
    assert report["vacuum"]["removed_files"] > 0
    # live view: only the other key, fully intact (LWW across its versions)
    got = {(r.conv_id, r.turn_idx, r.text) for r in t.read().collect()}
    assert got == {("keep", 0, "fine"), ("keep", 1, "also fine")}
    # deleted view too — purge removes tombstones and versions, not hides them
    assert "secret" not in {
        r.conv_id for r in t.read(include_deleted=True).collect()
    }
    # forensic: no parquet file under the table contains the key anywhere
    assert "secret" not in _disk_values(path, "conv_id")
    # history is truncated: pre-purge versions are unreadable
    with pytest.raises(ValueError, match="expired"):
        t.read(version=1)


def test_purge_rewrite_is_bounded_by_bucket_and_bloom_pruning(spark, tmp_path):
    t = LakeTable(
        spark, str(tmp_path / "t"), KEYS, n_buckets=8,
        merge_mode="mor", bloom_filters=True,
    )
    # 6 commits × 30 convs → many delta files spread over all buckets
    for batch in range(6):
        rows = [(f"c{i:03d}", batch, f"text {i} {batch}", batch * 100 + i, "upsert")
                for i in range(30)]
        t.merge_into(_mk(spark, rows), f"b{batch}")
    m = t._load_manifest()
    total_files = len(t._files(m, None))
    before_files = set(t._files(m, None))
    report = t.purge_keys(["c007"], vacuum_history=False)
    assert report["committed"]
    assert report["rows_purged"] == 6  # one row per commit
    # bucket pruning alone caps the rewrite at one bucket's files; blooms
    # prune further within it — far below the table's file count
    assert 0 < report["files_rewritten"] < total_files / 4
    # unaffected files are re-referenced verbatim (no churn outside the probe)
    m2 = t._load_manifest()
    after_files = set(t._files(m2, None))
    assert len(before_files - after_files) == report["files_rewritten"]
    # every remaining conversation still resolves
    assert {r.conv_id for r in t.read().collect()} == {
        f"c{i:03d}" for i in range(30) if i != 7
    }


def test_purge_preserves_pending_versions_and_checksum(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), KEYS, n_buckets=2, merge_mode="mor")
    t.merge_into(_mk(spark, [("a", 0, "v1", 1, "upsert"),
                             ("x", 0, "gone", 2, "upsert")]), "b0")
    # unresolved second version of 'a' pending in a delta file
    t.merge_into(_mk(spark, [("a", 0, "v2", 3, "upsert")]), "b1")
    t.purge_keys(["x"])
    assert [(r.conv_id, r.text) for r in t.read().collect()] == [("a", "v2")]
    # MoR machinery is intact post-purge: compact folds, checksum resolves
    t.compact()
    assert [(r.conv_id, r.text) for r in t.read().collect()] == [("a", "v2")]
    assert t.audit_checksum() == t.lineage(1)[0]["table_checksum"]


def test_purge_removes_expired_key_history_even_with_no_affected_files(spark, tmp_path):
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, KEYS, n_buckets=2, merge_mode="mor")
    t.merge_into(_mk(spark, [("secret", 0, "pii", 1, "upsert"),
                             ("keep", 0, "fine", 2, "upsert")]), "b0")
    t.merge_into(_mk(spark, [("secret", 0, None, 3, "delete")]), "b1")
    t.compact()
    t.expire_tombstones(older_than_lsn=10)
    # the current snapshot no longer stores the key at all...
    assert "secret" not in {
        r.conv_id for r in t.read(include_deleted=True).collect()
    }
    # ...but historical files still do — purge must erase them via vacuum
    assert "secret" in _disk_values(path, "conv_id")
    report = t.purge_keys(["secret"])
    assert not report["committed"]  # no live file to rewrite
    assert "secret" not in _disk_values(path, "conv_id")
    assert {r.conv_id for r in t.read().collect()} == {"keep"}


def test_purge_without_vacuum_defers_history_truncation(spark, tmp_path):
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, KEYS, n_buckets=2)
    t.merge_into(_mk(spark, [("secret", 0, "pii", 1, "upsert")]), "b0")
    t.purge_keys(["secret"], vacuum_history=False)
    assert t.read().count() == 0
    # old version still readable (and still holds the payload on disk)
    assert {r.conv_id for r in t.read(version=1).collect()} == {"secret"}
    assert "secret" in _disk_values(path, "conv_id")
    t.vacuum(keep_last=1)
    assert "secret" not in _disk_values(path, "conv_id")


def test_purge_noops_on_empty_input_and_empty_table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), KEYS, n_buckets=2)
    assert t.purge_keys(["a"]) == {
        "version": 0, "committed": False, "files_rewritten": 0, "rows_purged": 0,
    }
    t.merge_into(_mk(spark, [("a", 0, "v", 1, "upsert")]), "b0")
    v = t.current_version()
    assert not t.purge_keys([])["committed"]
    assert t.current_version() == v  # no commit, no vacuum


def test_purge_on_collapse_strategy_removes_sign_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, KEYS, n_buckets=2, merge_mode="mor")
    t.merge_into(_mk(spark, [("s", 0, "pii", 1, "upsert"),
                             ("k", 0, "fine", 2, "upsert")]),
                 "b0", strategy="collapse")
    t.merge_into(_mk(spark, [("s", 0, "pii v2", 3, "upsert")]),
                 "b1", strategy="collapse")
    report = t.purge_keys(["s"])
    assert report["committed"] and report["rows_purged"] >= 2
    assert "s" not in _disk_values(path, "conv_id")
    assert [(r.conv_id, r.text) for r in t.read().collect()] == [("k", "fine")]


@pytest.mark.parametrize("key_cols, purge", [(["k"], [3]), (["tenant", "k"], ["zzz"])])
def test_purge_rewrite_keeps_each_files_key_bounds(spark, tmp_path, key_cols, purge):
    """A purge rewrites a bucket's base and delta files in separate writes.
    Each rewritten file's zone map must cover its OWN keys: folding the
    writes' bounds once gave the rewritten delta (k 5 and 100) the base's
    k bounds [1, 10], and a range read on k then skipped the live row 100.
    The composite case purges a key no file holds, so nothing is dropped,
    yet the rewrite still lost the second key column's bounds."""
    schema = "tenant string, k long, v long, op string, lsn long"
    t = LakeTable(spark, str(tmp_path / "t"), key_cols, n_buckets=1,
                  merge_mode="mor", checksum=False)
    t.merge_into(local_frame(
        spark, [("t", k, k, "upsert", k) for k in range(1, 11)], schema), "b0")
    t.compact()
    t.merge_into(local_frame(
        spark, [("t", 5, 50, "upsert", 20), ("t", 100, 100, "upsert", 21)], schema), "b1")
    assert t.purge_keys(purge, vacuum_history=False)["committed"]
    m = t._load_manifest()
    for f in t._files(m, None):
        ks = pq.read_table(f, columns=["k"]).column("k").to_pylist()
        bound = m["file_stats"][f].get("zm", {}).get("k")
        assert bound is not None and bound[0] <= min(ks) and max(ks) <= bound[1], \
            (f, m["file_stats"][f], ks)
    assert [r.k for r in t.read(ranges={"k": [(100, 101)]}).collect()] == [100]
    live = [k for k in range(1, 11) if k not in purge] + [100]
    assert sorted(r.k for r in t.read().collect()) == live
