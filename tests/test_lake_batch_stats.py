"""The merge's batch-stats pass (``LakeTable._batch_stats``): one aggregate
over the batch projection that yields an append merge's new-file key blooms
and a CDC epoch's per-source lineage, run beside the write on the one
helper thread and joined before the publish.

Pins: the folded blooms equal the read-back's over the same files; a failing
pass publishes nothing; an empty tracked batch publishes nothing; a CDC
epoch's Spark jobs, counted by job group (the helper thread runs under the
caller's local properties)."""

from __future__ import annotations

import os

import pytest

from data_sync_tool_spark.session import local_frame
from data_sync_tool_spark.sources.lake import LakeTable
from data_sync_tool_spark.streaming.cdc import CHANGE_STREAM_SCHEMA, CdcPipeline

SCHEMA = "k string, v string, op string, lsn long, src string"


def _batch(spark, rows):
    return local_frame(spark, rows, SCHEMA)


def _load(n=120):
    return [(f"k{i:03d}", "v1", "insert", i, f"f{i % 3}") for i in range(n)]


def _update():
    """Updates and a delete, one key updated twice (deduped in the batch)."""
    return ([(f"k{i:03d}", "v2", "update", 200 + i, "f0") for i in range(0, 40, 3)]
            + [("k003", "v3", "update", 300, "f1"), ("k010", None, "delete", 301, "f1")])


def _new_files(t, before):
    m = t._load_manifest()
    return m, [f for f in t._files(m, None) if f not in before]


@pytest.mark.parametrize("strategy", ["upsert", "collapse"])
@pytest.mark.parametrize("allow_delete", [True, False])
def test_folded_blooms_equal_the_read_back(spark, tmp_path, strategy, allow_delete):
    """An append merge folds its new delta files' blooms from the pass's
    bucket words; they equal ``_file_blooms``' read-back of those files."""
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4, merge_mode="mor",
                  bloom_filters=True)
    t.merge_into(_batch(spark, _load()), "load", strategy=strategy, source_col="src")
    before = set(t._files(t._load_manifest(), None))
    res = t.merge_into(_batch(spark, _update()), "upd", strategy=strategy,
                       allow_delete=allow_delete, source_col="src")
    assert res.applied
    m, new = _new_files(t, before)
    assert new and all(f in m["buckets"][f.split("_bucket=")[1].split("/")[0]]["delta"]
                       for f in new)
    stored = {f: {k: m["file_stats"][f][k] for k in ("bloom", "bloom_m", "bloom_k")}
              for f in new}
    assert stored == t._file_blooms(new, t._schema_of(m))
    # source lineage counts every row of the batch, ignored deletes too
    assert {p["src"]: p["rows"] for p in res.stats["partitions"]} == {"f0": 14, "f1": 2}
    assert (res.stats["offset_min"], res.stats["offset_max"]) == (200, 301)
    assert "src" not in t.read().columns


def test_failing_stats_pass_publishes_nothing(spark, tmp_path, monkeypatch):
    """An exception in the pass surfaces from ``merge_into`` after the write
    has run: no version, no batch id, and the snapshot directory is gone."""
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4, merge_mode="mor",
                  bloom_filters=True)
    t.merge_into(_batch(spark, _load()), "load", source_col="src")
    data = os.path.join(t.path, "data")
    snaps, version = set(os.listdir(data)), t.current_version()

    def fail(*a, **kw):
        raise RuntimeError("stats pass failed")

    monkeypatch.setattr(t, "_batch_stats", fail)
    with pytest.raises(RuntimeError, match="stats pass failed"):
        t.merge_into(_batch(spark, _update()), "upd", source_col="src")
    assert t.current_version() == version
    assert "upd" not in t.committed_batch_ids()
    assert set(os.listdir(data)) == snaps
    monkeypatch.undo()
    assert t.merge_into(_batch(spark, _update()), "upd", source_col="src").applied


@pytest.mark.parametrize("merge_mode", ["mor", "cow"])
def test_empty_tracked_batch_publishes_nothing(spark, tmp_path, merge_mode):
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4, merge_mode=merge_mode)
    t.merge_into(_batch(spark, _load(12)), "load", source_col="src")
    snaps, version = set(os.listdir(os.path.join(t.path, "data"))), t.current_version()
    res = t.merge_into(_batch(spark, []), "empty", source_col="src")
    assert not res.applied and res.stats["partitions"] == []
    assert t.current_version() == version and "empty" not in t.committed_batch_ids()
    assert set(os.listdir(os.path.join(t.path, "data"))) == snaps


def _epoch_jobs(spark, fn):
    """Spark jobs ``fn()`` runs, counted by job group."""
    import time

    sc = spark.sparkContext
    group = f"cdc-epoch-{time.monotonic_ns()}"
    sc.setJobGroup(group, "CDC epoch job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("merge_mode,bloom_filters,jobs", [
    ("mor", True, 4),  # the write's 2 and the pass's 2 beside it (was 6)
    ("cow", False, 5),  # the pre-scan's 2 carry the lineage, the write's 3 (was 7)
])
def test_cdc_epoch_job_count(spark, tmp_path, merge_mode, bloom_filters, jobs):
    """One tracked CDC epoch (two source files) into a fresh table: the
    lineage rides the merge's batch-stats pass, with no job of its own."""
    rows = [(f"c{i % 50:02d}", i // 50, "user", f"t{i}", None, None, "upsert", i)
            for i in range(400)]
    src = str(tmp_path / "binlog")
    spark.createDataFrame(rows, CHANGE_STREAM_SCHEMA).repartition(2).write.parquet(src)
    t = LakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4,
                  merge_mode=merge_mode, bloom_filters=bloom_filters)
    pipe = CdcPipeline(spark, f"{src}/*.parquet", t, str(tmp_path / "ckpt"), name="jobs")
    epoch = spark.read.schema(CHANGE_STREAM_SCHEMA).parquet(src)
    assert _epoch_jobs(spark, lambda: pipe._apply_batch(epoch, 0)) == jobs
    lin = t.lineage()[-1]
    assert [p["rows"] for p in lin["partitions"]] == [200, 200]
    assert (lin["offset_min"], lin["offset_max"]) == (0, 399)
    assert pipe.metrics.total_events == 400
