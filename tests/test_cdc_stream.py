"""M3: streaming CDC loop — end-to-end convergence, checkpoint resume
(crash mid-stream), exactly-once under replay, skew robustness."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_sync_tool_spark.datagen import changelog_stream, write_stream_chunks
from data_sync_tool_spark.operators.dedupe import replay_final_state
from data_sync_tool_spark.sources.lake import LakeTable
from data_sync_tool_spark.streaming.cdc import CdcPipeline

N_EVENTS = 4_000


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("binlog")
    ch = changelog_stream(spark, N_EVENTS, n_convs=100, max_turns=16, hot_fraction=0.3, n_hot=2)
    write_stream_chunks(ch, str(d), n_chunks=8)
    return str(d)


@pytest.fixture(scope="module")
def expected_final(spark):
    ch = changelog_stream(spark, N_EVENTS, n_convs=100, max_turns=16, hot_fraction=0.3, n_hot=2)
    return replay_final_state(ch, ["conv_id", "turn_idx"]).cache()


def _mk(spark, tmp_path, stream_dir, name, **kw):
    table = LakeTable(spark, str(tmp_path / "tbl"), ["conv_id", "turn_idx"], n_buckets=8,
                      checksum=False)
    pipe = CdcPipeline(
        spark, f"{stream_dir}/chunk-*", table, str(tmp_path / "ckpt"), name=name, **kw
    )
    return table, pipe


def _assert_same(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_stream_replay_converges(spark, tmp_path, stream_dir, expected_final):
    table, pipe = _mk(spark, tmp_path, stream_dir, "conv")
    m = pipe.run_available()
    assert m.total_events == N_EVENTS
    assert len(m.batches) >= 8  # one epoch per chunk file at maxFilesPerTrigger=1
    _assert_same(table.read().drop("_lsn"), expected_final)


def test_checkpoint_resume_after_crash(spark, tmp_path, stream_dir, expected_final):
    table, pipe = _mk(spark, tmp_path, stream_dir, "crash")
    pipe.run_available(stop_after_batches=3)  # "crash" mid-stream
    n_before = len(pipe.metrics.batches)
    assert n_before < 16
    # restart from the same checkpoint: picks up where it left off
    pipe2 = CdcPipeline(spark, f"{stream_dir}/chunk-*", table, str(tmp_path / "ckpt"), name="crash")
    pipe2.run_available()
    _assert_same(table.read().drop("_lsn"), expected_final)
    # epochs replayed after the crash were deduped by batch_id where already
    # committed (exactly-once): no batch applied twice
    applied_ids = [b["epoch_id"] for b in pipe.metrics.batches if b["applied"]] + [
        b["epoch_id"] for b in pipe2.metrics.batches if b["applied"]
    ]
    assert len(applied_ids) == len(set(applied_ids))


def test_stream_lineage_offsets_cover_input(spark, tmp_path, stream_dir):
    table, pipe = _mk(spark, tmp_path, stream_dir, "lin")
    pipe.run_available()
    lin = [l for l in table.lineage() if l.get("op", "").startswith("merge")]
    assert all("offset_min" in l and "offset_max" in l for l in lin)
    assert min(l["offset_min"] for l in lin) == 0
    assert max(l["offset_max"] for l in lin) == N_EVENTS - 1


def test_skewed_stream_converges(spark, tmp_path):
    """90% of events on ONE conversation — the hot-key worst case."""
    ch = changelog_stream(spark, 2_000, n_convs=50, max_turns=8, hot_fraction=0.9, n_hot=1)
    d = tmp_path / "skewlog"
    write_stream_chunks(ch, str(d), n_chunks=4)
    table = LakeTable(spark, str(tmp_path / "tbl"), ["conv_id", "turn_idx"], n_buckets=8,
                      checksum=False)
    pipe = CdcPipeline(spark, f"{d}/chunk-*", table, str(tmp_path / "ckpt"), name="skew",
                       max_files_per_trigger=2)
    pipe.run_available()
    expect = replay_final_state(ch, ["conv_id", "turn_idx"])
    _assert_same(table.read().drop("_lsn"), expect)


def test_streaming_collapse_sink_converges(spark, tmp_path):
    """End-to-end streaming APPEND-ONLY sink: CdcPipeline with the collapse
    strategy replays the stream as deferred-cancel version-row delta appends
    (zero target reads per epoch); the live view equals the LWW final state,
    before and after compact."""
    from data_sync_tool_spark.sources.lake import collapse_live_view

    ch = changelog_stream(spark, 2_000, n_convs=50, max_turns=8)
    d = tmp_path / "cllog"
    write_stream_chunks(ch, str(d), n_chunks=4)
    table = LakeTable(spark, str(tmp_path / "tbl"), ["conv_id", "turn_idx"], n_buckets=8,
                      checksum=False)
    pipe = CdcPipeline(spark, f"{d}/chunk-*", table, str(tmp_path / "ckpt"), name="cl",
                       max_files_per_trigger=2, merge_strategy="collapse")
    pipe.run_available()
    m = table._load_manifest()
    assert any(e.get("delta") for e in m["buckets"].values())  # append-only commits
    expect = replay_final_state(ch, ["conv_id", "turn_idx"])
    live = collapse_live_view(table.read(), ["conv_id", "turn_idx"]).drop("_lsn")
    _assert_same(live, expect)
    table.compact()
    live2 = collapse_live_view(table.read(), ["conv_id", "turn_idx"]).drop("_lsn")
    _assert_same(live2, expect)


def test_datagen_is_deterministic(spark):
    a = changelog_stream(spark, 500, num_partitions=2).collect()
    b = changelog_stream(spark, 500, num_partitions=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_metrics_bridge_listener(spark, tmp_path, stream_dir, expected_final):
    """StreamingQueryListener bridge (SURVEY §3): per-batch progress events
    (input rows, durations) surface through the engine's metrics hook."""
    import time as _time

    from data_sync_tool_spark.streaming.cdc import MetricsBridgeListener

    emitted = []
    lis = MetricsBridgeListener(emit=emitted.append).attach(spark)
    try:
        table, pipe = _mk(spark, tmp_path, stream_dir, "metrics")
        pipe.run_available()
        deadline = _time.time() + 20
        # NOTE: per-epoch numInputRows counts every re-execution of the batch
        # plan inside foreachBatch (offset agg, op-count stats, merge), so the
        # listener total is a multiple of the true event count; the exact
        # event accounting is the engine-side CdcMetrics.
        while _time.time() < deadline and sum(p["input_rows"] for p in lis.progress) < N_EVENTS:
            _time.sleep(0.5)
    finally:
        lis.detach(spark)
    assert sum(p["input_rows"] for p in lis.progress) >= N_EVENTS
    assert pipe.metrics.total_events == N_EVENTS
    assert emitted and all("duration_ms" in p for p in emitted)
    assert any(p["query"] for p in lis.progress)
    _assert_same(table.read().drop("_lsn"), expected_final)


def test_graceful_shutdown_drains_and_resumes(spark, tmp_path, stream_dir, expected_final):
    """SIGTERM → active queries stopped (reference finish-in-flight contract,
    engine/pipeline.py:15-18); restart from the same checkpoint converges."""
    import os
    import signal
    import time as _time

    from data_sync_tool_spark.streaming.cdc import install_shutdown_handler

    table, pipe = _mk(spark, tmp_path, stream_dir, "drain")
    drained = []
    restore = install_shutdown_handler(
        spark, signals=(signal.SIGUSR1,), on_shutdown=lambda: drained.append(True)
    )
    try:
        q = pipe.start(processing_time="200 milliseconds")
        deadline = _time.time() + 60
        while _time.time() < deadline and not pipe.metrics.batches:
            _time.sleep(0.2)
        os.kill(os.getpid(), signal.SIGUSR1)
        deadline = _time.time() + 30
        while _time.time() < deadline and q.isActive:
            _time.sleep(0.2)
        assert not q.isActive and drained == [True]
    finally:
        restore()
        if q.isActive:
            q.stop()
    # resume after drain: same checkpoint, remaining segments applied
    pipe2 = CdcPipeline(spark, f"{stream_dir}/chunk-*", table,
                        str(tmp_path / "ckpt"), name="drain")
    pipe2.run_available()
    _assert_same(table.read().drop("_lsn"), expected_final)


def test_dead_letter_queue_quarantines_malformed_events(spark, tmp_path):
    """Malformed change events (null key, unknown op, null/negative lsn) are
    split to the DLQ parquet with machine-readable reasons; the table
    converges to the replay of the VALID events only, and lineage/metrics
    carry the quarantine counts."""
    import pyspark.sql.types as T

    from data_sync_tool_spark.streaming.cdc import CHANGE_STREAM_SCHEMA

    d = tmp_path / "binlog"
    d.mkdir()
    ch = changelog_stream(spark, 2_000, n_convs=40, max_turns=8)
    bad_rows = [
        (None, 1, "user", "null conv", None, None, "insert", 99_991),
        ("conv-bad", None, "user", "null turn", None, None, "insert", 99_992),
        ("conv-bad", 2, "user", "unknown op", None, None, "sideload", 99_993),
        ("conv-bad", 3, "user", "null lsn", None, None, "insert", None),
        ("conv-bad", 4, "user", "negative lsn", None, None, "insert", -7),
    ]
    bad = spark.createDataFrame(bad_rows, CHANGE_STREAM_SCHEMA)
    # malformed rows land inside the 2nd chunk, mid-stream
    chunks = [ch.filter(F.col("lsn") < 1_000), ch.filter(F.col("lsn") >= 1_000).union(bad)]
    for i, c in enumerate(chunks):
        c.coalesce(1).write.parquet(f"{d}/chunk-{i:03d}")
    table = LakeTable(spark, str(tmp_path / "tbl"), ["conv_id", "turn_idx"], n_buckets=8)
    dlq = str(tmp_path / "dlq")
    pipe = CdcPipeline(
        spark, f"{d}/chunk-*", table, str(tmp_path / "ckpt"), name="dlqtest",
        dlq_dir=dlq,
    )
    m = pipe.run_available()
    # table state: exactly the valid-event replay — bad rows neither merged
    # nor able to poison the batch
    expect = replay_final_state(ch, ["conv_id", "turn_idx"])
    got = table.read().drop("_lsn")
    assert got.exceptAll(expect).count() == 0 and expect.exceptAll(got).count() == 0
    # DLQ contents: all five rows, each with its precise reason
    q = spark.read.parquet(dlq)
    reasons = {r["text"]: list(r["_dlq_reason"]) for r in q.collect()}
    assert reasons == {
        "null conv": ["null_key:conv_id"],
        "null turn": ["null_key:turn_idx"],
        "unknown op": ["bad_op"],
        "null lsn": ["bad_lsn"],
        "negative lsn": ["bad_lsn"],
    }
    assert {r["_dlq_pipeline"] for r in q.collect()} == {"dlqtest"}
    assert sum(b.get("quarantined", 0) for b in m.batches) == 5
    # lineage rows carry the per-epoch quarantine count
    lin = [
        table._load_manifest(v).get("lineage", {})
        for v in range(1, table.current_version() + 1)
    ]
    assert sum(int(l.get("quarantined", 0)) for l in lin if l) == 5


def test_dead_letter_queue_keeps_per_source_lineage(spark, tmp_path):
    """The DLQ split persists the batch, above which ``input_file_name()``
    reads "" for every row; the source file is captured before the persist,
    so an epoch of 2 files x 1,000 events still records two lineage entries
    (not one ``("", 2000)``), and the capture never reaches the DLQ."""
    from data_sync_tool_spark.streaming.cdc import CHANGE_STREAM_SCHEMA

    d = tmp_path / "binlog"
    ch = changelog_stream(spark, 2_000, n_convs=40, max_turns=8)
    bad = spark.createDataFrame(
        [("conv-bad", 1, "user", "bad op", None, None, "sideload", 5_000)],
        CHANGE_STREAM_SCHEMA)
    ch.filter(F.col("lsn") < 1_000).coalesce(1).write.parquet(f"{d}/chunk-000")
    ch.filter(F.col("lsn") >= 1_000).union(bad).coalesce(1).write.parquet(f"{d}/chunk-001")
    table = LakeTable(spark, str(tmp_path / "tbl"), ["conv_id", "turn_idx"], n_buckets=8)
    dlq = str(tmp_path / "dlq")
    CdcPipeline(spark, f"{d}/chunk-*", table, str(tmp_path / "ckpt"), name="dlqsrc",
                dlq_dir=dlq, max_files_per_trigger=None).run_available()
    parts = [p for r in table.lineage() for p in r.get("partitions", [])]
    assert [(p["src"].split("/")[-2], p["rows"]) for p in parts] == [
        ("chunk-000", 1_000), ("chunk-001", 1_000)]
    assert [r["text"] for r in spark.read.parquet(dlq).collect()] == ["bad op"]
    assert not [c for c in spark.read.parquet(dlq).columns if c.startswith("_src")]


def test_per_partition_lineage_rows(spark, tmp_path, stream_dir):
    """Each commit records per-SOURCE-PARTITION lineage rows — offset range,
    event count, order-independent checksum per input file — and the global
    offset range is their envelope. Checksums are deterministic: a second
    replay of the same binlog records identical per-file entries."""
    table, pipe = _mk(spark, tmp_path, stream_dir, "plineage",
                      max_files_per_trigger=None)
    pipe.run_available()
    recs = [r for r in table.lineage() if r.get("partitions")]
    assert recs
    seen_files = {}
    for rec in recs:
        parts = rec["partitions"]
        assert len(parts) >= 1
        assert rec["offset_min"] == min(p["offset_min"] for p in parts)
        assert rec["offset_max"] == max(p["offset_max"] for p in parts)
        for p in parts:
            assert p["rows"] > 0 and isinstance(p["checksum"], int)
            assert p["offset_min"] <= p["offset_max"]
            seen_files[p["src"]] = (p["rows"], p["checksum"])
    # the multi-file epoch really recorded one row per source file
    assert len(seen_files) >= 8
    # determinism: an independent replay records identical per-file lineage
    t2 = LakeTable(spark, str(tmp_path / "tbl2"), ["conv_id", "turn_idx"],
                   n_buckets=8, checksum=False)
    CdcPipeline(spark, f"{stream_dir}/chunk-*", t2, str(tmp_path / "ckpt2"),
                name="plineage2", max_files_per_trigger=None).run_available()
    seen2 = {
        p["src"]: (p["rows"], p["checksum"])
        for r in t2.lineage() if r.get("partitions")
        for p in r["partitions"]
    }
    assert seen2 == seen_files
