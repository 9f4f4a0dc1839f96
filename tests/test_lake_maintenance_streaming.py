"""Lake maintenance (vacuum, time travel, auto-compaction) and the streaming
window/state surface."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from data_sync_tool_spark.datagen import changelog_stream, write_stream_chunks
from data_sync_tool_spark.operators.dedupe import replay_final_state
from data_sync_tool_spark.sources.lake import LakeTable
from data_sync_tool_spark.streaming.cdc import CHANGE_STREAM_SCHEMA, CdcPipeline
from data_sync_tool_spark.streaming.windows import (
    conversation_state_tracker,
    sessionize,
    windowed_turn_counts,
)


@pytest.fixture(scope="module")
def ch(spark):
    return changelog_stream(spark, 2_000, n_convs=50, max_turns=16, num_partitions=8).cache()


def _merge_batches(table, ch, n=4):
    hi = ch.agg(F.max("lsn")).first()[0] + 1
    for i in range(n):
        b = ch.filter((F.col("lsn") >= i * hi // n) & (F.col("lsn") < (i + 1) * hi // n))
        table.merge_into(b, batch_id=f"b{i}")


def test_time_travel_reads_pinned_versions(spark, ch, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4,
                  checksum=False)
    _merge_batches(t, ch)
    v_mid = 2
    hi = ch.agg(F.max("lsn")).first()[0] + 1
    expect_mid = replay_final_state(
        ch.filter(F.col("lsn") < 2 * hi // 4), ["conv_id", "turn_idx"]
    )
    got_mid = t.read(version=v_mid).drop("_lsn")
    assert got_mid.exceptAll(expect_mid).count() == 0
    assert expect_mid.exceptAll(got_mid).count() == 0
    # latest still reflects everything
    assert t.read().count() == replay_final_state(ch, ["conv_id", "turn_idx"]).count()


def test_vacuum_removes_orphans_keeps_live(spark, ch, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4,
                  checksum=True)
    _merge_batches(t, ch)
    before_chk = t.lineage()[-1]["table_checksum"]
    n_files_before = sum(
        len(files) for _r, _d, files in os.walk(str(tmp_path / "t" / "data"))
    )
    stats = t.vacuum(keep_last=1)
    assert stats["removed_files"] > 0 and stats["removed_manifests"] > 0
    n_files_after = sum(
        len(files) for _r, _d, files in os.walk(str(tmp_path / "t" / "data"))
    )
    assert n_files_after < n_files_before
    # live snapshot unharmed, exactly-once memory intact
    live = t.read()
    assert live.count() > 0
    assert t.merge_into(ch.limit(10), batch_id="b0").applied is False
    # checksum of live data unchanged after re-merge of new batch? recompute:
    expect = replay_final_state(ch, ["conv_id", "turn_idx"])
    assert live.drop("_lsn").exceptAll(expect).count() == 0
    assert before_chk == t.lineage()[-1]["table_checksum"]


def test_mor_auto_compaction_in_stream(spark, ch, tmp_path):
    d = tmp_path / "log"
    write_stream_chunks(ch, str(d), n_chunks=6)
    t = LakeTable(spark, str(tmp_path / "t"), ["conv_id", "turn_idx"], n_buckets=4,
                  checksum=False, merge_mode="mor", track_stats=False)
    pipe = CdcPipeline(
        spark, f"{d}/chunk-*", t, str(tmp_path / "ck"), name="ac",
        compact_every=2,
    )
    pipe.run_available()
    # compaction ran: delta ratio near zero (at most one uncompacted batch)
    assert t.delta_ratio() <= 0.5
    ops = [l["op"] for l in t.lineage()]
    assert "compact" in ops
    expect = replay_final_state(ch, ["conv_id", "turn_idx"])
    got = t.read().drop("_lsn")
    assert got.exceptAll(expect).count() == 0 and expect.exceptAll(got).count() == 0


def _await_drained(q, timeout_s: float = 240.0) -> None:
    """Wait until the query has consumed all available data, then stop it.

    ``awaitTermination`` alone is wrong for stateful queries with a
    processing-time timeout: an availableNow query does NOT terminate — it
    keeps firing EMPTY micro-batches forever to check state timeouts. Drain
    = several consecutive zero-input batches with no data pending."""
    import time as _time

    end = _time.time() + timeout_s
    idle_polls = 0
    while _time.time() < end and q.isActive:
        lp = q.lastProgress
        if lp is not None and lp["numInputRows"] == 0 and not q.status["isDataAvailable"]:
            idle_polls += 1
            if idle_polls >= 3:  # stable-idle: drained, not between batches
                break
        else:
            idle_polls = 0
        _time.sleep(0.3)
    if q.isActive:
        q.stop()
    q.awaitTermination(60)


def _run_stream_to_memory(spark, df_fn, src_dir, name, out_mode):
    stream = (
        spark.readStream.schema(CHANGE_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{src_dir}/chunk-*")
    )
    q = (
        df_fn(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(out_mode)
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)
    return spark.table(name)


def test_windowed_turn_counts_matches_batch(spark, ch, tmp_path):
    d = tmp_path / "log"
    write_stream_chunks(ch, str(d), n_chunks=4)
    got = _run_stream_to_memory(
        spark, lambda s: windowed_turn_counts(s, "1 minute", "2 minutes"),
        str(d), "win_counts", "append",
    )
    # batch ground truth over the same data (all windows, no watermark cut)
    expect = (
        ch.groupBy(F.window("ts", "1 minute").alias("win"), "conv_id")
        .agg(F.count(F.lit(1)).alias("n_changes"))
        .select(F.col("win.start").alias("window_start"), "conv_id", "n_changes")
    )
    g = {(r.window_start, r.conv_id): r.n_changes for r in got.collect()}
    e = {(r.window_start, r.conv_id): r.n_changes for r in expect.collect()}
    # append mode: only watermark-closed windows emit; every emitted window
    # must match the batch truth exactly, and most windows must have closed
    assert g, "no windows emitted"
    assert all(e[k] == v for k, v in g.items())
    assert len(g) >= len(e) * 0.8


def test_sessionize_stream_matches_batch(spark, ch, tmp_path):
    """The SAME sessionize() runs batch and streaming: on a chunked stream
    with a watermark, every session emitted in append mode (closed sessions
    only — Spark merges partial sessions across micro-batches in the state
    store) must equal the batch ground truth over the full data."""
    d = tmp_path / "log"
    write_stream_chunks(ch, str(d), n_chunks=4)
    got = _run_stream_to_memory(
        spark,
        lambda s: sessionize(s, "ts", ["conv_id"], gap="1 minute",
                             watermark="2 minutes"),
        str(d), "sessions", "append",
    )
    expect = sessionize(ch, "ts", ["conv_id"], gap="1 minute")
    g = {(r.conv_id, r.session_start): (r.n_events, r.session_last)
         for r in got.collect()}
    e = {(r.conv_id, r.session_start): (r.n_events, r.session_last)
         for r in expect.collect()}
    assert g, "no sessions emitted"
    assert all(e[k] == v for k, v in g.items())
    assert len(g) >= len(e) * 0.5  # tail sessions stay open past the last watermark


def test_sessionize_gap_boundary_semantics(spark):
    """Pin the exact boundary rule the DuckDB oracle encodes: Spark merges
    sessions whose [start, last+gap] ranges touch, so an event EXACTLY gap
    after the previous EXTENDS the session; one microsecond beyond starts a
    new one (oracle break: diff > gap)."""
    rows = [
        ("a", "2024-01-01 00:30:00.000001"),   # > gap → new session
        ("a", "2024-01-01 00:00:00"),
        ("b", "2024-01-01 00:00:00"),
        ("b", "2024-01-01 00:30:00"),          # == gap → same session
    ]
    df = spark.createDataFrame(rows, "k string, ts_s string").select(
        "k", F.col("ts_s").cast("timestamp").alias("ts"))
    out = sessionize(df, "ts", ["k"], gap="30 minutes")
    counts = {}
    for r in out.collect():
        counts.setdefault(r.k, []).append(r.n_events)
    assert sorted(counts["a"]) == [1, 1]
    assert counts["b"] == [2]


def test_conversation_state_tracker(spark, ch, tmp_path):
    d = tmp_path / "log"
    write_stream_chunks(ch, str(d), n_chunks=4)
    got = _run_stream_to_memory(
        spark, conversation_state_tracker, str(d), "conv_state", "update",
    )
    # update mode emits one row per touched conversation per batch: the LAST
    # emission per conversation carries the final totals
    final = {}
    for r in got.collect():
        prev = final.get(r.conv_id)
        if prev is None or r.n_changes >= prev[0]:
            final[r.conv_id] = (r.n_changes, r.max_lsn, r.max_turn)
    expect = {
        r.conv_id: (r.n, r.mx, r.mt)
        for r in ch.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("lsn").alias("mx"),
             F.max("turn_idx").alias("mt"))
        .collect()
    }
    assert final == expect


def test_conversation_state_tracker_expires_idle_conversations(spark, tmp_path):
    """Processing-time expiry: idle conversations emit one expired=true row
    and their state is REMOVED (a reappearance starts fresh); with a long
    timeout nothing expires and totals accumulate across batches. Wall-clock
    selectivity (which conversations count as idle) is inherently timing-
    dependent, so the two runs pin the deterministic extremes."""
    from datetime import datetime

    ts = datetime(2026, 1, 1)
    rows = [
        # lsn controls chunking (one chunk per lsn): A idle after chunk 0
        ("A", 1, "user", "a1", None, ts, "insert", 0),
        ("C", 1, "user", "c1", None, ts, "insert", 0),
        ("B", 1, "user", "b1", None, ts, "insert", 1),
        ("C", 2, "user", "c2", None, ts, "insert", 1),
        ("A", 2, "user", "a2", None, ts, "insert", 2),
        ("C", 3, "user", "c3", None, ts, "insert", 2),
    ]
    df = spark.createDataFrame(rows, CHANGE_STREAM_SCHEMA)
    d = tmp_path / "log"
    write_stream_chunks(df, str(d), n_chunks=3)

    def run(name: str, timeout_ms: int):
        stream = (
            spark.readStream.schema(CHANGE_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/chunk-*")
        )
        q = (
            conversation_state_tracker(stream, idle_timeout_ms=timeout_ms)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await_drained(q)
        return spark.table(name).collect()

    # long timeout: nothing expires, state accumulates across micro-batches
    kept = run("conv_keep", 3_600_000)
    assert all(not r.expired for r in kept), kept
    assert max(r.n_changes for r in kept if r.conv_id == "C") == 3
    assert max(r.n_changes for r in kept if r.conv_id == "A") == 2

    # tiny timeout: idle state expires between batches — A's totals emit
    # flagged expired, the state is gone, and A's reappearance (chunk 2)
    # restarts at n_changes=1 instead of continuing at 2
    exp = run("conv_expire", 1)
    a_rows = [r for r in exp if r.conv_id == "A"]
    assert any(r.expired for r in a_rows), a_rows
    assert any(not r.expired and r.n_changes == 1 and r.max_turn == 2 for r in a_rows), a_rows
