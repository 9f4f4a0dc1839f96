"""The streaming CDC loop: tail a binlog-style change feed → micro-batch
MERGE into a lake table, exactly-once, resumable from checkpoint.

Reference analogue: the reference's pipelines are externally-scheduled batch
syncs (Airflow DAG per pipeline, ``/root/reference/airflow.py:40-98``) with a
bounded NATS fetch (``adapters/nats.py:57-87``) and no watermarks/state. This
module supplies the streaming machinery from Spark per SURVEY §2.8:

- source: Structured Streaming file source over lsn-ordered parquet chunk
  dirs (the sandbox stand-in for Kafka/binlog; swapping in
  ``readStream.format("kafka")`` changes only ``_reader``), bounded per
  micro-batch by ``maxFilesPerTrigger`` — the reference's ``max_msgs``
  bounding knob.
- sink: ``foreachBatch`` → ``LakeTable.merge_into`` keyed by a deterministic
  ``batch_id = f"{pipeline_name}:{epoch_id}"``. Structured Streaming replays
  an epoch after a crash with the SAME epoch id, and ``merge_into`` is a
  no-op for committed batch ids ⇒ exactly-once sink semantics end-to-end
  (checkpoint gives at-least-once; the idempotence manifest removes the
  duplicate).
- lineage: each commit records the batch's lsn offset range, op counts, and
  PER-SOURCE-PARTITION lineage rows (input file → offset range, event count,
  order-independent checksum; the global range is their envelope) in the
  table manifest. The merge computes them in its own batch-stats pass
  (``LakeTable.merge_into(source_col=...)``): beside the write for an append
  merge, inside the bucket pre-scan for a rewrite — no lineage job of its
  own. ``CdcMetrics`` aggregates per-batch rows/sec.
- resume: kill the query at any point; restarting with the same checkpoint
  dir replays from the last un-committed epoch (tested in
  ``tests/test_cdc_stream.py``).
"""

from __future__ import annotations

import signal
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from ..sources.lake import LakeTable

CHANGE_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.LongType()),
    ]
)


@dataclass
class CdcMetrics:
    batches: list[dict[str, Any]] = field(default_factory=list)

    @property
    def total_events(self) -> int:
        return sum(b["input_rows"] for b in self.batches)

    @property
    def total_seconds(self) -> float:
        return sum(b["seconds"] for b in self.batches)

    @property
    def events_per_sec(self) -> float:
        s = self.total_seconds
        return self.total_events / s if s > 0 else 0.0


class MetricsBridgeListener(StreamingQueryListener):
    """Engine-level metrics bridge (SURVEY §3): Spark's StreamingQueryListener
    progress events → an in-process record list + optional callback, the
    substitute for the reference's OTel counters/spans (``otel.py:44-80``).
    On a production cluster the callback is the emit point for StatsD/OTLP;
    here it stays dependency-free by design (no exporters in the sandbox)."""

    def __init__(self, emit: Callable[[dict[str, Any]], None] | None = None) -> None:
        self.progress: list[dict[str, Any]] = []
        self.started: list[str] = []
        self.terminated: list[dict[str, Any]] = []
        self._emit = emit

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        self.started.append(event.name or event.id)

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        rec = {
            "query": p.name or str(p.id),
            "batch_id": p.batchId,
            "input_rows": p.numInputRows,
            "rows_per_sec": p.processedRowsPerSecond,
            "duration_ms": dict(p.durationMs or {}),
            "timestamp": p.timestamp,
        }
        self.progress.append(rec)
        if self._emit is not None:
            self._emit(rec)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.terminated.append({"id": str(event.id), "exception": event.exception})

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def attach(self, spark: SparkSession) -> "MetricsBridgeListener":
        spark.streams.addListener(self)
        return self

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self)


def install_shutdown_handler(
    spark: SparkSession,
    signals: tuple[int, ...] = (signal.SIGTERM, signal.SIGINT),
    on_shutdown: Callable[[], None] | None = None,
):
    """Graceful-drain signal handler (reference ``engine/pipeline.py:15-18`` +
    ``adapters/nats.py:34-36``): on SIGTERM/SIGINT, stop every active
    streaming query instead of dying mid-loop. A batch interrupted by the
    stop is simply replayed on restart — the idempotent MERGE (committed
    batch_id manifest) makes the drain safe even when the signal lands
    mid-commit, which is strictly stronger than the reference's
    finish-in-flight flag. Returns a restore() callable."""
    prev = {s: signal.getsignal(s) for s in signals}

    def _handler(signum, frame):  # pragma: no cover - exercised via kill test
        for q in spark.streams.active:
            try:
                q.stop()
            except Exception:  # noqa: BLE001 - best-effort drain
                pass
        if on_shutdown is not None:
            on_shutdown()

    for s in signals:
        signal.signal(s, _handler)

    def restore() -> None:
        for s, h in prev.items():
            signal.signal(s, h)

    return restore


VALID_OPS = ("insert", "update", "upsert", "delete")
# the per-row source-file column of a tracked batch; never stored
_SOURCE_COL = "_src_file"


def change_event_reasons(
    key_cols: list[str], valid_ops: tuple[str, ...] = VALID_OPS
) -> F.Column:
    """Array of validation-failure reasons for a change event — empty for a
    valid event. Pure-JVM expressions (one pass, codegen-friendly):
    null/missing key columns, an op outside the merge vocabulary, and a
    null or negative LSN (the LWW resolver cannot order such an event)."""
    checks = [
        F.when(F.col(k).isNull(), F.lit(f"null_key:{k}")) for k in key_cols
    ] + [
        F.when(~F.col("op").isin(*valid_ops) | F.col("op").isNull(), F.lit("bad_op")),
        F.when(F.col("lsn").isNull() | (F.col("lsn") < 0), F.lit("bad_lsn")),
    ]
    return F.array_compact(F.array(*checks))


class CdcPipeline:
    """One source→sink CDC pipeline (reference ``PipelineConfig`` analogue,
    ``/root/reference/core/config.py:266-286``)."""

    def __init__(
        self,
        spark: SparkSession,
        source_glob: str,
        table: LakeTable,
        checkpoint_dir: str,
        name: str = "cdc",
        schema: T.StructType = CHANGE_STREAM_SCHEMA,
        max_files_per_trigger: int | None = 1,
        source_format: str = "parquet",  # parquet | json | csv binlog segments
        merge_strategy: str = "upsert",
        allow_delete: bool = True,
        track_offsets: bool = True,
        compact_every: int | None = None,
        compact_delta_ratio: float | None = None,
        compact_cluster_by_key: bool = False,
        compact_max_file_rows: int | None = None,
        catchup_from_lsn: int | None = None,
        dlq_dir: str | None = None,
        agg_views: list[Any] | None = None,
    ) -> None:
        self.spark = spark
        self.source_glob = source_glob
        self.table = table
        self.checkpoint_dir = checkpoint_dir
        self.name = name
        self.schema = schema
        self.max_files_per_trigger = max_files_per_trigger
        self.source_format = source_format
        self.merge_strategy = merge_strategy
        self.allow_delete = allow_delete
        self.track_offsets = track_offsets
        # MoR maintenance policy: compact after every N applied batches
        # and/or when the delta-file fraction crosses a threshold. On a real
        # cluster this is a background job; inline here keeps read latency
        # bounded without a second scheduler.
        self.compact_every = compact_every
        self.compact_delta_ratio = compact_delta_ratio
        # key-clustered compaction: sort buckets by key + bounded files +
        # per-file footer zone maps, so reconcile-repair / ``read(ranges=…)``
        # prune inside buckets even for hash-random keys (see
        # LakeTable.compact)
        self.compact_cluster_by_key = compact_cluster_by_key
        self.compact_max_file_rows = compact_max_file_rows
        self._applied_since_compact = 0
        # catch-up mode after a bootstrap snapshot: events at or below this
        # LSN are already reflected in the table and are filtered at the
        # scan (see bootstrap()). Persisted implicitly: on restart, read it
        # back from the bootstrap commit's lineage via resume_catchup_lsn().
        self.catchup_from_lsn = catchup_from_lsn
        # dead-letter queue: malformed change events (null keys, unknown op,
        # unorderable lsn) are quarantined to this parquet dir instead of
        # poisoning the merge or being dropped silently. None = strict mode
        # (malformed rows flow to the merge and fail loudly there).
        self.dlq_dir = dlq_dir
        # incremental materialized views (sources/agg_view.AggViewSpec):
        # refreshed after every applied merge, so rollups trail ingest by at
        # most one epoch. Each refresh is O(groups touched by the epoch) via
        # the lsn-pruned feed + bloom-pruned point lookup; a replayed epoch
        # re-runs the refresh, whose lsn-window batch id dedupes in the
        # view's own manifest (exactly-once end to end).
        self.agg_views = list(agg_views or [])
        self.metrics = CdcMetrics()

    def _reader(self) -> DataFrame:
        r = self.spark.readStream.schema(self.schema)
        if self.max_files_per_trigger:
            r = r.option("maxFilesPerTrigger", self.max_files_per_trigger)
        if self.source_format == "json":  # JSON-lines binlog segments
            df = r.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").json(
                self.source_glob
            )
        elif self.source_format == "csv":
            df = r.option("header", "true").csv(self.source_glob)
        else:
            df = r.parquet(self.source_glob)
        if self.catchup_from_lsn is not None:
            # pre-snapshot events are skipped at the source scan (parquet
            # row-group stats prune whole lsn-ordered segments). This is an
            # EFFICIENCY filter only: correctness never depends on it —
            # every merge strategy resolves last-writer-wins by (lsn,
            # delete-rank), so a replayed stale event loses to the
            # snapshot's rows (pytest-pinned with the filter disabled).
            df = df.filter(F.col("lsn") > F.lit(self.catchup_from_lsn))
        return df

    def bootstrap(self, snapshot_df: DataFrame, snapshot_lsn: int,
                  batch_id: str | None = None):
        """Initial full load + binlog catch-up handoff — the streaming twin
        of the reference's full-range reconcile-everything first run
        (``/root/reference/engine/pipeline.py:125-135``: a fresh target
        forces every block A → full repair), restated for a binlog world:

        1. snapshot the source at a known LSN ``X`` (the caller extracts it
           consistently — e.g. ``pg_export_snapshot`` + the slot's
           ``confirmed_flush_lsn``; here any DataFrame),
        2. ``overwrite()`` the table with the snapshot, every row stamped
           ``_lsn = X`` — idempotent: a crash-rerun with the same batch_id
           is a no-op,
        3. tail the SAME binlog stream from the beginning with events
           ``lsn <= X`` filtered at the scan; the overlap window (events
           emitted while the snapshot was being taken) needs no special
           casing because LWW-by-LSN makes replaying it a no-op.

        After catch-up the table state is identical to a from-scratch full
        replay (pytest-pinned), but bootstrap reads O(snapshot + tail)
        instead of O(entire history) — on a 10^10-event binlog whose
        retention no longer covers history, it is the only way in."""
        bid = batch_id or f"{self.name}:bootstrap:{snapshot_lsn}"
        if bid in self.table.committed_batch_ids():
            self.catchup_from_lsn = snapshot_lsn  # crash-rerun: load done
            return None
        res = self.table.overwrite(snapshot_df, batch_id=bid, lsn=snapshot_lsn)
        self.catchup_from_lsn = snapshot_lsn
        return res

    def resume_catchup_lsn(self) -> int | None:
        """Recover the bootstrap snapshot LSN from the table's own lineage
        (the overwrite commit records it), so a restarted process regains
        the scan filter without external state: the checkpoint dir holds
        stream offsets, the manifest holds the snapshot watermark. Backward
        walk stops at the first (most recent) bootstrap commit — O(commits
        since bootstrap), and None past the vacuum horizon, which is safe:
        the filter is an efficiency shortcut, never a correctness gate."""
        for v in range(self.table.current_version(), 0, -1):
            m = self.table._load_manifest(v)
            if m is None:  # vacuumed horizon
                break
            lin = m.get("lineage", {})
            if lin.get("op") == "overwrite" and str(
                lin.get("batch_id", "")
            ).startswith(f"{self.name}:bootstrap:"):
                return int(str(lin["batch_id"]).rsplit(":", 1)[1])
        return None

    def _apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        t0 = time.time()
        extra: dict[str, Any] = {"epoch_id": epoch_id}
        quarantined = 0
        annotated = None
        if self.track_offsets:
            # each row's source file, read at the scan: above a persist (the
            # DLQ split) or a shuffle, input_file_name() is "" for every row
            batch_df = batch_df.withColumn(_SOURCE_COL, F.input_file_name())
        if self.dlq_dir is not None:
            # one validation pass, then split. The batch is persisted so the
            # quarantine write and the merge don't re-read the source files.
            reasons = change_event_reasons(self.table.key_cols)
            annotated = batch_df.withColumn("_dlq_reason", reasons).persist()
            bad = annotated.filter(F.size("_dlq_reason") > 0)
            quarantined = bad.count()
            if quarantined:
                (
                    bad.drop(_SOURCE_COL)
                    .withColumn("_dlq_epoch", F.lit(int(epoch_id)))
                    .withColumn("_dlq_pipeline", F.lit(self.name))
                    .write.mode("append")
                    .parquet(self.dlq_dir)
                )
            batch_df = annotated.filter(F.size("_dlq_reason") == 0).drop("_dlq_reason")
            extra["quarantined"] = quarantined
        try:
            # with track_offsets, the merge's batch-stats pass records the
            # per-source lineage (see LakeTable.merge_into ``source_col``)
            res = self.table.merge_into(
                batch_df,
                batch_id=f"{self.name}:{epoch_id}",
                strategy=self.merge_strategy,
                allow_delete=self.allow_delete,
                lineage_extra=extra,
                source_col=_SOURCE_COL if self.track_offsets else None,
            )
        finally:
            if annotated is not None:
                annotated.unpersist()
        parts = res.stats.get("partitions")
        if parts == []:
            return  # empty epoch (availableNow tail): nothing committed
        self.metrics.batches.append(
            {
                "epoch_id": epoch_id,
                "applied": res.applied,
                "input_rows": sum(p["rows"] for p in parts or ()),
                "rows_written": res.rows_written,
                "quarantined": quarantined,
                "seconds": time.time() - t0,
            }
        )
        if res.applied:
            for spec in self.agg_views:
                spec.refresh(self.table)
            self._applied_since_compact += 1
            due_count = (
                self.compact_every is not None
                and self._applied_since_compact >= self.compact_every
            )
            due_ratio = (
                self.compact_delta_ratio is not None
                and self.table.delta_ratio() >= self.compact_delta_ratio
            )
            if due_count or due_ratio:
                self.table.compact(
                    batch_id=f"{self.name}:compact:{epoch_id}",
                    cluster_by_key=self.compact_cluster_by_key,
                    max_file_rows=self.compact_max_file_rows,
                )
                self._applied_since_compact = 0

    def start(self, processing_time: str = "1 second"):
        """Continuous tailing mode: micro-batches fire on ``processing_time``
        as new binlog segments land; returns the live StreamingQuery. Pair
        with ``install_shutdown_handler`` for k8s-style graceful drain."""
        return (
            self._reader()
            .writeStream.queryName(self.name)
            .foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )

    def run_available(self, stop_after_batches: int | None = None, timeout_sec: float = 3600.0):
        """Process everything currently in the source, then stop
        (Trigger.AvailableNow). ``stop_after_batches`` simulates a crash for
        resume tests: the query is killed after N epochs."""
        query = (
            self._reader()
            .writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if stop_after_batches is None:
                query.awaitTermination(timeout_sec)
            else:
                deadline = time.time() + timeout_sec
                while time.time() < deadline and query.isActive:
                    if len(self.metrics.batches) >= stop_after_batches:
                        query.stop()
                        break
                    time.sleep(0.2)
                query.awaitTermination(timeout_sec)
        finally:
            if query.isActive:  # pragma: no cover
                query.stop()
        return self.metrics
