"""The benchmark workloads.

Each workload drives the engine only through its public entry points and
has four parts:

- ``setup(d)`` builds the inputs from the seed into ``d`` (timed as
  ``setup_s``);
- ``rep(fx)`` runs one timed repetition from a fresh starting state and
  returns its samples;
- ``check(fx)`` compares the last repetition's outputs with independent
  oracles, untimed, and returns each check's failure messages by name;
- ``SIZES`` gives the full size and a tiny one for the self-test.

Samples: ``primary`` and ``secondary`` are lists of seconds, ``items`` is
the work one primary sample covers, ``wall`` the repetition's timed wall
and ``ops`` the number of engine calls it made.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_sync_tool_spark.datagen import changelog_stream, write_stream_chunks
from data_sync_tool_spark.operators.pq import pq_encode, pq_topk, pq_train
from data_sync_tool_spark.operators.reconcile import ReconcileConfig, build_blocks
from data_sync_tool_spark.operators.similarity import brute_force_topk
from data_sync_tool_spark.sources.agg_view import refresh_agg_view
from data_sync_tool_spark.sources.lake import LakeTable
from data_sync_tool_spark.sources.sync import sync_step
from data_sync_tool_spark.streaming.cdc import CdcPipeline

import oracles
from spans import Tracer

KEYS = ["conv_id", "turn_idx"]


@dataclass
class Ctx:
    spark: SparkSession
    seed: int
    tracer: Tracer
    size: dict[str, Any]


def _rows(df: DataFrame) -> DataFrame:
    """The transcript columns in oracle form (timestamps as epoch micros)."""
    return df.select("conv_id", "turn_idx", "role", "text", "tool",
                     F.unix_micros("ts").alias("ts_us"))


class Workload:
    name = ""
    warmup = 2  # untimed repetitions before the timed ones
    reps = 3  # timed repetitions, at least
    SIZES: dict[str, dict[str, Any]] = {}

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.s = ctx.size
        self.last: dict[str, Any] = {}
        self.notes: dict[str, Any] = {}  # reported beside the metrics
        self.plant = False  # corrupt every engine output before its check

    def out(self, table: pa.Table, col: str) -> pa.Table:
        return oracles.plant(table, col) if self.plant else table


# ----------------------------------------------------------------- cdc_replica
AGG_SPEC = {"n_turns": "count(1)", "last_ts": "max(ts)", "max_turn": "max(turn_idx)"}
RECON_FIELDS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _aggs() -> dict[str, Any]:
    return {k: F.expr(v) for k, v in AGG_SPEC.items()}


class CdcReplica(Workload):
    """Binlog → Structured Streaming → LWW MERGE into a fresh MoR leader
    (``ingest``), then a fresh follower, aggregate view and anti-entropy
    check brought current from it (``replica``)."""

    name = "cdc_replica"
    SIZES = {
        "full": dict(events=10_000, convs=500, chunks=1, files_per_chunk=2, buckets=4,
                     interval=10_000),
        "tiny": dict(events=6_000, convs=200, chunks=2, files_per_chunk=2, buckets=4,
                     interval=2_000),
    }

    def cfg(self) -> ReconcileConfig:
        return ReconcileConfig(
            partition_column="ts", partition_column_type="datetime",
            fields=RECON_FIELDS, max_block_size=1000,
            initial_partition_interval=self.s["interval"],
        )

    def setup(self, d: str) -> dict[str, Any]:
        s = self.s
        with self.tr.span("datagen.changelog_stream"):
            ch = changelog_stream(
                self.spark, s["events"], n_convs=s["convs"], max_turns=64,
                hot_fraction=0.2, n_hot=4, delete_pct=10, seed=self.ctx.seed,
                num_partitions=s["chunks"] * s["files_per_chunk"],
            )
            write_stream_chunks(ch, f"{d}/binlog", s["chunks"])
        return {"d": d, "n": 0}

    def _table(self, path: str, keys: list[str], **kw: Any) -> LakeTable:
        t = LakeTable(self.spark, path, keys, n_buckets=self.s["buckets"], merge_mode="mor", **kw)
        self.tr.wrap(t, "merge_into", "sources.lake.merge_into")
        self.tr.wrap(t, "read", "sources.lake.read.plan")
        self.tr.wrap(t, "changes_since", "sources.lake.changes_since")
        return t

    def rep(self, fx: dict[str, Any]) -> dict[str, Any]:
        s, d, tr = self.s, fx["d"], self.tr
        fx["n"] += 1
        rd = f"{d}/rep{fx['n']}"
        shutil.rmtree(f"{d}/rep{fx['n'] - 1}", ignore_errors=True)
        leader = self._table(f"{rd}/leader", KEYS, bloom_filters=True)
        follower = self._table(f"{rd}/follower", KEYS)
        view = self._table(f"{rd}/view", ["conv_id"])
        pipe = CdcPipeline(
            self.spark, f"{d}/binlog/chunk-*", leader, f"{rd}/ckpt",
            name=f"cdc{fx['n']}", max_files_per_trigger=s["files_per_chunk"],
        )
        t0 = time.perf_counter()
        with tr.span("streaming.cdc.run_available"):
            metrics = pipe.run_available()
        ingest = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tr.span("sources.sync.sync_step"):
            sync_step(leader, follower)
        with tr.span("sources.agg_view.refresh_agg_view"):
            refresh_agg_view(leader, view, _aggs())
        with tr.span("operators.reconcile.build_blocks"):
            plan = build_blocks(leader.read(), follower.read(), self.cfg())
        replica = time.perf_counter() - t0
        batch_s = [b["seconds"] for b in metrics.batches]
        self.last = {"tables": (leader, follower, view), "plan": plan}
        return {
            "primary": [ingest], "secondary": [replica], "items": s["events"],
            "wall": ingest + replica, "ops": 4 + len(batch_s),
            "trigger_gap_s": ingest - sum(batch_s),
        }

    def check(self, fx: dict[str, Any]) -> dict[str, list[str]]:
        leader, follower, view = self.last["tables"]
        want = oracles.lww_final_state(f"{fx['d']}/binlog/chunk-*/*.parquet")
        got_view = view.read().select(
            "conv_id", "n_turns", F.unix_micros("last_ts").alias("last_ts_us"), "max_turn"
        ).toArrow()
        statuses = list(self.last["plan"].statuses)
        if self.plant:
            statuses[0] = "M"
        return {
            "leader": oracles.check_same_rows(
                self.out(_rows(leader.read()).toArrow(), "text"), want, oracles.ROW_COLS,
                "leader vs binlog LWW"),
            "follower": oracles.check_same_rows(
                self.out(_rows(follower.read()).toArrow(), "turn_idx"), want,
                oracles.ROW_COLS, "follower vs binlog LWW"),
            "view": oracles.check_same_rows(
                self.out(got_view, "n_turns"), oracles.view_recompute(want),
                oracles.VIEW_COLS, "aggregate view"),
            "verify": oracles.check_in_sync(statuses),
        }


# ------------------------------------------------------------------- ann_topk
class AnnTopk(Workload):
    """One pass of a fixed query set over exact top-k and product-quantized
    (PQ) top-k, codebook training included."""

    name = "ann_topk"
    reps = 4
    SIZES = {
        "full": dict(n=3_000, dim=32, clusters=32, queries=192, k=10, files=4),
        "tiny": dict(n=1_000, dim=16, clusters=8, queries=8, k=5, files=2),
    }
    # recall@k floor for PQ (m=8 subspaces, 16 codewords) on clustered data
    PQ_RECALL_FLOOR = 0.1

    def setup(self, d: str) -> dict[str, Any]:
        s, spark = self.s, self.spark
        rng = np.random.default_rng(self.ctx.seed)
        centers = rng.normal(size=(s["clusters"], s["dim"]))

        def points(n: int) -> np.ndarray:
            members = centers[rng.integers(s["clusters"], size=n)]
            return members + 0.5 * rng.normal(size=(n, s["dim"]))

        corpus, queries = points(s["n"]), points(s["queries"])
        q_ids = np.arange(s["n"], s["n"] + s["queries"])
        for name, ids, mat, files in (("corpus", np.arange(s["n"]), corpus, s["files"]),
                                      ("queries", q_ids, queries, 1)):
            tbl = pa.table({"vec_id": pa.array(ids, pa.int64()),
                            "embedding": pa.array(list(mat), pa.list_(pa.float64()))})
            spark.createDataFrame(tbl.to_pandas()).repartition(files).write.parquet(
                f"{d}/{name}")
        return {"d": d, "corpus": corpus, "queries": queries, "q_ids": q_ids}

    def rep(self, fx: dict[str, Any]) -> dict[str, Any]:
        s, tr, spark = self.s, self.tr, self.spark
        corpus = spark.read.parquet(f"{fx['d']}/corpus")
        queries = spark.read.parquet(f"{fx['d']}/queries")
        k = s["k"]
        out: dict[str, Any] = {}
        t0 = time.perf_counter()
        with tr.span("operators.similarity.brute_force_topk"):
            out["exact"] = brute_force_topk(corpus, queries, k=k).toArrow()
        t1 = time.perf_counter()
        with tr.span("operators.pq.pq_train"):
            books = pq_train(corpus, m=8, k=16)
        with tr.span("operators.pq.pq_topk"):
            out["pq"] = pq_topk(pq_encode(corpus, books), queries, books, k=k).toArrow()
        t2 = time.perf_counter()
        wall = t2 - t0
        self.last = {"out": out, "books": books}
        return {"primary": [wall], "secondary": [t2 - t1], "items": 2 * s["queries"],
                "wall": wall, "ops": 5}

    def check(self, fx: dict[str, Any]) -> dict[str, list[str]]:
        s, out, books = self.s, self.last["out"], self.last["books"]
        q_ids, c_ids, k = fx["q_ids"], np.arange(s["n"]), s["k"]
        cos = oracles.cosine(fx["queries"], fx["corpus"])
        truth = oracles.topk_order(cos, k)
        # pq_topk is exact over its own codes: recompute ADC from the codes
        codes_t = pq_encode(self.spark.read.parquet(f"{fx['d']}/corpus"), books).toArrow()
        order = np.argsort(codes_t.column("vec_id").to_numpy())
        codes = np.array(codes_t.column("codes").to_pylist())[order]
        adc = oracles.adc_scores(fx["queries"], codes, np.asarray(books))
        return {
            "brute_force_topk": oracles.check_topk(
                "brute_force_topk", self.out(out["exact"], "neighbor_id"), "cos",
                q_ids, c_ids, cos, k, want_idx=truth),
            "pq_topk": oracles.check_topk(
                "pq_topk", self.out(out["pq"], "neighbor_id"), "adc", q_ids, c_ids, adc, k,
                want_idx=oracles.topk_order(adc, k), recall_floor=self.PQ_RECALL_FLOOR,
                truth_idx=truth, notes=self.notes),
        }


WORKLOADS = {w.name: w for w in (CdcReplica, AnnTopk)}
