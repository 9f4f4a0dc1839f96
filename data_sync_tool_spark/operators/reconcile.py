"""Hierarchical hash reconciliation — the reference's crown jewel
(``/root/reference/engine/reconcile.py``, 443 LoC) re-expressed as a
level-by-level digest loop over DataFrames.

Semantics parity (each cites the reference):
- interval ladder: divide ``initial_partition_interval`` by
  ``interval_reduction_factor`` while > ``max_block_size``, then append the
  final sub-threshold interval (``prepare_data_blocks``,
  ``engine/reconcile.py:408-433``; defaults 1y/200k at ``:69,85``).
- per-level block digest: ``COUNT(1)`` + blockhash grouped by blockname
  (``build_block_hash_query``, ``:138-209``); blockname is interval-aligned
  (``partition_generator`` floors to interval multiples, ``:65-94``).
- status: N (count+hash equal), M (both, differ), A (source-only),
  D (sink-only); the larger-count block is kept for sizing
  (``calculate_block_status``, ``:258-281``).
- drilldown: only M/A blocks with ``num_rows > max_block_size`` and
  ``level < max_level`` are re-queried at the next level
  (``calculate_blocks``, ``:299-364``); D blocks are never subdivided.
- ``merge_adjacent``: coalesce consecutive same-status M/A blocks while the
  combined count stays ≤ ``max_block_size`` (``:284-296``).
- hash strategies (``adapters/postgres.py:56-75``):
  ``md5sum_hash``  — order-independent ``sum(int32-md5-prefix rowhash)``;
  ``hash_md5_hash`` — order-dependent ``md5(concat(rowhash ORDER BY
  order_column))``; optional precomputed ``hash_column`` shortcut (``:58-59``).

Where this is NOT a port (the Spark-first differences):
- The reference recurses block-by-block, issuing one SQL round-trip per
  mismatched block per side (single-threaded; TODO at ``:386``). Here each
  LEVEL is ONE distributed aggregation over both sides — their rows tagged
  by side, unioned, ``groupBy(floor(x/interval))`` with map-side partial
  aggregation, per-side counts and hashes masked by side — and the drilldown
  filter is a broadcast semi-join against the (small) set of mismatched
  parent buckets. Level 1 also yields the data range: one action per level,
  however many blocks mismatch.
- Bucket ids stay NUMERIC end-to-end; block [start,end) is reconstructed by
  arithmetic, eliminating the reference's string-label decode
  (``to_blocks``, ``:211-252`` — flagged as drift-prone in SURVEY §7).
- The ``load`` phase the reference declares but never implements
  (``:437-444``) is ``plan_repair``/``apply_repair``: the block plan becomes a
  change feed merged into the sink with the standard MERGE path.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Literal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashes import (
    blockhash_ordered,
    blockhash_sum,
    epoch_seconds,
    rowhash_int32,
    rowhash_md5,
)
from ..session import local_frame

MD5_SUM_HASH = "md5sum_hash"
HASH_MD5_HASH = "hash_md5_hash"


@dataclass
class ReconcileConfig:
    """Mirror of the reference's ``ReconciliationConfig``
    (``/root/reference/core/config.py:231-247``)."""

    partition_column: str
    # str/uuid: reconcile over the HASH IMAGE of the key — the reference
    # declares these types (core/config.py:237) but raises on the blockname
    # codepath (adapters/postgres.py:52-53); here the partition value becomes
    # pmod(xxhash64(key), 2^32) and the whole numeric drilldown works
    # unchanged over hash space. Ranges don't prune the source scan (hash
    # order ≠ storage order) but drilldown still localizes diffs to
    # O(diff-size) hash ranges, which is what bounds the repair read.
    partition_column_type: Literal["int", "datetime", "str", "uuid"] = "int"
    strategy: str = MD5_SUM_HASH
    fields: list[str] = field(default_factory=list)  # hashed columns
    order_column: str | None = None  # for hash_md5_hash
    hash_column: str | None = None  # precomputed rowhash shortcut
    initial_partition_interval: int | None = None  # default 1y secs / 200k
    interval_reduction_factor: int = 10
    max_block_size: int = 1000
    start: int | None = None  # user bounds (epoch seconds for datetime)
    end: int | None = None

    def intervals(self) -> list[int]:
        """The drilldown ladder (``prepare_data_blocks``,
        ``engine/reconcile.py:425-431``) — with one correction: every interval
        EXACTLY divides its parent, so child buckets nest inside parent
        buckets (``floor(x/child) // (parent//child) == floor(x/parent)``).

        The reference's repeated floor-division ladder violates this (e.g.
        1y-seconds ÷ 10^5 leaves 3153‖315 misaligned), which silently maps
        boundary children to the wrong parent during drilldown. We keep the
        reference's ladder LENGTH and its finest interval ``s`` (repeated
        floor division == ``initial // factor^k``), then rebuild the ladder
        geometrically from ``s`` upward: ``[s·f^(L-1), …, s·f, s]``. The top
        interval shrinks by <1 factor step; coverage of [lo, hi) is unchanged
        because level-1 buckets tile the whole range for any interval.
        """
        defaults = {
            "datetime": 365 * 24 * 60 * 60,
            # hash space is [0, 2^32): 2^22 ⇒ 1024 level-1 buckets
            "str": 1 << 22,
            "uuid": 1 << 22,
        }
        initial = self.initial_partition_interval or defaults.get(
            self.partition_column_type, 200_000
        )
        f = self.interval_reduction_factor
        depth = 1
        interval = initial
        while interval > self.max_block_size:
            depth += 1
            interval = interval // f
        s = max(interval, 1)  # guard: integer division can reach 0
        return [s * f ** (depth - 1 - i) for i in range(depth)]


@dataclass
class Block:
    start: int
    end: int
    level: int
    num_rows: int
    status: str  # N | M | A | D

    def width(self) -> int:
        return self.end - self.start


def _partition_value(cfg: ReconcileConfig) -> Column:
    c = F.col(cfg.partition_column)
    if cfg.partition_column_type == "datetime":
        return epoch_seconds(c)
    if cfg.partition_column_type in ("str", "uuid"):
        return F.pmod(F.xxhash64(c.cast("string")), F.lit(1 << 32))
    return c.cast("long")


def _row_hash(cfg: ReconcileConfig, df: DataFrame) -> Column:
    """One side's row hash, cast to the type its block hash digests (decimal
    for the sum, string for the ordered md5): a union that widens one side's
    columns cannot change that side's hash."""
    to = "decimal(38,0)" if cfg.strategy == MD5_SUM_HASH else "string"
    if not cfg.hash_column:
        cols = [F.col(c) for c in cfg.fields]
        rh = rowhash_int32(*cols) if cfg.strategy == MD5_SUM_HASH else rowhash_md5(*cols)
        return rh.cast(to)
    h = F.col(cfg.hash_column)
    dtype = df.schema[cfg.hash_column].dataType
    if cfg.strategy != MD5_SUM_HASH or isinstance(dtype, T.NumericType):
        return h.cast(to)
    # md5sum_hash sums rowhashes: a hex md5 STRING would cast to NULL, and
    # sum(NULL) on both sides reads as "every block matches". Convert hex
    # (first-8-hex prefix, rowhash_int32's encoding) or fail loudly.
    if isinstance(dtype, T.StringType):
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("long").cast(to)
    raise ValueError(
        f"hash_column {cfg.hash_column!r} must be numeric or a hex md5 "
        f"string for strategy {MD5_SUM_HASH}; got {dtype.simpleString()}"
    )


def _block_hash(cfg: ReconcileConfig, where: Column) -> Column:
    """Block hash of the rows where ``where`` holds: masked rows are NULL to
    ``sum``/``collect_list``, which skip NULLs, so a side's hash is
    bit-identical to digesting that side alone."""
    rh = F.col("_rh")
    if cfg.strategy == MD5_SUM_HASH:
        # decimal(38,0) accumulator: overflow-proof for any block size
        return blockhash_sum(F.when(where, rh)).cast("string")
    return blockhash_ordered(rh, F.col("_oc"), where)


def _tagged(cfg: ReconcileConfig, *sides: DataFrame) -> DataFrame:
    """The sides' ``(side, x, _rh[, _oc])`` rows in one frame, ``side`` = argument
    position (0 = source, 1 = sink); an uninitialized side (no partition column)
    adds none. The order column needs one type on all sides, or integral types
    (lossless widening): a union promoting it would re-sort one side."""
    if cfg.strategy == HASH_MD5_HASH and not cfg.order_column:
        raise ValueError("hash_md5_hash requires order_column")
    live = [(side, df) for side, df in enumerate(sides) if cfg.partition_column in df.columns]
    oc = [F.col(cfg.order_column).alias("_oc")] if cfg.strategy == HASH_MD5_HASH else []
    ocs = {df.schema[cfg.order_column].dataType for _, df in live} if oc else set()
    if len(ocs) > 1 and not all(isinstance(t, T.IntegralType) for t in ocs):
        raise ValueError(f"order_column {cfg.order_column!r} differs in type between the "
                         f"sides: {sorted(t.simpleString() for t in ocs)}")
    parts = [
        df.select(F.lit(side).alias("side"), _partition_value(cfg).alias("x"),
                  _row_hash(cfg, df).alias("_rh"), *oc)
        for side, df in live
    ]
    if parts:
        return reduce(DataFrame.unionByName, parts)
    rh = "decimal(38,0)" if cfg.strategy == MD5_SUM_HASH else "string"
    return local_frame(sides[0].sparkSession, [],
                       f"side int, x long, _rh {rh}" + (", _oc string" if oc else ""))


def _in_range(lo: int | None, hi: int | None) -> Column:
    x = F.col("x")
    return (x.isNotNull() if lo is None else x >= lo) & (F.lit(True) if hi is None else x < hi)


def _level(rows: DataFrame, cfg: ReconcileConfig, interval: int,
           keep: Column | None = None) -> DataFrame:
    """One ladder level of side-tagged rows in ONE ``groupBy(bucket)``: the
    per-side ``s_rows``/``s_hash``/``k_*`` give the status — N (count+hash
    equal), M (both, differ), A (source-only), D (sink-only) — sized by the
    larger count as ``num_rows`` (``calculate_block_status``,
    ``engine/reconcile.py:258-281``). Rows failing ``keep`` only feed the
    ``x_lo``/``x_hi`` range of a NULL bucket (NULL status): their side and row
    hash are masked, so they join no count or hash and are never hashed."""
    bucket = F.floor(F.col("x") / F.lit(interval)).cast("long")
    if keep is not None:
        rows = rows.withColumns({c: F.when(keep, F.col(c)) for c in ("side", "_rh")})
        bucket = F.when(keep, bucket)
    src, snk = F.col("side") == 0, F.col("side") == 1
    d = rows.groupBy(bucket.alias("bucket")).agg(
        F.count(F.when(src, 1)).alias("s_rows"), F.count(F.when(snk, 1)).alias("k_rows"),
        _block_hash(cfg, src).alias("s_hash"), _block_hash(cfg, snk).alias("k_hash"),
        F.min("x").alias("x_lo"), F.max("x").alias("x_hi"),
    )
    s_rows, k_rows = F.col("s_rows"), F.col("k_rows")
    status = (
        F.when(F.col("bucket").isNull(), F.lit(None))
        .when(s_rows == 0, F.lit("D"))
        .when(k_rows == 0, F.lit("A"))
        .when((s_rows == k_rows) & (F.col("s_hash") == F.col("k_hash")), F.lit("N"))
        .otherwise(F.lit("M"))
    )
    return d.select("*", F.greatest(s_rows, k_rows).alias("num_rows"), status.alias("status"))


def block_digest(df: DataFrame, cfg: ReconcileConfig, interval: int,
                 lo: int, hi: int) -> DataFrame:
    """One side's per-bucket ``(num_rows, hash)`` over [lo, hi) at one ladder
    level — the Spark realization of ``build_block_hash_query``."""
    d = _level(_tagged(cfg, df).filter(_in_range(lo, hi)), cfg, interval)
    return d.select("bucket", F.col("s_rows").alias("num_rows"), F.col("s_hash").alias("hash"))


def block_status(source_df: DataFrame, sink_df: DataFrame, cfg: ReconcileConfig,
                 interval: int, lo: int | None = None, hi: int | None = None) -> DataFrame:
    """Both sides' (bucket, num_rows, status) over [lo, hi) at one ladder
    level, in one aggregate."""
    rows = _tagged(cfg, source_df, sink_df).filter(_in_range(lo, hi))
    return _level(rows, cfg, interval).select("bucket", "num_rows", "status")


@dataclass
class BlockPlan:
    """build_blocks output, iterable as ``(blocks, statuses)``. With
    ``collect_settled=False`` the (typically dominant) N blocks never reach the
    driver: a distributed aggregate folds them into ``settled_n_*``."""

    blocks: list[Block]
    statuses: list[str]
    settled_n_blocks: int = 0
    settled_n_rows: int = 0

    def __iter__(self):
        return iter((self.blocks, self.statuses))


def build_blocks(source_df: DataFrame, sink_df: DataFrame, cfg: ReconcileConfig,
                 max_level: int | None = None, collect_settled: bool = True) -> BlockPlan:
    """The full drilldown: per ladder level, ONE aggregate over both sides
    (rows filtered to mismatched parents via broadcast semi-join), emit
    settled blocks, descend into oversized M/A blocks; returns the
    merge_adjacent-coalesced blocks ordered by range start, like the
    reference. Level 1 also yields the data range [lo, hi) of
    ``get_data_range`` (``engine/reconcile.py:96-132``) as per-bucket min/max
    (with both bounds set the range is the bounds).

    ``collect_settled=False`` is the 100-TB shape: matched (N) blocks, ~the
    whole table's bucket count at a fine ladder, are counted by the level's
    one action instead of ``collect()``-ed; M/A/D + drill rows stay
    diff-sized, and the repair plan only needs M/A/D blocks."""
    intervals = cfg.intervals()
    max_level = len(intervals) if max_level is None else min(max_level, len(intervals))
    rows = _tagged(cfg, source_df, sink_df)
    bounded = cfg.start is not None and cfg.end is not None
    lo, hi = cfg.start, cfg.end
    emitted: list[Block] = []
    n_blocks_agg = n_rows_agg = 0
    drill_ids: list[int] | None = None  # parent bucket ids to descend into

    for level0, interval in enumerate(intervals[:max_level]):
        level = level0 + 1
        if drill_ids is None:  # with both bounds set, read only the rows inside
            d = _level(rows.filter(_in_range(lo, hi)), cfg, interval) if bounded else \
                _level(rows, cfg, interval, _in_range(lo, hi))
        else:
            # rows whose PARENT bucket mismatched: child buckets nest exactly
            # (intervals() guarantees child | parent); ids ride a broadcast semi-join
            pids = local_frame(rows.sparkSession, [(int(i),) for i in drill_ids], "pid long")
            cond = F.floor(F.col("x") / F.lit(intervals[level0 - 1])) == F.col("pid")
            d = _level(rows.filter(_in_range(lo, hi)).join(F.broadcast(pids), cond, "left_semi"),
                       cfg, interval)
        is_last = level == max_level
        d = d.withColumn("drill", F.col("status").isin("M", "A") & F.lit(not is_last)
                         & (F.col("num_rows") > F.lit(cfg.max_block_size)))
        if collect_settled:
            got = ranges = d.collect()
        else:  # ONE action: the diff-sized M/A/D + drill rows, N totals, range
            settled = F.col("status") == "N"
            n_agg = d.agg(
                F.collect_list(F.when(~settled, F.struct(*d.columns))).alias("rows"),
                F.count(F.when(settled, 1)).alias("nb"),
                F.coalesce(F.sum(F.when(settled, F.col("num_rows"))), F.lit(0)).alias("nr"),
                F.min("x_lo").alias("x_lo"), F.max("x_hi").alias("x_hi"),
            ).first()
            got, ranges = n_agg["rows"], [n_agg]
            n_blocks_agg += n_agg["nb"]
            n_rows_agg += int(n_agg["nr"])
        if level == 1 and not bounded:  # +1 exclusive end, clamped by the user bounds
            xs = [r for r in ranges if r["x_lo"] is not None]
            if not xs:
                raise ValueError("both sides empty: nothing to reconcile")
            lo, hi = min(r["x_lo"] for r in xs), max(r["x_hi"] for r in xs) + 1
            lo = lo if cfg.start is None else max(cfg.start, lo)
            hi = hi if cfg.end is None else min(cfg.end, hi)
        emitted += [
            Block(max(r["bucket"] * interval, lo), min((r["bucket"] + 1) * interval, hi),
                  level, r["num_rows"], r["status"])
            for r in got if r["bucket"] is not None and not r["drill"]
        ]
        drill_ids = [r["bucket"] for r in got if r["drill"]]
        if is_last or not drill_ids:
            break

    emitted.sort(key=lambda b: (b.start, b.end, b.level))
    blocks, statuses = merge_adjacent(emitted, cfg.max_block_size)
    return BlockPlan(blocks, statuses, n_blocks_agg, n_rows_agg)


def merge_adjacent(blocks: list[Block], max_block_size: int) -> tuple[list[Block], list[str]]:
    """Reference ``merge_adjacent`` (``engine/reconcile.py:284-296``): fold a
    block into its predecessor when both are the same M/A status and the
    combined count stays within ``max_block_size``. Driver-side: the block
    list is diff-sized, already reduced by the distributed digest."""
    out: list[Block] = []
    for b in blocks:
        if (
            b.status in ("M", "A")
            and out
            and out[-1].status == b.status
            # true adjacency only: empty buckets and (in collect_settled=False
            # mode) distributed-aggregated N blocks leave gaps in the list —
            # merging across a gap would widen repair ranges over settled rows
            and out[-1].end == b.start
            and out[-1].num_rows + b.num_rows <= max_block_size
        ):
            prev = out[-1]
            prev.end = max(prev.end, b.end)
            prev.num_rows += b.num_rows
        else:
            out.append(Block(b.start, b.end, b.level, b.num_rows, b.status))
    return out, [b.status for b in out]


def status_counts(blocks: list[Block] | BlockPlan) -> dict[str, int]:
    """Total row counts per status — the reference's golden-count assertion
    shape (``test_prepare_data_blocks.py:438-589``). Accepts a ``BlockPlan``
    (adds the distributed-aggregated N totals) or a plain block list."""
    out: dict[str, int] = {"N": 0, "M": 0, "A": 0, "D": 0}
    plan_blocks = blocks.blocks if isinstance(blocks, BlockPlan) else blocks
    for b in plan_blocks:
        out[b.status] += b.num_rows
    if isinstance(blocks, BlockPlan):
        out["N"] += blocks.settled_n_rows
    return out


def find_diff_timegroups(source_df: DataFrame, sink_df: DataFrame, cfg: ReconcileConfig,
                         interval: int | None = None) -> DataFrame:
    """Single-level per-timegroup digest diff (``engine/diff.py:3-5``): one
    aggregate over both sides at one interval within the user bounds, only
    the divergent groups — the reference's earlier non-hierarchical
    strategy. Output: (bucket, num_rows, status≠N). Lazy: it runs no job."""
    interval = interval or cfg.intervals()[0]
    diff = block_status(source_df, sink_df, cfg, interval, cfg.start, cfg.end)
    return diff.filter(F.col("status") != "N")


# ----------------------------------------------------------------- repair
def plan_repair(
    source_df: DataFrame,
    sink_df: DataFrame,
    cfg: ReconcileConfig,
    blocks: list[Block],
    unique_keys: list[str],
    allow_delete: bool = True,
    lsn: int = 0,
) -> DataFrame:
    """Turn the block plan into a change feed (the reference's unimplemented
    ``load`` phase, spec at ``engine/reconcile.py:437-444`` +
    ``otel.py:104-130``): for M/A ranges upsert source rows; for M ranges
    delete sink rows missing from source; for D ranges delete sink rows
    (``allow_delete`` gates deletes, ``core/config.py:159``).

    Output: source/sink columns + ``op`` ∈ {upsert, delete} + ``lsn`` —
    directly mergeable via ``LakeTable.merge_into``. Ranges are applied with a
    broadcast range-join (the block list is diff-sized); rows in N ranges are
    never read thanks to partition-column pushdown of the range predicate.
    """
    spark = source_df.sparkSession
    if cfg.partition_column not in sink_df.columns:  # uninitialized sink
        sink_df = source_df.limit(0)
    am = [(b.start, b.end) for b in blocks if b.status in ("M", "A")]
    d = [(b.start, b.end) for b in blocks if b.status == "D"]

    def in_ranges(df: DataFrame, ranges: list[tuple[int, int]]) -> DataFrame:
        if not ranges:
            return df.limit(0)
        x = _partition_value(cfg)
        rng = local_frame(spark, ranges, "r_start long, r_end long")
        return df.join(
            F.broadcast(rng), on=[(x >= rng["r_start"]) & (x < rng["r_end"])], how="left_semi"
        )

    src_rows = in_ranges(source_df, am)
    snk_rows = in_ranges(sink_df, am + d if allow_delete else [])

    upserts = src_rows.withColumn("op", F.lit("upsert"))
    if allow_delete:
        # anti-join against source keys WITHIN the divergent ranges only —
        # never a full source-key scan. Safe: a sink row in a divergent range
        # whose key lives elsewhere in source implies the key's partition
        # value moved, which itself makes the new location divergent (its
        # block has a source row the sink lacks), so the key is in this
        # restricted set and the sink row is updated by the upsert path.
        gone = snk_rows.join(
            in_ranges(source_df, am + d).select(*unique_keys),
            on=unique_keys, how="left_anti",
        ).withColumn("op", F.lit("delete"))
        changes = upserts.unionByName(gone, allowMissingColumns=True)
    else:
        changes = upserts
    return changes.withColumn("lsn", F.lit(lsn).cast("long"))
