"""M2: hierarchical hash reconciliation — the reference's golden-count
fixture (``/root/reference/test/engine/reconcile/init.sql`` +
``test_prepare_data_blocks.py:438-589``) rebuilt on DataFrames.

Fixture: ids 1..40000 in four 10k regions —
  1..10000  : identical both sides                       → N
  10001..20000: value differs (mod-19 vs mod-23; 437 ids agree) → M/N
  20001..30000: source-only                              → A
  30001..40000: sink-only                                → D
Golden totals at max_block_size=1 (full drilldown):
  A=10000  D=10000  N=10437  M=9563
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from data_sync_tool_spark.functions.hashes import (
    blockhash_ordered,
    blockhash_sum,
    rowhash_int32,
    rowhash_md5,
)
from data_sync_tool_spark.operators.reconcile import (
    HASH_MD5_HASH,
    MD5_SUM_HASH,
    Block,
    BlockPlan,
    ReconcileConfig,
    _in_range,
    _level,
    _partition_value,
    _tagged,
    build_blocks,
    find_diff_timegroups,
    merge_adjacent,
    plan_repair,
    status_counts,
)
from data_sync_tool_spark.session import local_frame
from data_sync_tool_spark.sources.lake import LakeTable

GOLDEN = {"A": 10_000, "D": 10_000, "N": 10_437, "M": 9_563}


def _side(spark, regions: dict[int, int]):
    """Build one side: {region_no: mod} — value = id%100 + (id%mod)/10,
    ts = region-specific base + id minutes (mirrors init.sql)."""
    bases = {1: "2023-01-01 00:00:00", 2: "2023-01-07 23:40:00",
             3: "2023-01-14 23:20:00", 4: "2023-01-21 23:00:00"}
    parts = []
    for region, mod in regions.items():
        lo, hi = (region - 1) * 10_000 + 1, region * 10_000
        df = spark.range(lo, hi + 1).select(
            F.col("id").cast("int").alias("id"),
            F.concat(F.lit("Item "), F.col("id")).alias("name"),
            ((F.col("id") % 100) + (F.col("id") % mod) / 10.0).alias("value"),
            (F.to_timestamp(F.lit(bases[region]))
             + F.make_interval(mins=F.col("id"))).alias("created_at"),
        )
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@pytest.fixture(scope="module")
def source(spark):
    return _side(spark, {1: 17, 2: 19, 3: 13}).cache()


@pytest.fixture(scope="module")
def sink(spark):
    return _side(spark, {1: 17, 2: 23, 4: 11}).cache()


def _cfg(**kw):
    base = dict(
        partition_column="id",
        partition_column_type="int",
        strategy=MD5_SUM_HASH,
        fields=["id", "name", "value"],
        initial_partition_interval=10_000,
        interval_reduction_factor=10,
        max_block_size=1,
    )
    base.update(kw)
    return ReconcileConfig(**base)


def test_golden_counts_int_md5sum(spark, source, sink):
    blocks, statuses = build_blocks(source, sink, _cfg())
    assert status_counts(blocks) == GOLDEN


def test_golden_counts_int_ordered_hash(spark, source, sink):
    blocks, _ = build_blocks(
        source, sink, _cfg(strategy=HASH_MD5_HASH, order_column="id")
    )
    assert status_counts(blocks) == GOLDEN


def test_golden_counts_datetime(spark, source, sink):
    cfg = _cfg(
        partition_column="created_at",
        partition_column_type="datetime",
        initial_partition_interval=7 * 24 * 3600,  # 1 week
        max_block_size=1000,
    )
    blocks, _ = build_blocks(source, sink, cfg)
    c = status_counts(blocks)
    assert c["A"] == GOLDEN["A"] and c["D"] == GOLDEN["D"]
    # coarser leaf blocks: every mismatching id is inside an M block, every
    # region-1 id inside an N block; totals conserve
    assert c["N"] + c["M"] == GOLDEN["N"] + GOLDEN["M"]
    assert c["M"] >= GOLDEN["M"]


def test_region_purity(spark, source, sink):
    """Per-range purity like the reference's per-region asserts
    (test_prepare_data_blocks.py:235-295)."""
    blocks, _ = build_blocks(source, sink, _cfg(max_block_size=100))
    for b in blocks:
        if b.end <= 10_001:
            assert b.status == "N", b
        elif 20_000 < b.start and b.end <= 30_001:
            assert b.status == "A", b
        elif 30_000 < b.start:
            assert b.status == "D", b


def test_block_size_cap(spark, source, sink):
    """No emitted M/A block exceeds max_block_size unless it is a leaf-level
    block (reference cap invariant, test_prepare_data_blocks.py:297-331)."""
    cfg = _cfg(max_block_size=100)
    leaf_level = len(cfg.intervals())
    for b, s in zip(*build_blocks(source, sink, cfg)):
        if s in ("M", "A") and b.level < leaf_level:
            assert b.num_rows <= 100


def test_precomputed_hash_column(spark, source, sink):
    """hash_column shortcut (adapters/postgres.py:58-59): digest uses the
    stored checksum; a stored-hash mismatch shows up as M even when other
    fields would match."""
    from data_sync_tool_spark.functions.hashes import rowhash_int32

    s = source.withColumn("h", rowhash_int32("id", "name", "value"))
    k = sink.withColumn("h", rowhash_int32("id", "name", "value"))
    blocks, _ = build_blocks(s, k, _cfg(hash_column="h", fields=[]))
    assert status_counts(blocks) == GOLDEN


def test_data_range_union_and_clamp(spark, source, sink):
    """The level-1 aggregate yields the data range: the plan spans the union
    of the sides with an exclusive-end +1, clamped by the user bounds."""
    def span(cfg):
        blocks = build_blocks(source, sink, cfg).blocks
        return blocks[0].start, blocks[-1].end

    assert _ref_range(source, sink, _cfg()) == (1, 40_001)
    assert span(_cfg(max_block_size=100_000)) == (1, 40_001)
    assert span(_cfg(max_block_size=100_000, start=5_000, end=12_000)) == (5_000, 12_000)
    assert span(_cfg(max_block_size=100_000, start=5_000)) == (5_000, 40_001)


def test_merge_adjacent_reference_semantics():
    blocks = [
        Block(0, 10, 2, 40, "M"),
        Block(10, 20, 2, 50, "M"),   # merges: 90 <= 100
        Block(20, 30, 2, 20, "M"),   # does not: 110 > 100
        Block(30, 40, 2, 10, "A"),   # status switch: no merge
        Block(40, 50, 2, 10, "A"),   # merges with previous A
        Block(50, 60, 2, 99, "N"),   # N never merges
        Block(60, 70, 2, 1, "N"),
    ]
    out, statuses = merge_adjacent(blocks, 100)
    assert [(b.start, b.end, b.num_rows) for b in out] == [
        (0, 20, 90), (20, 30, 20), (30, 50, 20), (50, 60, 99), (60, 70, 1)
    ]
    assert statuses == ["M", "M", "A", "N", "N"]


def test_interval_ladder_always_nests():
    """Every ladder interval exactly divides its parent — the invariant the
    drilldown's floor(bucket/ratio) parent mapping depends on. The reference's
    repeated-floor-division ladder violates it (e.g. 1y seconds at factor 10
    leaves 3153‖315), silently mapping boundary children to the wrong parent."""
    cases = [
        dict(initial_partition_interval=365 * 24 * 3600, max_block_size=1000,
             interval_reduction_factor=10),
        dict(initial_partition_interval=1000, max_block_size=10,
             interval_reduction_factor=7),
        dict(initial_partition_interval=999_983, max_block_size=3,
             interval_reduction_factor=13),
    ]
    for kw in cases:
        ladder = ReconcileConfig(partition_column="id", **kw).intervals()
        assert ladder == sorted(ladder, reverse=True)
        for parent, child in zip(ladder, ladder[1:]):
            assert parent % child == 0, (kw, ladder)


def test_boundary_mismatch_not_lost(spark):
    """One mismatched row adjacent to a coarse-bucket boundary must surface as
    exactly one M row at the leaf level, for ladders whose raw floor-division
    form misaligns (regression for the parent-mapping drop bug)."""
    src = spark.range(0, 5000).select(
        F.col("id").cast("int").alias("id"), F.col("id").cast("string").alias("v")
    )
    for bad_id in (685, 686, 999, 3429):  # around old misaligned boundaries
        snk = src.withColumn(
            "v", F.when(F.col("id") == bad_id, F.lit("CORRUPT")).otherwise(F.col("v"))
        )
        cfg = ReconcileConfig(
            partition_column="id", fields=["id", "v"],
            initial_partition_interval=1000, interval_reduction_factor=7,
            max_block_size=10,
        )
        c = status_counts(build_blocks(src, snk, cfg))
        assert c["M"] >= 1 and c["M"] <= cfg.intervals()[-1], (bad_id, c)
        assert c["A"] == 0 and c["D"] == 0
        assert c["N"] + c["M"] == 5000


def test_collect_settled_false_matches_golden(spark, source, sink):
    """Distributed-N mode: same golden totals, but N rows never reach the
    driver as per-bucket rows — plan.blocks holds only M/A/D."""
    plan = build_blocks(source, sink, _cfg(), collect_settled=False)
    assert status_counts(plan) == GOLDEN
    assert all(b.status != "N" for b in plan.blocks)
    assert plan.settled_n_rows == GOLDEN["N"]
    # repair plan from the N-free block list is identical in coverage:
    # M/A/D blocks are what plan_repair consumes
    assert status_counts(plan.blocks)["M"] == GOLDEN["M"]


def test_hash_column_hex_string(spark, source, sink):
    """A hex-md5 hash_column must NOT null out under the sum strategy
    (Spark's non-ANSI cast of hex → NULL would report every block 'M'...
    or worse, all-N when both sides go NULL)."""
    s = source.withColumn("h", F.md5(F.concat_ws("\x1f", "id", "name", "value")))
    k = sink.withColumn("h", F.md5(F.concat_ws("\x1f", "id", "name", "value")))
    blocks, _ = build_blocks(s, k, _cfg(hash_column="h", fields=[]))
    assert status_counts(blocks) == GOLDEN


def test_hash_column_bad_type_raises(spark, source, sink):
    s = source.withColumn("h", F.array(F.lit(1)))
    with pytest.raises(ValueError, match="hash_column"):
        build_blocks(s, s, _cfg(hash_column="h", fields=[]))


def test_repair_converges_to_all_N(spark, source, sink, tmp_path):
    """The load phase the reference never implemented: plan_repair → MERGE →
    re-reconcile shows zero M/A/D."""
    cfg = _cfg(max_block_size=500)
    lake = LakeTable(spark, str(tmp_path / "sink"), ["id"], n_buckets=8, checksum=False)
    lake.overwrite(sink, batch_id="seed", lsn=0)

    blocks, _ = build_blocks(source, lake.read().drop("_lsn"), cfg)
    changes = plan_repair(source, lake.read().drop("_lsn"), cfg, blocks, unique_keys=["id"], lsn=1)
    lake.merge_into(changes, batch_id="repair")

    blocks2, _ = build_blocks(source, lake.read().drop("_lsn"), cfg)
    c = status_counts(blocks2)
    assert c["M"] == 0 and c["A"] == 0 and c["D"] == 0
    assert c["N"] == 30_000  # full source now mirrored


def test_str_partition_column_hash_drilldown(spark, tmp_path):
    """str/uuid keys reconcile over the xxhash64 image of the key — the
    codepath the reference declares but raises on (adapters/postgres.py:52-53,
    its str test is disabled). Diffs localize in hash space; repair converges."""
    n = 20_000
    src = spark.range(n).select(
        F.format_string("u-%08d", F.col("id")).alias("uid"),
        (F.col("id") % 1000).alias("v"),
    )
    # 3 corrupt values + 5 sink-only keys + 5 source-only keys
    snk = (
        src.filter(~F.col("uid").isin(*[f"u-{i:08d}" for i in range(5)]))  # A
        .withColumn("v", F.when(F.col("uid").isin("u-00007777", "u-00008888",
                                                  "u-00009999"), -1)
                    .otherwise(F.col("v")))  # M
        .unionByName(spark.range(n, n + 5).select(
            F.format_string("u-%08d", F.col("id")).alias("uid"),
            F.lit(0).alias("v")))  # D
    )
    # max_block_size=1: full drilldown to single-key hash leaves, where
    # source-only/sink-only keys surface as A/D (at coarser leaves a hash
    # bucket mixes keys from both sides, so diffs settle as M blocks)
    cfg = ReconcileConfig(
        partition_column="uid", partition_column_type="str",
        fields=["uid", "v"], max_block_size=1,
    )
    plan = build_blocks(src, snk, cfg, collect_settled=False)
    c = status_counts(plan)
    assert c["A"] == 5 and c["D"] == 5 and c["M"] == 3
    assert c["N"] == n - 5 - 3

    lake = LakeTable(spark, str(tmp_path / "snk"), ["uid"], n_buckets=8, checksum=False)
    lake.overwrite(snk, batch_id="seed", lsn=0)
    cfg2 = ReconcileConfig(partition_column="uid", partition_column_type="str",
                           fields=["uid", "v"], max_block_size=200)
    blocks, _ = build_blocks(src, lake.read().drop("_lsn"), cfg2)
    changes = plan_repair(src, lake.read().drop("_lsn"), cfg2, blocks,
                          unique_keys=["uid"], lsn=1)
    lake.merge_into(changes, batch_id="repair")
    c2 = status_counts(build_blocks(src, lake.read().drop("_lsn"), cfg2))
    assert c2["M"] == 0 and c2["A"] == 0 and c2["D"] == 0 and c2["N"] == n


# ------------------------------------------------- reference-equality tests
# The two-pass plan build — a min/max range job per side, then per ladder
# level one digest per side aligned by a full-outer join — rebuilt here as
# the reference that the one-aggregate-per-level ``build_blocks`` must match
# exactly: same blocks, statuses and settled N totals.
def _ref_row_hash(cfg, df):
    if cfg.hash_column:
        h = F.col(cfg.hash_column)
        if cfg.strategy != MD5_SUM_HASH:
            return h
        if isinstance(df.schema[cfg.hash_column].dataType, T.StringType):
            return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
        return h
    cols = [F.col(c) for c in cfg.fields]
    return rowhash_int32(*cols) if cfg.strategy == MD5_SUM_HASH else rowhash_md5(*cols)


def _ref_range(source_df, sink_df, cfg):
    if cfg.start is not None and cfg.end is not None:
        return cfg.start, cfg.end
    lo, hi = None, None
    for df in (source_df, sink_df):
        if cfg.partition_column not in df.columns:
            continue
        x = _partition_value(cfg)
        r = df.agg(F.min(x).alias("lo"), F.max(x).alias("hi")).first()
        if r["lo"] is not None:
            lo = r["lo"] if lo is None else min(lo, r["lo"])
            hi = r["hi"] if hi is None else max(hi, r["hi"])
    if lo is None:
        raise ValueError("both sides empty: nothing to reconcile")
    hi = hi + 1
    if cfg.start is not None:
        lo = max(cfg.start, lo)
    if cfg.end is not None:
        hi = min(cfg.end, hi)
    return int(lo), int(hi)


def _ref_digest(df, cfg, interval, lo, hi):
    if cfg.partition_column not in df.columns:
        return local_frame(df.sparkSession, [], "bucket long, num_rows long, hash string")
    x = _partition_value(cfg)
    ordered = cfg.strategy == HASH_MD5_HASH
    pre = df.filter((x >= F.lit(lo)) & (x < F.lit(hi))).select(
        F.floor(x / F.lit(interval)).cast("long").alias("bucket"),
        _ref_row_hash(cfg, df).alias("_rh"),
        *([F.col(cfg.order_column).alias("_oc")] if ordered else []),
    )
    h = (blockhash_ordered(F.col("_rh"), F.col("_oc")) if ordered
         else blockhash_sum(F.col("_rh").cast("decimal(38,0)")).cast("string"))
    return pre.groupBy("bucket").agg(F.count(F.lit(1)).alias("num_rows"), h.alias("hash"))


def _ref_status(src, snk):
    s = src.select("bucket", F.col("num_rows").alias("s_rows"), F.col("hash").alias("s_hash"))
    k = snk.select("bucket", F.col("num_rows").alias("k_rows"), F.col("hash").alias("k_hash"))
    status = (
        F.when(F.col("s_rows").isNull(), F.lit("D"))
        .when(F.col("k_rows").isNull(), F.lit("A"))
        .when((F.col("s_rows") == F.col("k_rows")) & (F.col("s_hash") == F.col("k_hash")),
              F.lit("N"))
        .otherwise(F.lit("M"))
    )
    num_rows = F.greatest(F.coalesce("s_rows", F.lit(0)), F.coalesce("k_rows", F.lit(0)))
    return s.join(k, "bucket", "full_outer").select(
        "bucket", num_rows.alias("num_rows"), status.alias("status"))


def _ref_plans(source_df, sink_df, cfg):
    """{collect_settled: BlockPlan} of the reference. N blocks never drill,
    so the collect_settled=False plan is the same emitted list without its N
    blocks, which it counts instead."""
    spark = source_df.sparkSession
    intervals = cfg.intervals()
    lo, hi = _ref_range(source_df, sink_df, cfg)
    emitted, drill_ids = [], None
    for level0, interval in enumerate(intervals):
        level = level0 + 1
        src_d = _ref_digest(source_df, cfg, interval, lo, hi)
        snk_d = _ref_digest(sink_df, cfg, interval, lo, hi)
        if drill_ids is not None:
            ratio = intervals[level0 - 1] // interval
            parents = F.broadcast(local_frame(spark, [(i,) for i in drill_ids], "pid long"))
            cond = F.floor(F.col("bucket") / F.lit(ratio)) == F.col("pid")
            src_d = src_d.join(parents, on=cond, how="left_semi")
            snk_d = snk_d.join(parents, on=cond, how="left_semi")
        is_last = level == len(intervals)
        rows = _ref_status(src_d, snk_d).collect()
        drill = [r["status"] in ("M", "A") and r["num_rows"] > cfg.max_block_size
                 and not is_last for r in rows]
        emitted += [
            Block(max(r["bucket"] * interval, lo), min((r["bucket"] + 1) * interval, hi),
                  level, r["num_rows"], r["status"])
            for r, dr in zip(rows, drill) if not dr
        ]
        drill_ids = [r["bucket"] for r, dr in zip(rows, drill) if dr]
        if is_last or not drill_ids:
            break
    emitted.sort(key=lambda b: (b.start, b.end, b.level))
    settled = [b for b in emitted if b.status == "N"]
    return {
        True: BlockPlan(*merge_adjacent(emitted, cfg.max_block_size)),
        False: BlockPlan(*merge_adjacent([b for b in emitted if b.status != "N"],
                                         cfg.max_block_size),
                         len(settled), sum(b.num_rows for b in settled)),
    }


def _ref_diff_timegroups(source_df, sink_df, cfg, interval):
    lo, hi = _ref_range(source_df, sink_df, cfg)
    s = _ref_digest(source_df, cfg, interval, lo, hi)
    k = _ref_digest(sink_df, cfg, interval, lo, hi)
    return _ref_status(s, k).filter(F.col("status") != "N")


def _assert_plans_match(src, snk, cfg):
    want = _ref_plans(src, snk, cfg)
    for collect_settled in (True, False):
        got = build_blocks(src, snk, cfg, collect_settled=collect_settled)
        assert got == want[collect_settled], (cfg, collect_settled)


def _small_side(spark, n, mod, id_type="int"):
    """ids [0, n) minus a gap [1000, 1500): int/str/datetime partition
    columns plus a numeric and a hex-string precomputed hash."""
    df = spark.range(n).filter((F.col("id") < 1_000) | (F.col("id") >= 1_500))
    v = F.concat(F.lit("v"), (F.col("id") % mod).cast("string"))
    return df.select(
        F.col("id").cast(id_type).alias("id"), v.alias("v"),
        F.format_string("u-%06d", F.col("id")).alias("uid"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 37).alias("ts"),
        F.pmod(rowhash_int32(F.col("id"), v), F.lit(1 << 31)).cast(id_type).alias("h"),
        F.md5(F.concat_ws("|", F.col("id").cast("string"), v)).alias("hx"),
    )


@pytest.fixture(scope="module")
def small(spark):
    """Source and sink that differ in values (``v`` from id % 7 vs id % 11),
    in source-only ids (all but every third id in [200, 2600), and
    3000..3199) and in sink-only ids (below 200)."""
    src = _small_side(spark, 3_200, 7).filter(F.col("id") >= 200).cache()
    snk = _small_side(spark, 3_000, 11).filter(
        (F.col("id") < 200) | (F.col("id") % 3 == 0) | (F.col("id") >= 2_600)
    ).cache()
    return src, snk


@pytest.mark.parametrize("max_block_size", [1, 100, 1000])
def test_golden_plan_matches_reference(spark, source, sink, max_block_size):
    _assert_plans_match(source, sink, _cfg(max_block_size=max_block_size))


@pytest.mark.parametrize("kw", [
    dict(strategy=HASH_MD5_HASH, order_column="id"),
    dict(hash_column="h", fields=[]),
    dict(hash_column="hx", fields=[]),
    dict(strategy=HASH_MD5_HASH, order_column="id", hash_column="hx", fields=[]),
    dict(partition_column="ts", partition_column_type="datetime",
         initial_partition_interval=86_400),
    dict(partition_column="uid", partition_column_type="str",
         initial_partition_interval=1 << 28, interval_reduction_factor=16),
    # start-only inside the data gap, its level-1 block kept whole: the block
    # starts at the bound, not at the first row after it
    dict(start=1_200, max_block_size=1_000),
    dict(start=10_000),  # start-only, beyond all data: empty plan
    dict(end=2_000),
    dict(start=500, end=2_500),
], ids=["ordered", "hash-numeric", "hash-hex", "ordered-hash-hex", "datetime", "str",
        "start-in-gap", "start-beyond", "end-only", "both-bounds"])
def test_plan_matches_reference(spark, small, kw):
    src, snk = small
    base = dict(partition_column="id", fields=["id", "v"], initial_partition_interval=1_000,
                max_block_size=100)
    cfg = ReconcileConfig(**{**base, **kw})
    _assert_plans_match(src, snk, cfg)
    if kw.get("start") == 10_000:
        assert build_blocks(src, snk, cfg).blocks == []


def test_plan_matches_reference_on_edge_inputs(spark, small):
    src, snk = small
    cfg = ReconcileConfig(partition_column="id", fields=["id", "v"],
                          initial_partition_interval=1_000, max_block_size=100)
    empty_src, empty_snk = src.limit(0), snk.limit(0)
    # both sides empty: the same error, in both modes
    for collect_settled in (True, False):
        with pytest.raises(ValueError, match="both sides empty"):
            build_blocks(empty_src, empty_snk, cfg, collect_settled=collect_settled)
    with pytest.raises(ValueError, match="both sides empty"):
        _ref_range(empty_src, empty_snk, cfg)
    # both bounds over empty (and uninitialized) inputs: an empty plan, no error
    bounded = ReconcileConfig(**{**cfg.__dict__, "start": 0, "end": 5_000})
    uninit = local_frame(spark, [], T.StructType([]))
    for a, b in ((empty_src, empty_snk), (uninit, uninit)):
        _assert_plans_match(a, b, bounded)
        assert build_blocks(a, b, bounded).blocks == []
    # an uninitialized sink (no partition column): every source block is A
    _assert_plans_match(src, uninit, cfg)
    assert set(build_blocks(src, uninit, cfg).statuses) == {"A"}
    # int vs long partition, order and hash columns: widening in the union
    # cannot change either side's hash
    wide = _small_side(spark, 3_000, 11, id_type="long")
    for kw in (dict(hash_column="h", fields=[]),
               dict(strategy=HASH_MD5_HASH, order_column="id", hash_column="h", fields=[])):
        _assert_plans_match(src, wide, ReconcileConfig(**{**cfg.__dict__, **kw}))


@pytest.mark.parametrize("which", ["golden", "small-bounded"])
def test_diff_timegroups_matches_reference(spark, source, sink, small, which):
    if which == "golden":
        src, snk, cfg, interval = source, sink, _cfg(), 1_000
    else:
        src, snk = small
        cfg = ReconcileConfig(partition_column="id", fields=["id", "v"], start=300,
                              strategy=HASH_MD5_HASH, order_column="id")
        interval = 100
    got = find_diff_timegroups(src, snk, cfg, interval=interval).collect()
    want = _ref_diff_timegroups(src, snk, cfg, interval).collect()
    assert sorted(got) == sorted(want) and got


@pytest.mark.parametrize("strategy", [MD5_SUM_HASH, HASH_MD5_HASH])
def test_rows_outside_one_bound_only_feed_the_range(spark, small, strategy):
    """Level 1 of a start-only config reads every row for the range, but rows
    below the bound reach neither a count nor a block hash: the NULL bucket
    hashes no row (an ordered digest of nothing is md5 of "")."""
    src, snk = small
    cfg = ReconcileConfig(partition_column="id", fields=["id", "v"], strategy=strategy,
                          order_column="id", start=1_200)
    d = _level(_tagged(cfg, src, snk), cfg, 1_000, _in_range(cfg.start, None))
    (out,) = d.filter(F.col("bucket").isNull()).collect()
    empty = None if strategy == MD5_SUM_HASH else hashlib.md5(b"").hexdigest()
    assert (out["s_rows"], out["k_rows"], out["s_hash"], out["k_hash"]) == (0, 0, empty, empty)
    assert (out["x_lo"], out["x_hi"], out["status"]) == (0, 999, None)
    # the in-window buckets digest exactly the rows at or above the bound
    inside = {r["bucket"]: r for r in d.filter(F.col("bucket").isNotNull()).collect()}
    want = _ref_digest(src, cfg, 1_000, 1_200, 10_000).collect()
    assert {r["bucket"]: (r["num_rows"], r["hash"]) for r in want} == {
        b: (r["s_rows"], r["s_hash"]) for b, r in inside.items()}


def test_order_column_types_must_agree(spark, small):
    """An order column the union would promote (int vs string, date vs int)
    raises a clear error instead of re-sorting one side or failing in the
    analyzer; integral types widen losslessly (matched in the edge test)."""
    src, snk = small
    cfg = ReconcileConfig(partition_column="id", fields=["id", "v"], strategy=HASH_MD5_HASH,
                          order_column="o", initial_partition_interval=1_000,
                          max_block_size=100)
    for a, b in ((F.col("id"), F.col("id").cast("string")),
                 (F.to_date("ts"), F.col("id"))):
        with pytest.raises(ValueError, match="order_column 'o' differs in type"):
            build_blocks(src.withColumn("o", a), snk.withColumn("o", b), cfg)
