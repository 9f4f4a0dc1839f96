"""Physical-plan shape assertions: the optimizer properties SURVEY §4 relies
on must hold in the actual executed plans — a perf regression (lost pushdown,
lost broadcast, lost map-side combine) fails here, not in production."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_sync_tool_spark import queries as Q
from data_sync_tool_spark.functions.hashes import salted_key
from data_sync_tool_spark.operators.dedupe import lww_dedupe
from data_sync_tool_spark.plans.query import Field, Join, Query, build_dataframe
from data_sync_tool_spark.sources.registry import changelog, read_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filters_push_to_parquet_scan(spark, sf_small):
    plan = _plan(Q.q_filter_predicates(spark, sf_small))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_quan" in plan  # BETWEEN lower bound reached the scan
    # toString truncates the pushed-filter list; the IN predicate is visible
    # in the Filter operator (and pushes as In(l_returnflag,...) in full plans)
    import re

    assert re.search(r"l_returnflag#\d+ IN \(A,N\)", plan)


def test_scan_reads_only_projected_columns(spark, sf_small):
    plan = _plan(Q.q_agg_pricing_summary(spark, sf_small))
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    # 5 needed columns and nothing else (no l_orderkey/l_partkey/...)
    assert "l_quantity" in read_schema and "l_orderkey" not in read_schema


def test_dim_joins_broadcast(spark, sf_small):
    plan = _plan(Q.q_join_orders_per_nation(spark, sf_small))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # both dims are broadcast-sized


def test_topk_uses_take_ordered_not_global_sort(spark, sf_small):
    plan = _plan(Q.q_top_orders(spark, sf_small))
    assert "TakeOrderedAndProject" in plan


def test_lww_dedupe_has_partial_aggregation(spark, sf_small):
    """The skew-safety claim: the dedupe aggregate must have a map-side
    PARTIAL phase before the shuffle (hot keys pre-reduce on every input
    partition) and must not be a window sort. struct-max compiles to
    SortAggregate in Spark 4 — the partial_max phase is what matters."""
    plan = _plan(lww_dedupe(changelog(spark, sf_small), ["conv_id", "turn_idx"]))
    assert "partial_max" in plan
    assert plan.index("partial_max") > plan.index("Exchange")  # partial below/before shuffle
    assert "Window" not in plan


def test_no_cartesian_product_in_lsh_paths(spark, sf_small):
    from data_sync_tool_spark.operators.dedup_suite import minhash_lsh_pairs

    docs = read_table(spark, sf_small, "documents")
    plan = _plan(minhash_lsh_pairs(docs, threshold=0.9))
    assert "CartesianProduct" not in plan


def test_right_and_full_joins(spark, sf_small):
    tables = {
        "nation": read_table(spark, sf_small, "nation"),
        "region": read_table(spark, sf_small, "region"),
    }
    q_right = Query(
        select=[Field("r.r_name", "region_name"), Field("n.n_name", "nation_name")],
        table="nation", table_alias="n",
        joins=[Join(table="region", alias="r", on="n.n_regionkey = r.r_regionkey",
                    type="right")],
    )
    right_rows = build_dataframe(spark, q_right, tables).count()
    assert right_rows >= tables["nation"].count()
    q_full = Query(
        select=[Field("coalesce(r.r_name, 'none')", "region_name"),
                Field("count(n.n_nationkey)", "cnt")],
        table="nation", table_alias="n",
        joins=[Join(table="region", alias="r",
                    on="n.n_regionkey = r.r_regionkey + 100", type="full")],
        group_by=["coalesce(r.r_name, 'none')"],
    )
    out = {r.region_name: r.cnt for r in build_dataframe(spark, q_full, tables).collect()}
    assert out["none"] == tables["nation"].count()  # nothing matched the shifted key


def test_semi_and_anti_joins(spark, sf_small):
    tables = {
        "orders": read_table(spark, sf_small, "orders"),
        "customer": read_table(spark, sf_small, "customer"),
    }
    q_semi = Query(
        select=[Field("c.c_custkey")],
        table="customer", table_alias="c",
        joins=[Join(table="orders", alias="o", on="c.c_custkey = o.o_custkey",
                    type="left_semi")],
    )
    q_anti = Query(
        select=[Field("c.c_custkey")],
        table="customer", table_alias="c",
        joins=[Join(table="orders", alias="o", on="c.c_custkey = o.o_custkey",
                    type="left_anti")],
    )
    n_semi = build_dataframe(spark, q_semi, tables).count()
    n_anti = build_dataframe(spark, q_anti, tables).count()
    assert n_semi + n_anti == tables["customer"].count()
    assert n_semi > 0


def test_salted_key_is_deterministic_and_bounded(spark):
    df = spark.range(10_000).select(F.col("id").cast("string").alias("k"))
    out = df.select("k", salted_key(F.col("k"), 8).alias("s"))
    stats = out.agg(F.min("s"), F.max("s"), F.countDistinct("s")).first()
    assert stats[0] >= 0 and stats[1] <= 7 and stats[2] == 8
    # deterministic across partitionings
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, df.repartition(7).select("k", salted_key(F.col("k"), 8).alias("s")).collect()))
    assert a == b


def test_repair_anti_join_is_range_restricted(spark):
    """plan_repair's delete anti-join must scan only source rows inside the
    divergent ranges (a full source-key scan defeats block reconcile): the
    executed plan carries a range semi-join on BOTH the sink rows and the
    anti-join's source side."""
    from data_sync_tool_spark.operators.reconcile import (
        Block,
        ReconcileConfig,
        plan_repair,
    )

    src = spark.range(0, 10_000).select(F.col("id"), F.col("id").alias("v"))
    snk = src.withColumn("v", F.col("v") + (F.col("id") == 7).cast("long"))
    cfg = ReconcileConfig(partition_column="id", fields=["id", "v"])
    blocks = [Block(0, 1_000, 2, 1_000, "M")]
    changes = plan_repair(src, snk, cfg, blocks, unique_keys=["id"], lsn=1)
    plan = _plan(changes)
    assert plan.count("LeftSemi") >= 2  # sink rows AND anti-join source side
    assert "LeftAnti" in plan


def test_fine_ladder_settled_blocks_stay_distributed(spark):
    """10M rows, interval 100 ⇒ ~100k level-1 buckets, all but one N: the
    driver must hold only the diff-sized M/A/D list while the N mass stays a
    distributed aggregate (VERDICT r01 #3)."""
    from data_sync_tool_spark.operators.reconcile import (
        ReconcileConfig,
        build_blocks,
        status_counts,
    )

    n = 10_000_000
    src = spark.range(0, n).select(F.col("id"), (F.col("id") % 97).alias("v"))
    snk = src.withColumn(
        "v", F.when(F.col("id") == 5_431_777, F.lit(-1)).otherwise(F.col("v"))
    )
    cfg = ReconcileConfig(
        partition_column="id", fields=["id", "v"],
        initial_partition_interval=100, max_block_size=10,
    )
    plan = build_blocks(src, snk, cfg, collect_settled=False)
    # the corrupt row surfaces; the driver-side list is diff-sized, not
    # bucket-sized (~100k level-1 buckets stayed distributed)
    c = status_counts(plan)
    assert c["M"] >= 1 and c["A"] == 0 and c["D"] == 0
    assert c["N"] + c["M"] == n
    assert len(plan.blocks) < 100
    assert plan.settled_n_blocks >= 99_000


def test_asof_join_is_single_shuffle_no_join_node(spark):
    """asof_join's scale contract: a union + ONE window shuffle on the key —
    never a join-node candidate blow-up (a range-join formulation
    materializes every (left, right-before) pair per key before reducing)."""
    from data_sync_tool_spark.operators.temporal import asof_join

    left = spark.range(10_000).select(
        (F.col("id") % 50).cast("string").alias("uid"),
        F.col("id").alias("ts"), F.lit("l").alias("tag"),
    )
    right = spark.range(1_000).select(
        (F.col("id") % 50).cast("string").alias("uid"),
        (F.col("id") * 7).alias("ts"), F.lit("v").alias("val"),
    )
    plan = _plan(asof_join(left, right, on="ts", by=["uid"]))
    for node in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
                 "CartesianProduct"):
        assert node not in plan, node
    assert plan.count("Exchange hashpartitioning") == 1  # the window shuffle
    assert "Window" in plan


def test_key_range_read_pushes_filter_to_scan(spark, tmp_path):
    """read(ranges=...) on a key column must combine BOTH pruning layers:
    manifest zone maps drop whole files before the plan exists, and the residual
    range condition reaches the parquet scan as a data filter (row-group
    statistics pruning) instead of a post-scan Filter node."""
    from data_sync_tool_spark.sources.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4,
                  merge_mode="mor", checksum=False)
    for i in range(3):
        b = spark.range(i * 1000, (i + 1) * 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
            F.lit("insert").alias("op"), F.col("id").alias("lsn"),
        )
        t.merge_into(b, batch_id=f"r{i}")
    df = t.read(ranges={"k": [(1100, 1200)]})
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "(k#" in scan and ">= 1100" in scan and "< 1200" in scan, scan
    # zone maps pruned commits r0/r2 before the scan: one commit's files only
    assert "InMemoryFileIndex(4 paths)" in scan, scan


def test_ir_broadcast_hint_yields_broadcast_joins(spark):
    """Join(broadcast=True) must compile to a broadcast hash/semi join —
    the big side never shuffles — and left_anti stays an anti join."""
    from data_sync_tool_spark.plans.query import (
        Field, Filter, Join, Query, build_dataframe,
    )

    big = spark.range(10_000).select(F.col("id").alias("k"),
                                     (F.col("id") % 7).alias("dim_id"))
    dim = spark.range(1).select(F.col("id").alias("dim_id"))  # only dim_id=0
    block = spark.range(100).select((F.col("id") * 100).alias("k"))
    q = Query(
        select=[Field("b.k", "k")],
        table="big",
        table_alias="b",
        joins=[
            Join(table="dim", alias="d", on="b.dim_id = d.dim_id",
                 type="left_semi", broadcast=True),
            Join(table="block", alias="x", on="b.k = x.k", type="left_anti"),
        ],
    )
    df = build_dataframe(spark, q, {"big": big, "dim": dim, "block": block})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    # correctness: k%7==0 rows (semi) minus the blocked 100-multiples (anti)
    want = {k for k in range(0, 10_000) if k % 7 == 0 and k % 100 != 0}
    assert {r.k for r in df.collect()} == want


def test_holistic_plus_distinct_agg_splits_into_joined_aggregates(spark):
    """A group-by mixing percentile/median with COUNT(DISTINCT): Spark's
    single-aggregate plan rewrites the holistic aggregates to run their
    value-buffers per (group × distinct-key) PARTIAL group — percentile
    state per fine-grained key pair, measured ~2× the stage. The IR must
    split the distinct aggregate into a second groupBy joined on the group
    keys, so the percentile buffers aggregate by the group key alone: the
    plan carries a join of two aggregates, and no aggregate groups by the
    distinct column together with a percentile buffer."""
    from data_sync_tool_spark.plans.query import Field, Query, build_dataframe

    t = spark.range(1000).select(
        (F.col("id") % 5).alias("g"), (F.col("id") % 37).alias("c"),
        (F.col("id") * 1.5).alias("v"),
    )
    q = Query(
        select=[
            Field("g"),
            Field("round(percentile(v, 0.5), 4)", "p50"),
            Field("count(distinct c)", "nc"),
        ],
        table="t", group_by=["g"],
    )
    df = build_dataframe(spark, q, {"t": t})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan, plan  # two aggregates joined on the group key
    # no ObjectHashAggregate keyed on BOTH the group alias and the distinct
    # column (the fused plan's shape): percentile buffers group by _gb0 only
    import re
    for m in re.finditer(r"ObjectHashAggregate\(keys=\[([^\]]*)\]", plan):
        assert "c#" not in m.group(1), plan
    rows = {r["g"]: (r["p50"], r["nc"]) for r in df.collect()}
    # oracle by hand: group g holds ids g, g+5, ..., distinct c count and median
    import statistics
    for g in range(5):
        ids = [i for i in range(1000) if i % 5 == g]
        assert rows[g][1] == len({i % 37 for i in ids})
        assert rows[g][0] == round(statistics.median([i * 1.5 for i in ids]), 4)


def test_pq_adc_plans_have_no_pair_join(spark):
    """round-5 verdict item: PQ scoring must never plan a (query, code)
    pair join, even when no relation is under the autoBroadcast threshold
    — a non-equi scoring join past it silently degrades to a
    CartesianProduct with the corpus side unbounded. ``pq_topk`` and
    ``pq_topk_refined`` score in the top-k kernel's ``MapInPandas``, with
    no nested-loop join of either kind."""
    import numpy as np

    from data_sync_tool_spark.operators.pq import (
        pq_encode,
        pq_topk,
        pq_topk_refined,
        pq_train,
    )
    from data_sync_tool_spark.session import local_frame

    rng = np.random.default_rng(11)
    rows = [(int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    df = local_frame(spark, rows, "vec_id long, embedding array<double>")
    books = pq_train(df, m=4, k=4)
    codes = pq_encode(df, books)
    q = df.filter(F.col("vec_id") < 12)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # past-threshold regime: nothing auto-broadcasts
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
        for out in (pq_topk(codes, q, books, k=3),
                    pq_topk_refined(codes, df, q, books, k=3)):
            plan = _plan(out)
            assert "MapInPandas" in plan
            assert "CartesianProduct" not in plan
            assert "NestedLoopJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.mark.parametrize("strategy", ["upsert", "collapse"])
def test_append_merge_dedupes_inside_the_write_exchange(spark, tmp_path, monkeypatch, strategy):
    """An append-shape merge (MoR upsert, collapse) dedupes its batch over
    the write's own bucket exchange: the plan under the delta write holds
    exactly ONE Exchange, the hash on ``_bucket``, and each touched bucket
    still gets one delta file."""
    from pyspark.sql.readwriter import DataFrameWriter

    from data_sync_tool_spark.session import local_frame
    from data_sync_tool_spark.sources.lake import LakeTable

    plans = []
    orig = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans.append(_plan(self._df))
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4, merge_mode="mor")
    batch = local_frame(spark, [(f"k{i % 9}", f"v{i}", "upsert", i) for i in range(40)],
                        "k string, v string, op string, lsn long")
    res = t.merge_into(batch, batch_id="b", strategy=strategy)
    assert len(plans) == 1 and plans[0].count("Exchange") == 1, plans
    assert "Exchange hashpartitioning(_bucket" in plans[0], plans[0]
    m = t._load_manifest()
    assert all(len(m["buckets"][str(b)]["delta"]) == 1 for b in res.touched_buckets)
    assert res.rows_written == 9
