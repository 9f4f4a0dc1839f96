"""Query catalog: every operator from SURVEY.md §2 as a (Spark callable,
DuckDB oracle SQL) pair. ``__spark_entry__`` re-exports these.

Conventions that keep the driver's value-hash compare honest:
- every computed column is aliased IDENTICALLY in the Spark plan and the SQL;
- float aggregates are rounded in-query on BOTH sides (summation order
  differs across engines);
- hashed string images use the same canonical form both sides
  (``functions.hashes.concat_fields``: chr(31) separator, chr(0) for NULL).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import text as TX
from .functions.hashes import rowhash_int32
from .operators.reconcile import (
    HASH_MD5_HASH,
    MD5_SUM_HASH,
    ReconcileConfig,
    block_digest,
    block_status,
)
from .plans.query import Field, Filter, Join, Pivot, Query, Unpivot, build_dataframe
from .sources.registry import read_table

QueryFn = Callable[[SparkSession, str], DataFrame]

# DuckDB image of functions.hashes.rowhash_int32 / concat_fields
def _dd_rowhash(*cols: str) -> str:
    parts = ", ".join(f"coalesce(CAST({c} AS STRING), chr(0))" for c in cols)
    return f"CAST(('0x' || substr(md5(concat_ws(chr(31), {parts})), 1, 8)) AS BIGINT)"


def _sorted(df: DataFrame, *cols: str) -> DataFrame:
    """Deterministic ORDER BY with a shuffle barrier for plans whose FINAL
    stage is expensive (similarity verifies, regex scoring): a global sort
    range-samples its child with a separate job, and without the barrier
    that sample re-executes everything after the plan's last exchange a
    second time. The hash repartition materializes the (small) result as
    shuffle files once; both the sample and the sort reread those.
    Measured 1.3-2x on the dedup/similarity catalog queries at sf0.1."""
    return df.repartition(*[F.col(c) for c in cols]).orderBy(*cols)


def _tables(spark: SparkSession, sf_dir: str, names: list[str]) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in names}


def _fan(df: DataFrame, heavy: bool = False) -> DataFrame:
    """Scale-adaptive fan-out before per-row-heavy projections: a small sf's
    table arrives as 1-4 parquet splits, which would serialize the regex/
    hash/scoring map work regardless of core count; a production input with
    ≥ parallelism splits passes through untouched. ``heavy`` marks
    projections whose per-byte cost justifies an exchange even on ~100 KB
    inputs (multi-regex scoring, gram explodes); plain projections only fan
    out past the default break-even size (see dedup_suite)."""
    from .operators.dedup_suite import (
        _FANOUT_MIN_BYTES,
        _FANOUT_MIN_BYTES_HEAVY,
        _ensure_parallelism,
    )

    return _ensure_parallelism(
        df, _FANOUT_MIN_BYTES_HEAVY if heavy else _FANOUT_MIN_BYTES
    )


# --------------------------------------------------------------------------
# Run-scoped scratch + shared fixtures for the lake-family catalog queries.
#
# The lake queries replay the full change stream into a fresh table before
# the phase they actually demonstrate (sync step / view refresh / pruned
# read). That replay is a FIXTURE, not the operator under test — so it is
# built once per process per (sf_dir, table config) and shared, keeping each
# query's incremental sync/refresh/serve phase live on every call. All
# scratch tables live under one root removed at interpreter exit (they used
# to leak mkdtemp dirs into /tmp on every correctness/bench run).

_SCRATCH_ROOT: str | None = None
_MEMO: dict[tuple, tuple[str, object]] = {}


def _scratch_dir(prefix: str) -> str:
    global _SCRATCH_ROOT
    import atexit
    import os
    import shutil
    import tempfile

    if _SCRATCH_ROOT is None or not os.path.isdir(_SCRATCH_ROOT):
        root = tempfile.mkdtemp(prefix="dst_scratch_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_ROOT = root
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _memo(spark: SparkSession, key: tuple, build: Callable[[], object]) -> object:
    """Per-process memo keyed additionally on the Spark application id —
    a cached LakeTable handle is only valid within the session it was
    built in."""
    app = spark.sparkContext.applicationId
    hit = _MEMO.get(key)
    if hit is not None and hit[0] == app:
        return hit[1]
    val = build()
    _MEMO[key] = (app, val)
    return val


def _replayed_lake(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_buckets: int = 16,
    batches: int = 3,
    bloom_filters: bool = False,
    stats_columns: tuple[str, ...] = (),
    prefix: str = "dst_lake_",
):
    """The change stream replayed into a MoR lake in ``batches`` lsn
    windows — the shared upstream for the sync/view/serve queries.
    Returns ``(table, window_his)``: ``window_his[i]`` is the max lsn of
    replay window ``i``, so a consumer can drain the fully-replayed source
    stepwise (``changes_since(..., max_lsn=hi)``) exactly as if it ran
    beside the ingest."""
    import os

    from .sources.lake import LakeTable
    from .sources.registry import changelog, changelog_max_lsn

    key = ("replay", os.path.abspath(sf_dir), n_buckets, batches,
           bloom_filters, tuple(stats_columns))

    def build():
        ch = changelog(spark, sf_dir)
        table = LakeTable(
            spark, _scratch_dir(prefix), ["conv_id", "turn_idx"],
            n_buckets=n_buckets, merge_mode="mor",
            bloom_filters=bloom_filters,
            stats_columns=list(stats_columns),
        )
        n = changelog_max_lsn(spark, sf_dir) + 1
        step = max(1, n // batches)
        his: list[int] = []
        for i, lo in enumerate(range(0, n, step)):
            batch = ch.filter((F.col("lsn") >= lo) & (F.col("lsn") < lo + step))
            table.merge_into(batch, batch_id=f"replay-b{i}")
            his.append(min(lo + step, n) - 1)
        return table, his

    return _memo(spark, key, build)


# ---------------------------------------------------------------------------
# §2.4 aggregations — TPC-H Q1 shape on lineitem
def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = Query(
        select=[
            Field("l_returnflag"),
            Field("l_linestatus"),
            Field("round(sum(l_quantity), 2)", "sum_qty"),
            Field("round(sum(l_extendedprice * (1 - l_discount)), 2)", "sum_disc_price"),
            Field("round(avg(l_discount), 6)", "avg_disc"),
            Field("count(1)", "count_order"),
        ],
        table="lineitem",
        filters=[Filter("l_shipdate", "<=", "1998-09-01 00:00:00")],
        group_by=["l_returnflag", "l_linestatus"],
        order_by=[("l_returnflag", "asc"), ("l_linestatus", "asc")],
    )
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["lineitem"]))


ORACLE_AGG_PRICING = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                          AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2)  AS sum_disc_price,
           round(avg(l_discount), 6)                          AS avg_disc,
           count(1)                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


# §2.4+ dispersion/quantile aggregates (beyond the reference's
# sum/count/avg/min/max, core/query.py:36-41): exact interpolated percentile
# (Spark `percentile` ≡ ANSI PERCENTILE_CONT ≡ DuckDB quantile_cont), median,
# sample stddev/variance, COUNT(DISTINCT). All flow through the same Query IR
# — Field.expr is any Spark-SQL expression, so the aggregate surface is open.
# Floats are rounded on BOTH sides: interpolation is the same formula on the
# same doubles (bit-identical), but stddev/var sum in engine-dependent order.
def q_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = Query(
        select=[
            Field("o_orderpriority", "priority"),
            Field("round(percentile(o_totalprice, 0.25), 4)", "p25_price"),
            Field("round(median(o_totalprice), 4)", "median_price"),
            Field("round(percentile(o_totalprice, 0.95), 4)", "p95_price"),
            Field("round(stddev_samp(o_totalprice), 2)", "stddev_price"),
            Field("round(var_samp(o_totalprice) / 1e6, 3)", "var_price_m"),
            Field("count(distinct o_custkey)", "n_customers"),
        ],
        table="orders",
        filters=[Filter("o_orderstatus", "!=", "P")],
        group_by=["o_orderpriority"],
        order_by=[("priority", "asc")],
    )
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["orders"]))


ORACLE_PERCENTILE_STATS = """
    SELECT o_orderpriority                              AS priority,
           round(quantile_cont(o_totalprice, 0.25), 4)  AS p25_price,
           round(median(o_totalprice), 4)               AS median_price,
           round(quantile_cont(o_totalprice, 0.95), 4)  AS p95_price,
           round(stddev_samp(o_totalprice), 2)          AS stddev_price,
           round(var_samp(o_totalprice) / 1e6, 3)       AS var_price_m,
           count(DISTINCT o_custkey)                    AS n_customers
    FROM orders
    WHERE o_orderstatus <> 'P'
    GROUP BY o_orderpriority ORDER BY priority
"""


# §2.4+ pivot/unpivot rotations (Spark-native IR extensions). The pivot value
# list is EXPLICIT (deterministic schema, no values-discovery scan); the ANSI
# oracle image is one FILTER aggregate per value. The unpivot query melts the
# pivoted wide form back to long and drops the NULL cells (absent combos) with
# a post-rotation HAVING — exercising pivot → unpivot → having composition.
def q_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = Query(
        select=[Field("l_linestatus", "linestatus")],
        table="lineitem",
        group_by=["l_linestatus"],
        pivot=Pivot(
            column="l_returnflag", values=["A", "N", "R"],
            agg="round(sum(l_quantity), 2)", prefix="qty_",
        ),
        order_by=[("linestatus", "asc")],
    )
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["lineitem"]))


ORACLE_PIVOT = """
    SELECT l_linestatus AS linestatus,
           round(sum(l_quantity) FILTER (WHERE l_returnflag = 'A'), 2) AS qty_A,
           round(sum(l_quantity) FILTER (WHERE l_returnflag = 'N'), 2) AS qty_N,
           round(sum(l_quantity) FILTER (WHERE l_returnflag = 'R'), 2) AS qty_R
    FROM lineitem GROUP BY l_linestatus ORDER BY linestatus
"""


def q_unpivot_flag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = Query(
        select=[Field("l_linestatus", "linestatus")],
        table="lineitem",
        group_by=["l_linestatus"],
        pivot=Pivot(
            column="l_returnflag", values=["A", "N", "R"],
            agg="round(sum(l_quantity), 2)", prefix="qty_",
        ),
        unpivot=Unpivot(
            ids=["linestatus"], cols=["qty_A", "qty_N", "qty_R"],
            var_name="metric", value_name="qty",
        ),
        # Spark's unpivot KEEPS null cells (unlike SQL Server UNPIVOT);
        # drop them so the long form equals the natural GROUP BY image
        having=[Filter("qty", "is_not_null")],
        order_by=[("linestatus", "asc"), ("metric", "asc")],
    )
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["lineitem"]))


ORACLE_UNPIVOT = """
    SELECT l_linestatus AS linestatus,
           'qty_' || l_returnflag AS metric,
           round(sum(l_quantity), 2) AS qty
    FROM lineitem WHERE l_returnflag IN ('A', 'N', 'R')
    GROUP BY l_linestatus, l_returnflag ORDER BY linestatus, metric
"""


# §2.3 joins — customer ⋈ orders ⋈ nation (multi-join pipeline, config.yaml:63-71)
def q_join_orders_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = Query(
        select=[
            Field("n.n_name", "nation_name"),
            Field("count(1)", "order_cnt"),
            Field("round(sum(o.o_totalprice), 2)", "total_spend"),
        ],
        table="orders",
        table_alias="o",
        joins=[
            Join(table="customer", alias="c", on="o.o_custkey = c.c_custkey", type="inner"),
            Join(table="nation", alias="n", on="c.c_nationkey = n.n_nationkey", type="inner"),
        ],
        filters=[Filter("o.o_orderstatus", "!=", "P")],
        group_by=["n.n_name"],
        order_by=[("n_name", "asc")],
    )
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["orders", "customer", "nation"]))


ORACLE_JOIN_NATION = """
    SELECT n.n_name AS nation_name, count(1) AS order_cnt,
           round(sum(o.o_totalprice), 2) AS total_spend
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus <> 'P'
    GROUP BY n.n_name ORDER BY n.n_name
"""


def q_left_join_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = Query(
        select=[
            Field("r.r_name", "region_name"),
            Field("count(n.n_nationkey)", "nation_cnt"),
        ],
        table="region",
        table_alias="r",
        joins=[Join(table="nation", alias="n", on="n.n_regionkey = r.r_regionkey", type="left")],
        group_by=["r.r_name"],
        order_by=[("region_name", "asc")],
    )
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["region", "nation"]))


ORACLE_LEFT_JOIN = """
    SELECT r.r_name AS region_name, count(n.n_nationkey) AS nation_cnt
    FROM region r LEFT JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY region_name
"""


# §2.2 predicates — IN / BETWEEN / NOT / comparison (sqlglot1.py:73-106)
def q_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = Query(
        select=[
            Field("l_orderkey"), Field("l_linenumber"), Field("l_quantity"),
            Field("l_returnflag"),
        ],
        table="lineitem",
        filters=[
            Filter("l_quantity", "between", (10, 20)),
            Filter("l_returnflag", "in", ["A", "N"]),
            Filter("l_linestatus", "not_in", ["X"]),
            Filter("l_discount", ">", 0.05),
        ],
        order_by=[("l_orderkey", "asc"), ("l_linenumber", "asc")],
        limit=500,
    )
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["lineitem"]))


ORACLE_FILTERS = """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'N')
      AND l_linestatus NOT IN ('X')
      AND l_discount > 0.05
    ORDER BY l_orderkey, l_linenumber LIMIT 500
"""


# §2.2 CASE expression (sqlglot1.py:63-65)
def q_case_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = Query(
        select=[
            Field(
                "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high' "
                "WHEN o_orderpriority = '3-MEDIUM' THEN 'medium' ELSE 'low' END",
                "priority_class",
            ),
            Field("count(1)", "cnt"),
        ],
        table="orders",
        group_by=[
            "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high' "
            "WHEN o_orderpriority = '3-MEDIUM' THEN 'medium' ELSE 'low' END"
        ],
        order_by=[("priority_class", "asc")],
    )
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["orders"]))


ORACLE_CASE = """
    SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high'
                WHEN o_orderpriority = '3-MEDIUM' THEN 'medium' ELSE 'low' END AS priority_class,
           count(1) AS cnt
    FROM orders GROUP BY 1 ORDER BY priority_class
"""


# §2.5 ORDER BY + LIMIT (top-k)
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = Query(
        select=[Field("o_orderkey"), Field("o_custkey"), Field("round(o_totalprice,2)", "price")],
        table="orders",
        order_by=[("o_totalprice", "desc"), ("o_orderkey", "asc")],
        limit=25,
    )
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["orders"]))


ORACLE_TOP_ORDERS = """
    SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
"""


# §2.5 window / intra-group ordering (adapters/postgres.py:74 analogue)
def q_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


ORACLE_LATEST_ORDER = """
    SELECT o_custkey, o_orderkey, o_orderdate FROM (
      SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
"""


# §2.5 CTEs (apijson.py:4-10, sqlglot1.py:109-118)
def q_cte_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = Query(
        with_tables={
            "big_orders": Query(
                select=[Field("o_custkey"), Field("o_totalprice")],
                table="orders",
                filters=[Filter("o_totalprice", ">", 100_000.0)],
            )
        },
        select=[
            Field("c.c_mktsegment", "segment"),
            Field("count(1)", "cnt"),
            Field("round(sum(b.o_totalprice), 2)", "revenue"),
        ],
        table="big_orders",
        table_alias="b",
        joins=[Join(table="customer", alias="c", on="b.o_custkey = c.c_custkey")],
        group_by=["c.c_mktsegment"],
        order_by=[("segment", "asc")],
    )
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["orders", "customer"]))


def q_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS through the query IR: EUROPE-nation customers
    (broadcast SEMI join against a tiny filtered dim — map-side hash join,
    the fact table never shuffles) with NO order above 450k (ANTI join on
    a filtered CTE)."""
    q = Query(
        with_tables={
            "eu_nations": Query(
                select=[Field("n.n_nationkey", "n_nationkey")],
                table="nation",
                table_alias="n",
                joins=[Join(table="region", alias="r",
                            on="n.n_regionkey = r.r_regionkey")],
                filters=[Filter("r.r_name", "=", "EUROPE")],
            ),
            "big_orders": Query(
                select=[Field("o_custkey")],
                table="orders",
                filters=[Filter("o_totalprice", ">", 450_000.0)],
            ),
        },
        select=[Field("c.c_custkey", "c_custkey"), Field("c.c_name", "c_name")],
        table="customer",
        table_alias="c",
        joins=[
            Join(table="eu_nations", alias="e",
                 on="c.c_nationkey = e.n_nationkey",
                 type="left_semi", broadcast=True),
            Join(table="big_orders", alias="b", on="c.c_custkey = b.o_custkey",
                 type="left_anti"),
        ],
        order_by=[("c_custkey", "asc")],
    )
    return build_dataframe(
        spark, q, _tables(spark, sf_dir, ["customer", "nation", "region", "orders"])
    )


ORACLE_SEMI_ANTI = """
    SELECT c_custkey, c_name FROM customer c
    WHERE c_nationkey IN (
        SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE')
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
    ORDER BY c_custkey
"""


ORACLE_CTE = """
    WITH big_orders AS (
      SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 100000
    )
    SELECT c.c_mktsegment AS segment, count(1) AS cnt,
           round(sum(b.o_totalprice), 2) AS revenue
    FROM big_orders b JOIN customer c ON b.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY segment
"""


# §2.7 find_diff_timegroups (engine/diff.py:3-5) — single-level digest diff
def q_diff_timegroups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.reconcile import find_diff_timegroups

    src, snk = _recon_sides(spark, sf_dir)
    return find_diff_timegroups(src, snk, _RECON_CFG, interval=1000).orderBy("bucket")


# §2.5 window frames — running total per customer (cumulative frame)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    ).orderBy("o_custkey", "o_orderkey")


ORACLE_RUNNING_TOTAL = """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders ORDER BY o_custkey, o_orderkey
"""


# §2.6 scalar functions — md5/substr/floor/epoch/lpad/concat/date_format
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _fan(read_table(spark, sf_dir, "events"))
    return _sorted(ev.select(
        "event_id",
        F.md5(F.col("event_type")).alias("type_md5"),
        F.substring(F.col("event_type"), 1, 2).alias("type_pfx"),
        F.floor(F.col("value")).cast("long").alias("val_floor"),
        F.unix_timestamp(F.col("ts")).alias("epoch_s"),
        F.lpad(F.col("event_id").cast("string"), 10, "0").alias("id_pad"),
        F.concat_ws("-", F.col("event_type"), F.col("event_id").cast("string")).alias("tag"),
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"),
    ), "event_id")


ORACLE_SCALARS = """
    SELECT event_id,
           md5(event_type)                        AS type_md5,
           substr(event_type, 1, 2)               AS type_pfx,
           CAST(floor(value) AS BIGINT)           AS val_floor,
           CAST(floor(epoch(ts)) AS BIGINT)       AS epoch_s,
           lpad(CAST(event_id AS STRING), 10, '0') AS id_pad,
           concat_ws('-', event_type, CAST(event_id AS STRING)) AS tag,
           strftime(ts, '%Y-%m-%d')               AS day
    FROM events ORDER BY event_id
"""


# §2.4 rowhash virtual field (adapters/postgres.py:60-62)
def q_rowhash_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = Query(
        select=[
            Field("p_partkey"),
            Field(
                "rh", "row_hash", type="rowhash",
                metadata={"fields": ["p_partkey", "p_name", "p_brand"], "strategy": MD5_SUM_HASH},
            ),
        ],
        table="part",
        order_by=[("p_partkey", "asc")],
    )
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["part"]))


ORACLE_ROWHASH = f"""
    SELECT p_partkey, {_dd_rowhash('p_partkey', 'p_name', 'p_brand')} AS row_hash
    FROM part ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# §2.7 reconcile digests — source vs a deterministically perturbed sink
_RECON_SINK_SQL = """
    SELECT event_id, event_type FROM events WHERE event_id % 97 <> 0 AND event_id % 89 <> 0
    UNION ALL
    SELECT event_id, 'tweaked' AS event_type FROM events WHERE event_id % 89 = 0
    UNION ALL
    SELECT event_id + 1000000 AS event_id, event_type FROM events WHERE event_id % 101 = 0
"""
_RECON_CFG = ReconcileConfig(
    partition_column="event_id",
    partition_column_type="int",
    strategy=MD5_SUM_HASH,
    fields=["event_id", "event_type"],
    initial_partition_interval=1000,
    max_block_size=1000,
)
_RECON_LO, _RECON_HI = 0, 2_000_000


def _recon_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    read_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    src = spark.sql("SELECT event_id, event_type FROM events")
    snk = spark.sql(_RECON_SINK_SQL)
    return src, snk


def q_reconcile_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    src, _ = _recon_sides(spark, sf_dir)
    return block_digest(src, _RECON_CFG, 1000, _RECON_LO, _RECON_HI).orderBy("bucket")


ORACLE_RECON_DIGEST = f"""
    SELECT CAST(floor(event_id / 1000) AS BIGINT) AS bucket,
           count(1) AS num_rows,
           CAST(sum({_dd_rowhash('event_id', 'event_type')}) AS STRING) AS hash
    FROM events
    WHERE event_id >= 0 AND event_id < 2000000
    GROUP BY 1 ORDER BY bucket
"""


_RECON_CFG_ORDERED = ReconcileConfig(
    partition_column="event_id",
    partition_column_type="int",
    strategy=HASH_MD5_HASH,
    fields=["event_id", "event_type"],
    order_column="event_id",
    initial_partition_interval=1000,
    max_block_size=1000,
)


def q_reconcile_digest_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORDER-DEPENDENT block digest (reference strategy ``hash_md5_hash``,
    adapters/postgres.py:73-74: ``md5(string_agg(rowhash, ',' ORDER BY
    order_column))``) through the same ``block_digest`` reconcile path as the
    sum digest — hash-verified against DuckDB's string_agg form."""
    src, _ = _recon_sides(spark, sf_dir)
    return block_digest(src, _RECON_CFG_ORDERED, 1000, _RECON_LO, _RECON_HI).orderBy("bucket")


def _dd_rowhash_md5(*cols: str) -> str:
    parts = ", ".join(f"coalesce(CAST({c} AS STRING), chr(0))" for c in cols)
    return f"md5(concat_ws(chr(31), {parts}))"


ORACLE_RECON_DIGEST_ORDERED = f"""
    SELECT CAST(floor(event_id / 1000) AS BIGINT) AS bucket,
           count(1) AS num_rows,
           md5(string_agg({_dd_rowhash_md5('event_id', 'event_type')},
                          ',' ORDER BY event_id)) AS hash
    FROM events
    WHERE event_id >= 0 AND event_id < 2000000
    GROUP BY 1 ORDER BY bucket
"""


def q_reconcile_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    src, snk = _recon_sides(spark, sf_dir)
    return block_status(src, snk, _RECON_CFG, 1000, _RECON_LO, _RECON_HI).orderBy("bucket")


ORACLE_RECON_STATUS = f"""
    WITH sink_events AS ({_RECON_SINK_SQL}),
    src_d AS (
      SELECT CAST(floor(event_id / 1000) AS BIGINT) AS bucket, count(1) AS num_rows,
             CAST(sum({_dd_rowhash('event_id', 'event_type')}) AS STRING) AS hash
      FROM events WHERE event_id >= 0 AND event_id < 2000000 GROUP BY 1
    ),
    snk_d AS (
      SELECT CAST(floor(event_id / 1000) AS BIGINT) AS bucket, count(1) AS num_rows,
             CAST(sum({_dd_rowhash('event_id', 'event_type')}) AS STRING) AS hash
      FROM sink_events WHERE event_id >= 0 AND event_id < 2000000 GROUP BY 1
    )
    SELECT COALESCE(s.bucket, k.bucket) AS bucket,
           GREATEST(COALESCE(s.num_rows, 0), COALESCE(k.num_rows, 0)) AS num_rows,
           CASE WHEN s.bucket IS NULL THEN 'D'
                WHEN k.bucket IS NULL THEN 'A'
                WHEN s.num_rows = k.num_rows AND s.hash = k.hash THEN 'N'
                ELSE 'M' END AS status
    FROM src_d s FULL OUTER JOIN snk_d k ON s.bucket = k.bucket
    ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# text analysis over documents
def q_doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fan(read_table(spark, sf_dir, "documents"), heavy=True)
    t = F.col("text")
    # two-step projection: quality re-derives from the ALREADY-COMPUTED
    # tok_cnt/alnum_chars columns (identical arithmetic: same long inputs,
    # same double divides, F.round) — the single-select form evaluated the
    # [^0-9A-Za-z] regex and the \s+ split twice per row (no codegen
    # subexpression elimination across the differently-wrapped trees;
    # measured ~2× the projection stage)
    staged = d.select(
        "doc_id",
        F.length(t).alias("_len"),
        TX.token_count(t).alias("tok_cnt"),
        TX.word_chars(t).alias("alnum_chars"),
        TX.fingerprint(t).alias("fp"),
    )
    n = F.col("_len").cast("double")
    alnum_ratio = F.when(n > 0, F.col("alnum_chars") / n).otherwise(F.lit(0.0))
    len_factor = F.least(F.lit(1.0), F.col("tok_cnt") / F.lit(20.0))
    return _sorted(staged.select(
        "doc_id", "tok_cnt", "alnum_chars", "fp",
        F.round(F.round(alnum_ratio * len_factor, 6), 6).alias("quality"),
    ), "doc_id")


ORACLE_DOC_STATS = r"""
    SELECT doc_id,
      CASE WHEN length(trim(text)) = 0 THEN 0
           ELSE len(regexp_split_to_array(trim(text), '\s+')) END          AS tok_cnt,
      length(regexp_replace(text, '[^0-9A-Za-z]', '', 'g'))                AS alnum_chars,
      md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))              AS fp,
      round(
        (CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[^0-9A-Za-z]', '', 'g')) * 1.0 / length(text)
              ELSE 0 END)
        * least(1.0, (CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\s+')) END) / 20.0)
      , 6)                                                                  AS quality
    FROM documents ORDER BY doc_id
"""


def q_doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fan(read_table(spark, sf_dir, "documents"), heavy=True)
    return _sorted(
        d.select("doc_id", TX.padded_lower(F.col("text")).alias("_p"))
        .select("doc_id", TX.lang_id(F.col("_p"), prepadded=True).alias("lang_guess")),
        "doc_id",
    )


def _dd_marker_score(lang: str) -> str:
    terms = [
        f"CAST((length(p) - length(replace(p, '{m}', ''))) / {len(m)} AS BIGINT)"
        for m in TX.LANG_MARKERS[lang]
    ]
    return " + ".join(terms)


def _dd_langid_sql() -> str:
    langs = list(TX.LANG_MARKERS)
    scores = ", ".join(f"({_dd_marker_score(lg)}) AS s_{lg}" for lg in langs)
    # strict > with fixed order = first language wins ties (matches Spark impl)
    best = "CASE "
    for i, lg in enumerate(langs):
        gt = " AND ".join(f"s_{lg} > s_{o}" for o in langs[:i])
        ge = " AND ".join(f"s_{lg} >= s_{o}" for o in langs[i + 1:])
        cond = " AND ".join(x for x in [f"s_{lg} > 0", gt, ge] if x)
        best += f"WHEN {cond} THEN '{lg}' "
    best += "ELSE 'und' END"
    return f"""
        SELECT doc_id, {best} AS lang_guess FROM (
          SELECT doc_id, {scores}
          FROM (SELECT doc_id, concat(' ', lower(text), ' ') AS p FROM documents)
        ) ORDER BY doc_id
    """


ORACLE_DOC_LANGID = _dd_langid_sql()


# enrichment as a query: broadcast key-value lookup (engine/enrich.py redis
# semantics — the kv store image here is derived from nation)
def q_enrich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .config import EnrichmentConfig
    from .operators.enrich import enrich_with_table

    cust = read_table(spark, sf_dir, "customer")
    kv = read_table(spark, sf_dir, "nation").select(
        F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("key"),
        F.col("n_name").alias("value"),
    )
    conf = EnrichmentConfig(
        name="nation_name", type="redis",
        key_template="nation:{{ c_nationkey }}", output_field="nation_name",
    )
    return enrich_with_table(cust, conf, kv).select(
        "c_custkey", "c_mktsegment", "nation_name"
    ).orderBy("c_custkey")


ORACLE_ENRICH = """
    SELECT c.c_custkey, c.c_mktsegment, n.n_name AS nation_name
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    ORDER BY c.c_custkey
"""


def q_enrich_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batched SERVICE enrichment path (reference per-row HTTP GET,
    ``engine/enrich.py:14-19``, vectorized to one bulk lookup per Arrow
    batch via ``mapInPandas``) in the correctness gate: the injected
    transport is a deterministic pure function (md5 prefix of the rendered
    key) so DuckDB can mirror the lookup exactly — what the oracle checks is
    the key templating, batch-dedup lookup, Arrow schema plumbing, and
    null-free mapping, end to end."""
    from .config import EnrichmentConfig
    from .operators.enrich import enrich_with_service

    sup = read_table(spark, sf_dir, "supplier")
    conf = EnrichmentConfig(
        name="region_code", type="http",
        key_template="nation:{{ s_nationkey }}", output_field="region_code",
    )

    def fetch_batch(keys: list) -> dict:
        import hashlib

        return {k: hashlib.md5(str(k).encode()).hexdigest()[:8] for k in keys}

    return enrich_with_service(sup, conf, fetch_batch).select(
        "s_suppkey", "s_nationkey", "region_code"
    ).orderBy("s_suppkey")


ORACLE_ENRICH_SERVICE = """
    SELECT s_suppkey, s_nationkey,
           substr(md5('nation:' || CAST(s_nationkey AS STRING)), 1, 8) AS region_code
    FROM supplier ORDER BY s_suppkey
"""


# nested path extraction at the message edge (engine/transform.py:15 glom /
# otel.py:95 — JSON payload access)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _fan(read_table(spark, sf_dir, "events"))
    return _sorted(ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("long").alias("k_int"),
    ), "event_id")


ORACLE_JSON = """
    SELECT event_id,
           json_extract_string(props, '$.k')                  AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT)  AS k_int
    FROM events ORDER BY event_id
"""


# per-conversation session stats over the converged transcript state
def q_conv_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedupe import replay_final_state
    from .sources.registry import changelog

    final = replay_final_state(changelog(spark, sf_dir), ["conv_id", "turn_idx"])
    return (
        final.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0)).alias("n_tool_turns"),
            F.max("turn_idx").alias("max_turn"),
        )
        .orderBy("conv_id")
    )


# transcripts as documents: converge the change stream, assemble each
# conversation into ordered "role: text" transcript text, and dedup at
# conversation level (operators/transcripts.py) — the bridge from the CDC
# half of the engine to the corpus half. Duplicate conversations are
# planted (md5-selected ~1/16 of convs recopied under '~copy' ids) so the
# group structure is non-trivial at every sf.
def q_conv_transcript_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedupe import replay_final_state
    from .operators.transcripts import assemble_transcripts, transcript_dup_groups
    from .sources.registry import changelog

    final = replay_final_state(changelog(spark, sf_dir), ["conv_id", "turn_idx"])
    asm = assemble_transcripts(final)
    planted = asm.unionByName(
        asm.filter(F.substring(F.md5("conv_id"), 1, 1) == "0").withColumn(
            "conv_id", F.concat(F.col("conv_id"), F.lit("~copy"))
        )
    )
    return transcript_dup_groups(planted).orderBy("conv_id")


def _oracle_transcript_dedup() -> str:
    from .sources.registry import CHANGELOG_SELECT_SQL

    return f"""
        WITH changes AS ({CHANGELOG_SELECT_SQL}),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
          FROM changes
        ),
        final AS (SELECT * FROM ranked WHERE rn = 1 AND op <> 'delete'),
        asm AS (
          SELECT conv_id,
                 md5(string_agg(
                   md5(CAST(length(coalesce(role, '')) AS VARCHAR)
                       || ':' || coalesce(role, '') || ':' || coalesce(text, '')),
                   ',' ORDER BY turn_idx)) AS tfp
          FROM final GROUP BY conv_id
        ),
        planted AS (
          SELECT conv_id, tfp FROM asm
          UNION ALL
          SELECT conv_id || '~copy' AS conv_id, tfp FROM asm
          WHERE substr(md5(conv_id), 1, 1) = '0'
        ),
        fp AS (SELECT conv_id, tfp AS fp FROM planted),
        grp AS (SELECT fp, min(conv_id) AS canonical_id, count(1) AS n
                FROM fp GROUP BY fp)
        SELECT f.conv_id, g.canonical_id, f.fp
        FROM fp f JOIN grp g USING (fp) WHERE g.n > 1 ORDER BY f.conv_id
    """


def q_training_data_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic corpus-cleaning composite: language filter + quality floor
    + exact-dedup (keep canonical) in one pipeline.

    The lang/quality scores are computed in ONE Arrow-batched ``mapInPandas``
    kernel rather than the JVM expression tree: a filter over columns
    computed by an expensive projection gets pushed below it by Catalyst,
    re-embedding the whole 20-marker scoring tree in the predicate (measured
    124 ``replace()`` nodes in the physical plan, 2.3× the stage) — the
    opaque kernel is evaluated exactly once, and C-level string counting
    beats 40 JVM string passes per row (guide §4.1/§4.4). Arithmetic is
    bit-identical to the expression form: non-overlapping left-to-right
    substring counts, single IEEE divides/multiplies, round-6 (no computed
    double can sit exactly on a 1e-6 midpoint)."""
    from .operators.dedup_suite import exact_dedupe

    docs = _fan(read_table(spark, sf_dir, "documents"), heavy=True)
    kept = exact_dedupe(docs)
    scored = kept.select("doc_id", "text").mapInPandas(
        _lang_quality_kernel, "doc_id long, lang_guess string, quality double"
    )
    return (
        scored.filter((F.col("lang_guess") == "en") & (F.col("quality") >= 0.3))
        # shuffle barrier before the sort: ORDER BY range-samples its child,
        # and without the barrier that sample job re-executes the scoring
        # stage a second time; with it, both the sample and the sort reread
        # the tiny shuffled result. Same trick as Spark's own
        # rebalance-before-sort at cluster scale.
        .repartition(F.col("doc_id"))
        .orderBy("doc_id")
    )


def _lang_quality_kernel(batches):
    """(doc_id, lang_guess, quality) — vectorized replica of
    ``TX.lang_id`` + ``TX.quality_score`` (see q_training_data_filter)."""
    import re

    import numpy as np
    import pandas as pd

    langs = list(TX.LANG_MARKERS)
    non_alnum = re.compile(r"[^0-9A-Za-z]")
    for pdf in batches:
        texts = pdf["text"].tolist()
        n = len(texts)
        if n == 0:
            continue
        padded = [" " + t.lower() + " " for t in texts]
        # marker scores per language: str.count = non-overlapping
        # left-to-right occurrences, exactly the replace-length arithmetic
        scores = np.zeros((n, len(langs)), dtype=np.int64)
        for li, lg in enumerate(langs):
            for m in TX.LANG_MARKERS[lg]:
                scores[:, li] += np.fromiter(
                    (p.count(m) for p in padded), dtype=np.int64, count=n
                )
        top = scores.max(axis=1)
        pick = scores.argmax(axis=1)  # first index of the max, like
        # array_position(scores, array_max(scores))
        lang = np.where(
            top > 0, np.asarray(langs, dtype=object)[pick], "und"
        )
        length = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n)
        alnum = np.fromiter(
            (len(non_alnum.sub("", t)) for t in texts), dtype=np.int64, count=n
        )
        toks = np.fromiter((len(t.split()) for t in texts), dtype=np.int64, count=n)
        from .functions.numeric import round6_half_up

        with np.errstate(divide="ignore", invalid="ignore"):
            ratio = np.where(length > 0, alnum / length, 0.0)
        quality = round6_half_up(ratio * np.minimum(1.0, toks / 20.0))
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"], "lang_guess": lang, "quality": quality,
        })


# ---------------------------------------------------------------------------
# dedup suite + similarity search
def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup_suite import exact_duplicate_groups

    docs = read_table(spark, sf_dir, "documents")
    # plant deterministic duplicates so the check is non-trivial on any sf
    planted = docs.unionByName(
        docs.filter(F.col("doc_id") % 50 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10_000_000)
        )
    )
    return exact_duplicate_groups(planted).orderBy("doc_id")


ORACLE_DEDUP_EXACT = r"""
    WITH planted AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
    ),
    fp AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
           FROM planted),
    grp AS (SELECT fp, min(doc_id) AS canonical_id, count(1) AS n FROM fp GROUP BY fp)
    SELECT f.doc_id, g.canonical_id, f.fp
    FROM fp f JOIN grp g USING (fp) WHERE g.n > 1 ORDER BY f.doc_id
"""


def q_dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup_suite import minhash_signatures

    docs = read_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, n_hashes=4, shingle_k=5, hash_mode="md5", with_shingles=False)
    return sig.select(
        F.col("id").alias("doc_id"), *[F.col("sig")[i].alias(f"mh_{i}") for i in range(4)]
    ).orderBy("doc_id")


def _dd_minhash(seed: int) -> str:
    return (
        "list_min(list_transform(sh, s -> "
        f"CAST(('0x' || substr(md5('{seed}' || s), 1, 8)) AS BIGINT)))"
    )


ORACLE_DEDUP_MINHASH = rf"""
    WITH t AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
               FROM documents),
    sh AS (SELECT doc_id,
                  list_transform(range(1, greatest(1, length(nt) - 4) + 1),
                                 i -> substr(nt, i, 5)) AS sh
           FROM t)
    SELECT doc_id, {_dd_minhash(0)} AS mh_0, {_dd_minhash(1)} AS mh_1,
                   {_dd_minhash(2)} AS mh_2, {_dd_minhash(3)} AS mh_3
    FROM sh ORDER BY doc_id
"""


def _salted_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with a deterministic per-doc md5 salt appended (4 blocks,
    ~124 extra shingles unique to each doc_id). The synthetic corpus draws
    from a tiny vocabulary, so DISTINCT long docs can share an entire
    5-shingle set — a text-equality oracle over the raw corpus is unsound
    for set-identity dedup checks (measured: extra identical-set pairs at
    sf0.001/sf0.1). With the salt, any two distinct docs differ in ≥ ~120
    shingles, so only planted exact copies can reach jaccard ≈ 1 / simhash
    hamming 0. Reproduced verbatim in the DuckDB oracles (the
    ``dedup_ngram_long`` construction pattern)."""
    docs = read_table(spark, sf_dir, "documents")
    salt = F.concat_ws(" ", *[
        F.md5(F.concat_ws("-", F.col("doc_id").cast("string"), F.lit(str(i))))
        for i in range(4)
    ])
    return docs.select("doc_id", F.concat_ws(" ", F.col("text"), salt).alias("text"))


_DD_SALTED_NT = (
    r"regexp_replace(lower(trim(text || ' ' || "
    + " || ' ' || ".join(f"md5(doc_id::VARCHAR || '-{i}')" for i in range(4))
    + r")), '\s+', ' ', 'g')"
)


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs in the EXACT-RECALL configuration (hash-
    verifiable, the planted-exact-copies design proven by
    ``dedup_minhash_incremental``): on the salted corpus only identical
    docs have identical shingle sets, at threshold 0.99999 only identical
    sets qualify (with ≥120 differing shingles a non-identical pair tops out
    around jaccard 0.87), and identical docs share every band — recall 1.0
    structurally — so the brute-force text-equality oracle is exact. The
    probabilistic-recall thresholds (0.5/0.8) stay pytest-verified on
    fixtures (test_dedup_similarity)."""
    from .operators.dedup_suite import minhash_lsh_pairs

    docs = _salted_documents(spark, sf_dir)
    planted = docs.unionByName(
        docs.filter(F.col("doc_id") % 50 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10_000_000)
        )
    )
    return minhash_lsh_pairs(planted, threshold=0.99999).orderBy("a", "b")


ORACLE_DEDUP_MINHASH_PAIRS = rf"""
    WITH salted AS (
      SELECT doc_id, {_DD_SALTED_NT} AS nt FROM documents
    ),
    planted AS (
      SELECT doc_id, nt FROM salted
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, nt FROM salted WHERE doc_id % 50 = 0
    )
    SELECT a.doc_id AS a, b.doc_id AS b, CAST(1.0 AS DOUBLE) AS jaccard
    FROM planted a JOIN planted b ON a.doc_id < b.doc_id AND a.nt = b.nt
    ORDER BY a, b
"""


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs in the EXACT-RECALL configuration: identical normalized
    text ⇒ identical shingle set ⇒ identical 64-bit simhash ⇒ hamming 0 and
    guaranteed chunk-bucket candidacy, so at max_hamming=0 the text-equality
    oracle over the salted corpus is exact (the ≥120-shingle salt difference
    between distinct docs perturbs the per-bit majority sums far past their
    margins — verified green at sf0.001/0.01/0.1 on this deterministic
    data). Hamming 1-3 banding/verify behavior stays pytest-verified on
    fixtures."""
    from .operators.dedup_suite import simhash_near_pairs

    docs = _salted_documents(spark, sf_dir)
    planted = docs.unionByName(
        docs.filter(F.col("doc_id") % 50 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10_000_000)
        )
    )
    return simhash_near_pairs(planted, max_hamming=0).orderBy("a", "b")


ORACLE_DEDUP_SIMHASH_PAIRS = rf"""
    WITH salted AS (
      SELECT doc_id, {_DD_SALTED_NT} AS nt FROM documents
    ),
    planted AS (
      SELECT doc_id, nt FROM salted
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, nt FROM salted WHERE doc_id % 50 = 0
    )
    SELECT a.doc_id AS a, b.doc_id AS b, CAST(0 AS BIGINT) AS hamming
    FROM planted a JOIN planted b ON a.doc_id < b.doc_id AND a.nt = b.nt
    ORDER BY a, b
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-jaccard near-dup pairs on planted duplicates; oracle computes
    the same pairs by brute force (blocking cannot lose an exact duplicate:
    identical docs share every block)."""
    from .operators.dedup_suite import ngram_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    planted = docs.unionByName(
        docs.filter(F.col("doc_id") % 50 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10_000_000)
        )
    )
    return _sorted(ngram_jaccard_pairs(planted, threshold=0.999), "a", "b")


def q_config_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The config-driven TRANSFORM stage as an oracle-checked query
    (reference ``engine/transform.py`` + ``core/config.py:17-57`` TMPL /
    sandboxed-lambda semantics, vectorized): a stored field list mixing a
    plain column, a ``TMPL(...)`` template (compiled to a JVM concat), two
    sandboxed row lambdas (native-compiled — the plan carries no EvalPython
    node, pytest-pinned in test_transform_pipeline_uses_native_path), and
    dtype casts."""
    from .config import FieldConfig
    from .operators.transform import apply_transform

    ev = read_table(spark, sf_dir, "events")
    fields = [
        FieldConfig(column="event_id", dtype="int"),
        FieldConfig(column="value2", source_column="lambda r: r['value'] * 2.0",
                    dtype="float"),
        FieldConfig(column="tag", source_column="TMPL({{event_type}}:{{event_id}})"),
        FieldConfig(column="flag",
                    source_column="lambda r: 'big' if r['value'] > 500.0 else 'small'"),
        FieldConfig(column="etype", source_column="event_type", dtype="str"),
    ]
    return apply_transform(ev, fields).orderBy("event_id")


ORACLE_CONFIG_TRANSFORM = """
    SELECT CAST(event_id AS BIGINT)                          AS event_id,
           CAST(value * 2.0 AS DOUBLE)                       AS value2,
           event_type || ':' || CAST(event_id AS STRING)     AS tag,
           CASE WHEN value > 500.0 THEN 'big' ELSE 'small' END AS flag,
           CAST(event_type AS STRING)                        AS etype
    FROM events ORDER BY event_id
"""


# --------------------------------------------------------------------------
# JSON pipeline-config → IR → DataFrame, end to end (the reference's stored-
# config form, apijson.py:52-96 / sqlglot1.py:164-178)
_JSON_PIPELINE_CONFIG = """
{
  "name": "segment_rollup_from_stored_config",
  "config": {
    "ctes": [
      {
        "name": "big_orders",
        "query": {
          "select": [
            {"expr": "o_custkey", "type": "column"},
            {"expr": "o_totalprice", "type": "column"}
          ],
          "tables": [{"table": "orders", "primary": true}],
          "filters": [{"column": "o_totalprice", "operator": ">", "value": 150000}]
        }
      }
    ],
    "select": [
      {"expr": "c.c_mktsegment", "alias": "segment", "type": "column"},
      {"expr": "COUNT(1)", "alias": "big_cnt", "type": "count"},
      {"expr": "ROUND(SUM(b.o_totalprice), 2)", "alias": "total", "type": "sum"},
      {"expr": "CASE WHEN COUNT(1) > 50 THEN 'hot' ELSE 'cold' END",
       "alias": "heat", "type": "case"}
    ],
    "tables": [
      {"table": "big_orders", "primary": true, "alias": "b"},
      {"table": "customer", "primary": false, "alias": "c",
       "type": "inner", "on": "b.o_custkey = c.c_custkey"}
    ],
    "filters": [{"column": "c.c_mktsegment", "operator": "NOT IN", "value": ["FURNITURE"]}],
    "group_by": ["c.c_mktsegment"],
    "order_by": [{"column": "segment", "direction": "ASC"}]
  }
}
"""


def q_json_config_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A query built entirely FROM a stored JSON pipeline config — CTE, typed
    count/sum/case fields, join, NOT IN filter, group/order — through
    ``plans.config_io.load_query_config`` and the IR compiler."""
    from .plans.config_io import load_query_config

    q = load_query_config(_JSON_PIPELINE_CONFIG)
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["orders", "customer"]))


ORACLE_JSON_CONFIG = """
    WITH big_orders AS (
      SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 150000
    )
    SELECT c.c_mktsegment AS segment,
           COUNT(1) AS big_cnt,
           ROUND(SUM(b.o_totalprice), 2) AS total,
           CASE WHEN COUNT(1) > 50 THEN 'hot' ELSE 'cold' END AS heat
    FROM big_orders b JOIN customer c ON b.o_custkey = c.c_custkey
    WHERE c.c_mktsegment NOT IN ('FURNITURE')
    GROUP BY c.c_mktsegment ORDER BY segment
"""


ORACLE_EVENT_SESSIONS = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       min(ts) AS session_start,
       count(1) AS n_events,
       max(ts) AS session_last,
       round(sum(value), 2) AS session_value
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time sessionization (30-min inactivity gap) per user over the
    events table. Spark side: ONE session_window aggregate
    (``streaming/windows.sessionize`` — the same function runs on a
    watermarked stream); oracle: the SQL gaps-and-islands formulation
    (lag → break flags → cumulative session ids → group)."""
    from .streaming.windows import sessionize

    ev = read_table(spark, sf_dir, "events")
    return sessionize(
        ev, "ts", ["user_id"], gap="30 minutes", agg_value="value"
    ).orderBy("user_id", "session_start")


ORACLE_ASOF_ATTRIBUTION = """
WITH purchases AS (
  SELECT event_id, user_id, ts, round(value, 2) AS purchase_value
  FROM events WHERE event_type = 'purchase'
), signups AS (
  SELECT user_id, ts, max(event_id) AS signup_event_id
  FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
)
SELECT p.event_id AS event_id, p.user_id AS user_id,
       p.purchase_value AS purchase_value, s.signup_event_id AS signup_event_id
FROM purchases p ASOF LEFT JOIN signups s
  ON p.user_id = s.user_id AND p.ts >= s.ts
ORDER BY event_id
"""


def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal attribution: each purchase event joined as-of to the SAME
    user's latest signup at-or-before it (DuckDB ``ASOF LEFT JOIN`` with
    ``>=`` is the oracle). The Spark side is ``operators.temporal.asof_join``
    — a union + per-key window carry-forward: ONE shuffle on user_id,
    linear per-partition merge, no candidate cross-product. The right side
    is pre-aggregated per (user_id, ts) so tie resolution is deterministic
    on both engines."""
    from .operators.temporal import asof_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 2).alias("purchase_value")
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
    )
    out = asof_join(purchases, signups, on="ts", by=["user_id"],
                    value_cols=["signup_event_id"])
    return out.select("event_id", "user_id", "purchase_value",
                      "signup_event_id").orderBy("event_id")


def q_right_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right and full-outer joins through the IR, with genuinely unmatched
    rows on BOTH sides (filtered CTEs), null-safe aggregation on top."""
    na = Query(
        select=[Field("n_name"), Field("n_regionkey")],
        table="nation",
        filters=[Filter("n_regionkey", "<", 3)],
    )
    re_ = Query(
        select=[Field("r_name"), Field("r_regionkey")],
        table="region",
        filters=[Filter("r_regionkey", ">=", 1)],
    )
    full = Query(
        select=[
            Field("coalesce(re.r_name, '<no-region>')", "region_name"),
            Field("count(na.n_name)", "nation_cnt"),
        ],
        table="na",
        joins=[Join(table="re", alias="re", on="na.n_regionkey = re.r_regionkey",
                    type="full")],
        group_by=["coalesce(re.r_name, '<no-region>')"],
        with_tables={"na": na, "re": re_},
        order_by=[("region_name", "asc")],
    )
    right = Query(
        select=[
            Field("re.r_name", "region_name"),
            Field("count(na.n_name)", "nation_cnt"),
        ],
        table="na",
        joins=[Join(table="re", alias="re", on="na.n_regionkey = re.r_regionkey",
                    type="right")],
        group_by=["re.r_name"],
        with_tables={"na": na, "re": re_},
    )
    tables = _tables(spark, sf_dir, ["nation", "region"])
    f = build_dataframe(spark, full, tables).withColumn("join_kind", F.lit("full"))
    r = build_dataframe(spark, right, tables).withColumn("join_kind", F.lit("right"))
    return f.unionByName(r).orderBy("join_kind", "region_name")


ORACLE_RIGHT_FULL = """
    WITH na AS (SELECT n_name, n_regionkey FROM nation WHERE n_regionkey < 3),
         re AS (SELECT r_name, r_regionkey FROM region WHERE r_regionkey >= 1)
    SELECT * FROM (
      SELECT coalesce(re.r_name, '<no-region>') AS region_name,
             count(na.n_name) AS nation_cnt, 'full' AS join_kind
      FROM na FULL OUTER JOIN re ON na.n_regionkey = re.r_regionkey
      GROUP BY 1
      UNION ALL
      SELECT re.r_name AS region_name, count(na.n_name) AS nation_cnt,
             'right' AS join_kind
      FROM na RIGHT JOIN re ON na.n_regionkey = re.r_regionkey
      GROUP BY 1
    ) ORDER BY join_kind, region_name
"""


def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotal grid over (returnflag, linestatus) + a DISTINCT probe
    via the IR — grouping-set analytics the reference engine lacks."""
    q = Query(
        select=[
            Field("l_returnflag"),
            Field("l_linestatus"),
            Field("round(sum(l_quantity), 2)", "sum_qty"),
            Field("count(1)", "cnt"),
        ],
        table="lineitem",
        group_by=["l_returnflag", "l_linestatus"],
        grouping="rollup",
    )
    df = build_dataframe(spark, q, _tables(spark, sf_dir, ["lineitem"]))
    # null-safe order keys: subtotal rows carry NULL group values
    return df.select(
        F.coalesce("l_returnflag", F.lit("<all>")).alias("rflag"),
        F.coalesce("l_linestatus", F.lit("<all>")).alias("lstat"),
        "sum_qty", "cnt",
    ).orderBy("rflag", "lstat")


ORACLE_ROLLUP = """
    SELECT coalesce(l_returnflag, '<all>') AS rflag,
           coalesce(l_linestatus, '<all>') AS lstat,
           round(sum(l_quantity), 2) AS sum_qty,
           count(1) AS cnt
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY rflag, lstat
"""


def q_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = Query(
        select=[Field("c_mktsegment", "segment"), Field("c_nationkey", "nk")],
        table="customer",
        distinct=True,
        order_by=[("segment", "asc"), ("nk", "asc")],
        limit=200,
    )
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["customer"]))


ORACLE_DISTINCT = """
    SELECT DISTINCT c_mktsegment AS segment, c_nationkey AS nk
    FROM customer ORDER BY segment, nk LIMIT 200
"""


def q_grouping_sets_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS through the IR (beyond rollup/cube: the set
    list skips the (linestatus-only) combination a cube would include)."""
    q = Query(
        select=[
            Field("l_returnflag"),
            Field("l_linestatus"),
            Field("round(sum(l_extendedprice), 2)", "sum_price"),
            Field("count(1)", "cnt"),
        ],
        table="lineitem",
        group_by=["l_returnflag", "l_linestatus"],
        grouping="grouping_sets",
        grouping_sets=[["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
    )
    df = build_dataframe(spark, q, _tables(spark, sf_dir, ["lineitem"]))
    return df.select(
        F.coalesce("l_returnflag", F.lit("<all>")).alias("rflag"),
        F.coalesce("l_linestatus", F.lit("<all>")).alias("lstat"),
        "sum_price", "cnt",
    ).orderBy("rflag", "lstat")


ORACLE_GROUPING_SETS = """
    SELECT coalesce(l_returnflag, '<all>') AS rflag,
           coalesce(l_linestatus, '<all>') AS lstat,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(1) AS cnt
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY rflag, lstat
"""


def q_having_big_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING through the IR (and the JSON loader surface): customers whose
    order totals clear a threshold, filtered POST-aggregation on the select
    aliases — the ANSI shape stored-config users expect."""
    from .plans.config_io import dict_to_query

    q = dict_to_query({
        "select": [
            {"expr": "o_custkey", "alias": "custkey"},
            {"expr": "round(sum(o_totalprice), 2)", "alias": "total", "type": "sum"},
            {"expr": "count(1)", "alias": "n_orders", "type": "count"},
        ],
        "tables": [{"table": "orders", "primary": True}],
        "group_by": ["o_custkey"],
        "having": [
            {"column": "total", "operator": ">=", "value": 900000.0},
            {"column": "n_orders", "operator": ">=", "value": 5},
        ],
        "order_by": [{"column": "custkey", "direction": "asc"}],
    })
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["orders"]))


ORACLE_HAVING = """
    SELECT o_custkey AS custkey,
           round(sum(o_totalprice), 2) AS total,
           count(1) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING round(sum(o_totalprice), 2) >= 900000.0 AND count(1) >= 5
    ORDER BY custkey
"""


def q_window_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions THROUGH the stored-config surface: Field.expr is any
    Spark-SQL expression, so ``... OVER (PARTITION BY ... ORDER BY ...)``
    works from a persisted JSON config with no IR extension — proven here
    end-to-end from ``dict_to_query`` with a DuckDB oracle (rank + windowed
    share per customer)."""
    from .plans.config_io import dict_to_query

    q = dict_to_query({
        "select": [
            {"expr": "o_custkey", "alias": "custkey"},
            {"expr": "o_orderkey", "alias": "orderkey"},
            {"expr": "round(o_totalprice / sum(o_totalprice) OVER "
                     "(PARTITION BY o_custkey), 6)", "alias": "share"},
            {"expr": "rank() OVER (PARTITION BY o_custkey "
                     "ORDER BY o_totalprice DESC, o_orderkey)", "alias": "rnk"},
        ],
        "tables": [{"table": "orders", "primary": True}],
        "filters": [{"column": "o_custkey", "operator": "<", "value": 200}],
        "order_by": [
            {"column": "custkey", "direction": "asc"},
            {"column": "orderkey", "direction": "asc"},
        ],
    })
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["orders"]))


ORACLE_WINDOW_SHARE = """
    SELECT o_custkey AS custkey,
           o_orderkey AS orderkey,
           round(o_totalprice / sum(o_totalprice) OVER (PARTITION BY o_custkey), 6)
             AS share,
           rank() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS rnk
    FROM orders WHERE o_custkey < 200
    ORDER BY custkey, orderkey
"""


def q_union_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations in the IR: UNION (distinct) of two overlapping selects
    (SURVEY §2.5 — Spark-native extension the reference pipelines emulate by
    double-running configs into one sink)."""
    from .plans.query import SetOp

    lo = Query(
        select=[Field("n_name"), Field("n_regionkey")],
        table="nation",
        filters=[Filter("n_nationkey", "<", 15)],
    )
    q = Query(
        select=[Field("n_name"), Field("n_regionkey")],
        table="nation",
        filters=[Filter("n_nationkey", ">=", 10)],
        set_ops=[SetOp("union", lo)],
        order_by=[("n_name", "asc")],
    )
    return build_dataframe(spark, q, _tables(spark, sf_dir, ["nation"]))


ORACLE_UNION_SETS = """
    SELECT n_name, n_regionkey FROM nation WHERE n_nationkey >= 10
    UNION
    SELECT n_name, n_regionkey FROM nation WHERE n_nationkey < 15
    ORDER BY n_name
"""


def q_dedup_ngram_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall at threshold 0.8 on LONG near-duplicate docs — the case fixed-
    width length bands silently lose (a ~260-char suffix on a ~2,400-char doc
    is J≈0.9 but many 32-char bands apart). Docs are lengthened with
    deterministic md5 junk (shingle-rich; plain repetition would collapse the
    distinct-shingle set) so the construction is reproducible in DuckDB."""
    from .operators.dedup_suite import ngram_jaccard_pairs

    # fixed-size corpus (recall gate, not a throughput probe): the exact-
    # blocking join is the documented quadratic-ish path on long docs
    docs = read_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 500)
    )

    # unrolled md5 expressions, deliberately NO transform() lambdas: stacked
    # projections with sibling/nested lambda variables miscompile under
    # Catalyst's projection collapse (same issue minhash_signatures documents)
    def junk(salt: str, m: int):
        return F.concat_ws(" ", *[
            F.md5(F.concat_ws("-", F.col("doc_id").cast("string"), F.lit(salt), F.lit(str(i))))
            for i in range(1, m + 1)
        ])

    base = docs.select(
        "doc_id", F.concat_ws(" ", F.col("text"), junk("J", 60)).alias("text")
    )
    variants = base.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"),
        F.concat_ws(" ", F.col("text"), junk("X", 8)).alias("text"),
    )
    planted = base.unionByName(variants)
    return _sorted(ngram_jaccard_pairs(planted, threshold=0.8), "a", "b")


ORACLE_DEDUP_NGRAM_LONG = r"""
    WITH base AS (
      SELECT doc_id,
             text || ' ' || array_to_string(
               list_transform(range(1, 61),
                              i -> md5(doc_id::VARCHAR || '-J-' || i::VARCHAR)), ' ') AS text
      FROM documents WHERE doc_id % 10 = 0 AND doc_id < 500
    ),
    planted AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT b.doc_id + 20000000 AS doc_id,
             b.text || ' ' || array_to_string(
               list_transform(range(1, 9),
                              i -> md5(b.doc_id::VARCHAR || '-X-' || i::VARCHAR)), ' ') AS text
      FROM base b WHERE b.doc_id % 50 = 0
    ),
    sh AS (SELECT doc_id,
                  list_distinct(list_transform(
                    range(1, greatest(1, length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) - 4) + 1),
                    i -> substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), i, 5))) AS sh
           FROM planted)
    SELECT a.doc_id AS a, b.doc_id AS b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
    ORDER BY a, b
"""


ORACLE_DEDUP_NGRAM = r"""
    WITH planted AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
    ),
    sh AS (SELECT doc_id,
                  list_distinct(list_transform(
                    range(1, greatest(1, length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) - 4) + 1),
                    i -> substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), i, 5))) AS sh
           FROM planted)
    SELECT a.doc_id AS a, b.doc_id AS b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.999
    ORDER BY a, b
"""


def q_emb_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import brute_force_topk

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    out = brute_force_topk(emb, q, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round(F.col("cos"), 5).alias("cos5")
    ).orderBy("query_id", "neighbor_id")


# double-precision cosine (sequential sums) — bit-matches the Spark fold;
# DuckDB's list_cosine_similarity computes in float32 and drifts at 5dp
def _dd_cos(a: str, b: str) -> str:
    dot = (f"list_sum(list_transform(range(1, len({a}) + 1), "
           f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))")
    na = f"sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    nb = f"sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    return f"({dot} / ({na} * {nb}))"


ORACLE_EMB_TOPK = f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_dd_cos('q.embedding', 'c.embedding')}, 6) AS cos
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 8
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, round(cos, 5) AS cos5
    FROM ranked WHERE rn <= 5 ORDER BY query_id, neighbor_id
"""


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via SRP-LSH on planted exact duplicates — identical
    vectors always share every bucket, so recall is 1.0 and the brute-force
    oracle is exact."""
    from .operators.similarity import embedding_near_dup_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    planted = emb.unionByName(
        emb.filter(F.col("vec_id") < 10).withColumn(
            "vec_id", F.col("vec_id") + F.lit(1_000_000)
        )
    )
    return embedding_near_dup_pairs(planted, threshold=0.9999).orderBy("a", "b")


ORACLE_EMB_NEAR_DUP = f"""
    WITH planted AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 10
    )
    SELECT a.vec_id AS a, b.vec_id AS b,
           round({_dd_cos('a.embedding', 'b.embedding')}, 6) AS cos
    FROM planted a JOIN planted b ON a.vec_id < b.vec_id
    WHERE round({_dd_cos('a.embedding', 'b.embedding')}, 6) >= 0.9999
    ORDER BY a, b
"""


def q_emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup survivors (cluster-then-prune) on planted exact triples,
    with REAL clustering (n_clusters=8): identical vectors always share a
    cluster, and the synthetic corpus has no natural pair above cos 0.98
    (checked in DuckDB), so the within-cluster prune equals the global
    all-pairs prune the SQL oracle computes. ``keep='marginal'`` exercises
    the centroid-similarity scoring path; exact copies tie on marginality
    and the deterministic tie-break (min id) is what the oracle expresses."""
    from .operators.similarity import semantic_dedupe

    emb = read_table(spark, sf_dir, "embeddings")
    planted = emb
    for off in (1_000_000, 2_000_000):
        planted = planted.unionByName(
            emb.filter(F.col("vec_id") < 10).withColumn(
                "vec_id", F.col("vec_id") + F.lit(off)
            )
        )
    out = semantic_dedupe(planted, threshold=0.9999, n_clusters=8, keep="marginal")
    return out.select("vec_id", "label").orderBy("vec_id")


ORACLE_EMB_SEMANTIC_DEDUP = f"""
    WITH RECURSIVE eplanted AS (
      SELECT vec_id, embedding, label FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding, label FROM embeddings WHERE vec_id < 10
      UNION ALL
      SELECT vec_id + 2000000, embedding, label FROM embeddings WHERE vec_id < 10
    ),
    epairs AS (
      SELECT a.vec_id AS u, b.vec_id AS v
      FROM eplanted a JOIN eplanted b ON a.vec_id < b.vec_id
      WHERE round({_dd_cos('a.embedding', 'b.embedding')}, 6) >= 0.9999
    ),
    esym AS (SELECT u, v FROM epairs UNION SELECT v, u FROM epairs),
    ereach(u, v) AS (
      SELECT u, v FROM esym
      UNION
      SELECT r.u, s.v FROM ereach r JOIN esym s ON r.v = s.u
    ),
    ecomp AS (SELECT u AS vec_id, least(u, min(v)) AS component
              FROM ereach GROUP BY u)
    SELECT p.vec_id AS vec_id, p.label AS label
    FROM eplanted p
    WHERE p.vec_id NOT IN (SELECT vec_id FROM ecomp WHERE vec_id <> component)
    ORDER BY vec_id
"""


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    return _sorted(ivf_topk(emb, q, k=5, n_centroids=16, n_probe=4), "query_id", "neighbor_id")


def q_emb_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import lsh_topk

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    return _sorted(lsh_topk(emb, q, k=5, n_bits=3, n_tables=6), "query_id", "neighbor_id")


def q_emb_ivf_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once / query-many IVF: index persisted to parquet posting lists
    (partitioned by list), then probed through the indexed read path — run
    here in the EXHAUSTIVE configuration (``n_probe = n_centroids``: every
    posting list probed), which makes the result exactly brute-force cosine
    top-k, so the DuckDB oracle is exact. The pruned-probe behavior
    (partition-pruned scan, equality with the in-memory ``ivf_topk``) is
    pytest-pinned in test_dedup_similarity."""
    from .operators.similarity import ivf_index_write, ivf_topk_indexed

    emb = read_table(spark, sf_dir, "embeddings")
    path = _scratch_dir("dst_ivf_idx_")
    ivf_index_write(emb, path, n_centroids=16)
    q = emb.filter(F.col("vec_id") < 8)
    out = ivf_topk_indexed(spark, path, q, k=5, n_probe=16)
    return out.select(
        "query_id", "neighbor_id", F.round(F.col("cos"), 5).alias("cos5")
    ).orderBy("query_id", "neighbor_id")


def q_emb_lsh_topk_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH top-k in the EXHAUSTIVE configuration (``n_bits=0``: one
    bucket, every pair a candidate) — exactly brute-force cosine top-k
    through the LSH code path, hash-verified against the same oracle as
    ``emb_brute_topk``. The approximate configuration stays rows-only
    (``emb_lsh_topk``) with pytest recall gates."""
    from .operators.similarity import lsh_topk

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    out = lsh_topk(emb, q, k=5, n_bits=0, n_tables=1)
    return out.select(
        "query_id", "neighbor_id", F.round(F.col("cos"), 5).alias("cos5")
    ).orderBy("query_id", "neighbor_id")


def q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: train codebooks on the deterministic
    hash-min sample, encode the corpus to m small ints per vector (~100×
    compression at production dims — the representation a 10^10-vector
    store actually scans), ADC top-k over the codes in the flat numpy
    kernel.
    Rows-only: PQ is lossy by construction (no exhaustive configuration
    equals brute force); the code assignment, ADC math and recall vs brute
    force are pytest-pinned against numpy references in test_pq."""
    from .operators.pq import pq_encode, pq_topk, pq_train

    emb = read_table(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=8, k=16)
    codes = pq_encode(emb, books)
    q = emb.filter(F.col("vec_id") < 8)
    return _sorted(pq_topk(codes, q, books, k=5), "query_id", "neighbor_id")


def q_emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF-PQ index (coarse quantizer + residual PQ codes, the
    FAISS-IndexIVFPQ composition) searched in the EXHAUSTIVE-refined
    configuration: every posting list probed and the refine stage spans
    all ADC candidates, which makes the result exactly brute-force cosine
    top-k — hash-verified against the same oracle as ``emb_brute_topk``.
    The approximate configuration (pruned probes, bounded oversample,
    partition-pruned posting-list scan) is pytest-pinned in test_pq."""
    from .operators.pq import ivfpq_index_write, ivfpq_topk

    emb = read_table(spark, sf_dir, "embeddings")
    path = _scratch_dir("dst_ivfpq_")
    ivfpq_index_write(emb, path, n_centroids=16, m=8, k=16)
    q = emb.filter(F.col("vec_id") < 8)
    oversample = (emb.count() + 4) // 5 + 1  # k*oversample covers the corpus
    out = ivfpq_topk(
        spark, path, q, k=5, n_probe=16, oversample=oversample, refine=emb
    )
    return out.select(
        "query_id", "neighbor_id", F.round(F.col("score"), 5).alias("cos5")
    ).orderBy("query_id", "neighbor_id")


def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a NEW batch against a PERSISTED corpus index
    (dedupe each new crawl against everything kept, without rescanning the
    corpus text). New batch = exact copies of every 13th document under
    shifted ids: identical normalized text ⇒ identical signatures ⇒ every
    band matches ⇒ recall is exactly 1.0, so the brute-force text-equality
    oracle is exact (the threshold excludes any non-identical shingle set:
    a one-shingle difference in even a 100k-shingle doc is below it)."""
    from .operators.dedup_suite import (
        minhash_index_write,
        minhash_lsh_pairs_incremental,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = _scratch_dir("dst_mh_idx_")
    minhash_index_write(docs, path)
    new = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    return _sorted(minhash_lsh_pairs_incremental(new, path, threshold=0.99999),
        "corpus_id", "new_id"
    )


ORACLE_DEDUP_INCREMENTAL = r"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
      FROM documents
    ),
    new AS (
      SELECT doc_id + 10000000 AS new_id, nt FROM norm WHERE doc_id % 13 = 0
    )
    SELECT c.doc_id AS corpus_id, n.new_id, CAST(1.0 AS DOUBLE) AS jaccard
    FROM norm c JOIN new n ON c.nt = n.nt
    ORDER BY corpus_id, new_id
"""


# --------------------------------------------------------- dedup clustering
# Near-dup pairs → connected components → one survivor per cluster: the stage
# a corpus dedup pipeline runs AFTER any pair-producing strategy above.
# Oracle: DuckDB recursive-CTE transitive closure over the SAME pair set —
# the closure genuinely verifies transitivity (chains), not just pair parity.

def _triple_planted_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted documents (``_salted_documents`` — only exact copies can near-
    dup-pair) ∪ copies of every 50th doc (+10M) ∪ copies of every 100th
    (+20M): %100 docs form identical-text TRIPLES, so the pair graph has
    triangle components and the clustering is non-trivial. Salting first
    makes the pair set ≡ text-equality pairs, which keeps the oracle's pair
    derivation a cheap equality join (the ngram-set derivation measured
    ~100 s in DuckDB at sf0.01; pair-set parity with the real ngram operator
    is already hash-verified by ``dedup_ngram_jaccard``)."""
    docs = _salted_documents(spark, sf_dir)
    return (
        docs.unionByName(
            docs.filter(F.col("doc_id") % 50 == 0).withColumn(
                "doc_id", F.col("doc_id") + F.lit(10_000_000)
            )
        ).unionByName(
            docs.filter(F.col("doc_id") % 100 == 0).withColumn(
                "doc_id", F.col("doc_id") + F.lit(20_000_000)
            )
        )
    )


# planted salted corpus → text-equality pairs → symmetric transitive closure;
# the recursive CTE genuinely verifies the clustering's transitivity
_DD_PAIR_CLOSURE = f"""
    salted AS (
      SELECT doc_id, {_DD_SALTED_NT} AS nt FROM documents
    ),
    planted AS (
      SELECT doc_id, nt FROM salted
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, nt FROM salted WHERE doc_id % 50 = 0
      UNION ALL
      SELECT doc_id + 20000000 AS doc_id, nt FROM salted WHERE doc_id % 100 = 0
    ),
    pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM planted a JOIN planted b ON a.doc_id < b.doc_id AND a.nt = b.nt
    ),
    sym AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    )
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact-recall ngram near-dup pair graph:
    (doc_id, component) for every clustered doc, component = min doc id."""
    from .operators.dedup_suite import ngram_jaccard_pairs
    from .operators.graph import connected_components

    pairs = ngram_jaccard_pairs(
        _triple_planted_salted(spark, sf_dir), threshold=0.99999
    )
    comp = connected_components(pairs, "a", "b")
    return comp.select(F.col("id").alias("doc_id"), "component").orderBy("doc_id")


ORACLE_DEDUP_CLUSTERS = f"""
    WITH RECURSIVE {_DD_PAIR_CLOSURE}
    SELECT u AS doc_id, least(u, min(v)) AS component
    FROM reach GROUP BY u ORDER BY doc_id
"""


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: pairs → clusters → keep min-id per cluster;
    unpaired docs survive untouched. The corpus itself is only anti-joined —
    never reshuffled — against the (small) loser set."""
    from .operators.dedup_suite import ngram_jaccard_pairs
    from .operators.graph import near_dedupe

    planted = _triple_planted_salted(spark, sf_dir)
    pairs = ngram_jaccard_pairs(planted, threshold=0.99999)
    kept = near_dedupe(planted, pairs, id_col="doc_id")
    return kept.select("doc_id", F.length("text").alias("n_chars")).orderBy("doc_id")


# the salted raw text is `text || ' ' || <4 space-joined md5 blocks>`, so its
# length is length(text) + 4*32 + 4 separators = length(text) + 132
ORACLE_DEDUP_SURVIVORS = f"""
    WITH RECURSIVE {_DD_PAIR_CLOSURE},
    planted_len AS (
      SELECT doc_id, length(text) + 132 AS n_chars FROM documents
      UNION ALL
      SELECT doc_id + 10000000, length(text) + 132 FROM documents WHERE doc_id % 50 = 0
      UNION ALL
      SELECT doc_id + 20000000, length(text) + 132 FROM documents WHERE doc_id % 100 = 0
    )
    SELECT p.doc_id, CAST(p.n_chars AS INT) AS n_chars
    FROM planted_len p
    WHERE NOT EXISTS (
      SELECT 1 FROM reach r WHERE r.u = p.doc_id AND r.v < p.doc_id
    )
    ORDER BY doc_id
"""


def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on NATURAL chained data: the orders↔parts
    bipartite graph from lineitem (orders sharing a part connect — the
    entity-resolution shape). Unlike the planted-duplicate cliques this
    graph has long chains and a giant component at small sf, so the
    recursive oracle exercises deep transitivity."""
    from .operators.graph import connected_components

    li = read_table(spark, sf_dir, "lineitem")
    edges = (
        li.filter((F.col("l_partkey") <= 80) & (F.col("l_orderkey") <= 4000))
        .select(
            F.col("l_orderkey").alias("a"),
            (F.col("l_partkey") + F.lit(10_000_000)).alias("b"),
        )
        .dropDuplicates(["a", "b"])
    )
    comp = connected_components(edges, "a", "b")
    return comp.select(F.col("id").alias("node_id"), "component").orderBy("node_id")


ORACLE_GRAPH_COMPONENTS = """
    WITH RECURSIVE e AS (
      SELECT DISTINCT l_orderkey AS a, l_partkey + 10000000 AS b
      FROM lineitem WHERE l_partkey <= 80 AND l_orderkey <= 4000
    ),
    sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
    reach(u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    )
    SELECT u AS node_id, least(u, min(v)) AS component
    FROM reach GROUP BY u ORDER BY node_id
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping character chunking of the document corpus
    (embedding-pipeline pre-step; pure codegen, no shuffle)."""
    from .operators.chunking import chunk_documents

    docs = read_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_chars=512, overlap=64).orderBy(
        "doc_id", "chunk_idx"
    )


ORACLE_DOC_CHUNKS = """
    WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
    n AS (SELECT doc_id, text,
            CASE WHEN len <= 512 THEN 1
                 ELSE CAST(ceil((len - 512) / 448.0) AS INT) + 1 END AS nch
          FROM d)
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           substr(text, CAST(i * 448 + 1 AS INT), 512) AS chunk_text,
           CAST(length(substr(text, CAST(i * 448 + 1 AS INT), 512)) AS INT) AS n_chars
    FROM n, UNNEST(range(0, nch)) AS t(i)
    ORDER BY doc_id, chunk_idx
"""


# --------------------------------------------------------- corpus statistics
# Vocabulary / document-frequency / TF-IDF keywords / deterministic sampling
# (operators/corpus.py). The tokenization is deliberately the simplest scheme
# both engines express identically: lower, non-[0-9a-z] → space, split, drop
# empties.

_DD_TOKENS = """
    raw AS (
      SELECT doc_id,
             unnest(string_split(
               regexp_replace(lower(text), '[^0-9a-z]', ' ', 'g'), ' ')) AS token
      FROM documents
    ),
    toks AS (SELECT doc_id, token FROM raw WHERE token <> '')
"""


def q_corpus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus terms by total occurrences (ties by token) among terms
    appearing in ≥5 documents — the stopword/vocabulary profile."""
    from .operators.corpus import vocabulary

    docs = read_table(spark, sf_dir, "documents")
    return (
        vocabulary(docs)
        .filter(F.col("doc_freq") >= 5)
        .orderBy(F.col("term_freq").desc(), "token")
        .limit(100)
    )


ORACLE_CORPUS_VOCAB = f"""
    WITH {_DD_TOKENS},
    per AS (SELECT token, doc_id, count(*) AS n FROM toks GROUP BY 1, 2)
    SELECT token, CAST(count(*) AS BIGINT) AS doc_freq,
           CAST(sum(n) AS BIGINT) AS term_freq
    FROM per GROUP BY token HAVING count(*) >= 5
    ORDER BY term_freq DESC, token LIMIT 100
"""


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document (smoothed TF-IDF, rounded to
    6 decimals; ties by token) over a deterministic 1-in-7 doc subset."""
    from .operators.corpus import tfidf_keywords

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    return tfidf_keywords(docs, k=3).orderBy("doc_id", "token")


ORACLE_DOC_KEYWORDS = f"""
    WITH docs AS (SELECT * FROM documents WHERE doc_id % 7 = 0),
    raw AS (
      SELECT doc_id,
             unnest(string_split(
               regexp_replace(lower(text), '[^0-9a-z]', ' ', 'g'), ' ')) AS token
      FROM docs
    ),
    toks AS (SELECT doc_id, token FROM raw WHERE token <> ''),
    per AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
            FROM toks GROUP BY 1, 2),
    vocab AS (SELECT token, count(*) AS doc_freq FROM per GROUP BY token),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM per),
    scored AS (
      SELECT p.doc_id, p.token, p.tf,
             round(p.tf * ln((n.n_docs + 1.0) / (v.doc_freq + 1.0)), 6) AS tfidf_r6
      FROM per p JOIN vocab v USING (token) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf_r6 DESC, token ASC) AS rk
      FROM scored
    )
    SELECT doc_id, token, tf, tfidf_r6 FROM ranked WHERE rk <= 3
    ORDER BY doc_id, token
"""


def q_corpus_fold_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% corpus fold (md5-prefix key hash mod 1000 < 100):
    the reproducible train/validation-split primitive — same rows on any
    cluster size, any partitioning, any engine."""
    from .operators.corpus import hash_sample

    docs = read_table(spark, sf_dir, "documents")
    return (
        hash_sample(docs, ["doc_id"], numerator=100, denominator=1000)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


ORACLE_CORPUS_FOLD = f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE {_dd_rowhash('doc_id')} % 1000 < 100
    ORDER BY doc_id
"""


def q_source_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota: at most 10 documents per source, selected by the
    deterministic md5 key hash (the C4/RefinedWeb no-domain-dominates
    step). Monotone in the cap and engine-independent, so the oracle
    reproduces the exact selection, not just the counts."""
    from .operators.corpus import group_cap

    docs = read_table(spark, sf_dir, "documents")
    return (
        group_cap(docs, "source", ["doc_id"], cap=10)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    )


ORACLE_SOURCE_CAPPED = f"""
    WITH ranked AS (
      SELECT doc_id, source, lang,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {_dd_rowhash('doc_id')}, doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source, lang FROM ranked WHERE rn <= 10 ORDER BY doc_id
"""


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation slice: linear quality score (distilled
    token→weight model) → threshold filter → per-source quota — the
    score/filter/cap spine of a C4-style pipeline as ONE composed plan,
    hash-verified end to end (each stage also has its own oracle query)."""
    from .operators.classifier import token_weight_score
    from .operators.corpus import group_cap

    docs = read_table(spark, sf_dir, "documents")
    scored = token_weight_score(
        docs, {"slow": -1.5, "fast": 2.0, "spark": 0.5, "merge": 0.25},
        bias=0.125,
    )
    kept = scored.filter(F.col("score") >= 0.5)
    return (
        group_cap(kept, "source", ["doc_id"], cap=5)
        .select("doc_id", "source", "score")
        .orderBy("doc_id")
    )


ORACLE_CORPUS_CURATION = f"""
    WITH {_DD_TOKENS},
    s AS (SELECT doc_id,
                 sum(CASE token WHEN 'slow' THEN -1.5 WHEN 'fast' THEN 2.0
                     WHEN 'spark' THEN 0.5 WHEN 'merge' THEN 0.25
                     ELSE 0.0 END) AS sc
          FROM toks GROUP BY doc_id),
    scored AS (
      SELECT d.doc_id, d.source,
             round(coalesce(s.sc, 0.0) + 0.125, 6) AS score
      FROM documents d LEFT JOIN s USING (doc_id)
    ),
    kept AS (SELECT * FROM scored WHERE score >= 0.5),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY source
               ORDER BY {_dd_rowhash('doc_id')}, doc_id
             ) AS rn
      FROM kept
    )
    SELECT doc_id, source, score FROM ranked WHERE rn <= 5 ORDER BY doc_id
"""


def q_corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mixing weights (upsample en, downsample the rest):
    deterministic stratified sample — 50% en, 20% zh, 10% de, 5% default."""
    from .operators.corpus import stratified_hash_sample

    docs = read_table(spark, sf_dir, "documents")
    return (
        stratified_hash_sample(
            docs,
            ["doc_id"],
            stratum_col="lang",
            rates={"en": 500, "zh": 200, "de": 100},
            default=50,
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


ORACLE_CORPUS_MIX = f"""
    SELECT doc_id, lang FROM documents
    WHERE {_dd_rowhash('doc_id')} % 1000 <
      CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 200 WHEN 'de' THEN 100
                ELSE 50 END
    ORDER BY doc_id
"""


def q_corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding (the pre-packing "randomize
    and cut into N training shards" step): md5-ordered permutation, shard =
    hash mod 8, pos = 1-based rank within shard — a pure function of
    (doc_id, salt), identical on any cluster size or engine."""
    from .operators.corpus import shuffle_shards

    docs = read_table(spark, sf_dir, "documents")
    return shuffle_shards(docs.select("doc_id"), ["doc_id"], n_shards=8).orderBy(
        "shard", "pos"
    )


ORACLE_SHUFFLE_SHARDS = """
    WITH h AS (
      SELECT doc_id,
             md5(concat_ws(chr(31), coalesce(CAST(doc_id AS VARCHAR), chr(0)),
                           'shuffle')) AS hh
      FROM documents
    )
    SELECT doc_id,
           CAST(CAST(('0x' || substr(hh, 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY CAST(('0x' || substr(hh, 1, 8)) AS BIGINT) % 8
             ORDER BY hh, doc_id
           ) AS BIGINT) AS pos
    FROM h ORDER BY shard, pos
"""


def q_corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled source mixing (sample share ∝ count^0.5 at 25%
    total): per-language counts → integer keep-rates → deterministic
    stratified hash sample. alpha=0.5 flattens the mix — small languages
    keep a larger fraction of themselves than big ones."""
    from .operators.corpus import temperature_mix

    docs = read_table(spark, sf_dir, "documents")
    return (
        temperature_mix(docs, ["doc_id"], "lang", alpha=0.5, target_frac=0.25)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


ORACLE_TEMPERATURE_MIX = f"""
    WITH cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total, sum(pow(CAST(n AS DOUBLE), 0.5)) AS z
            FROM cnt),
    rates AS (
      SELECT lang,
             LEAST(1000, CAST(floor(
               0.25 * total * pow(CAST(n AS DOUBLE), 0.5) / z / CAST(n AS DOUBLE)
               * 1000 + 1e-9) AS BIGINT)) AS r
      FROM cnt, tot
    )
    SELECT d.doc_id, d.lang FROM documents d JOIN rates rt ON d.lang = rt.lang
    WHERE {_dd_rowhash('doc_id')} % 1000 < rt.r
    ORDER BY doc_id
"""


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition: chunk (256 chars, no overlap) → md5 fingerprint → exact
    duplicate-chunk groups across the corpus (the sub-document dedup shape:
    boilerplate headers/footers repeat across distinct documents)."""
    from .operators.chunking import chunk_documents

    docs = read_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_chars=256, overlap=0)
    return (
        chunks.groupBy(F.md5("chunk_text").alias("chunk_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_copies") >= 2)
        .orderBy("chunk_hash")
    )


ORACLE_CHUNK_DEDUP = """
    WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
    n AS (SELECT doc_id, text,
            CASE WHEN len <= 256 THEN 1
                 ELSE CAST(ceil((len - 256) / 256.0) AS INT) + 1 END AS nch
          FROM d),
    chunks AS (
      SELECT doc_id, substr(text, CAST(i * 256 + 1 AS INT), 256) AS chunk_text
      FROM n, UNNEST(range(0, nch)) AS t(i)
    )
    SELECT md5(chunk_text) AS chunk_hash,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc
    FROM chunks GROUP BY 1 HAVING count(*) >= 2
    ORDER BY chunk_hash
"""


def q_doc_unigram_ce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram cross-entropy vs the corpus LM (perplexity-style
    quality signal): low = boilerplate/common tokens, high = lexically rich."""
    from .operators.corpus import unigram_cross_entropy

    docs = read_table(spark, sf_dir, "documents")
    return unigram_cross_entropy(docs).orderBy("doc_id")


ORACLE_DOC_UNIGRAM_CE = f"""
    WITH {_DD_TOKENS},
    per AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
            FROM toks GROUP BY 1, 2),
    lm AS (SELECT token, sum(tf) AS term_freq FROM per GROUP BY 1),
    tot AS (SELECT sum(term_freq) AS total FROM lm)
    SELECT p.doc_id, CAST(sum(p.tf) AS BIGINT) AS n_tokens,
           round(sum(p.tf * -ln(l.term_freq / t.total)) / sum(p.tf), 6) AS ce_r6
    FROM per p JOIN lm l USING (token) CROSS JOIN tot t
    GROUP BY p.doc_id ORDER BY doc_id
"""


def q_doc_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the distributed hashed-feature logistic classifier on a token
    rule (label = doc contains the token 'spark') and return its
    PREDICTIONS. The corpus is linearly separable on a single-token rule,
    so full-batch GD reaches training accuracy 1.0 with decision margins
    far above float-sum-order drift — the predictions equal the rule
    itself, which the SQL oracle states directly. Verifies the whole
    distributed train→score path (feature hashing, per-iteration gradient
    aggregate, Arrow scoring) end to end against ground truth."""
    from .operators.classifier import hashed_features, score_logreg, train_logreg

    docs = read_table(spark, sf_dir, "documents")
    rule = F.array_contains(
        F.split(F.regexp_replace(F.lower("text"), "[^0-9a-z]", " "), " "),
        "spark",
    )
    lab = docs.withColumn("label", rule.cast("int"))
    feats = hashed_features(lab, label_col="label", binarize=True)
    w = train_logreg(feats, n_iters=30, lr=4.0)
    return (
        score_logreg(feats, w)
        .select("doc_id", (F.col("p") >= 0.5).cast("int").alias("pred"))
        .orderBy("doc_id")
    )


ORACLE_DOC_QUALITY_LOGREG = f"""
    WITH {_DD_TOKENS},
    flags AS (SELECT doc_id, max(CASE WHEN token = 'spark' THEN 1 ELSE 0 END)
              AS pred FROM toks GROUP BY doc_id)
    SELECT d.doc_id, CAST(coalesce(f.pred, 0) AS INT) AS pred
    FROM documents d LEFT JOIN flags f USING (doc_id) ORDER BY doc_id
"""


def q_doc_token_weight_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality score from an explicit token→weight map (a distilled
    or hand-audited model) — the pure-JVM apply path. Weights are dyadic
    fractions so both engines compute the sum float-exactly."""
    from .operators.classifier import token_weight_score

    docs = read_table(spark, sf_dir, "documents")
    out = token_weight_score(
        docs,
        {"slow": -1.5, "fast": 2.0, "spark": 0.5, "merge": 0.25},
        bias=0.125,
    )
    return out.select("doc_id", "score").orderBy("doc_id")


ORACLE_DOC_TOKEN_WEIGHT_SCORE = f"""
    WITH {_DD_TOKENS},
    s AS (SELECT doc_id,
                 sum(CASE token WHEN 'slow' THEN -1.5 WHEN 'fast' THEN 2.0
                     WHEN 'spark' THEN 0.5 WHEN 'merge' THEN 0.25
                     ELSE 0.0 END) AS sc
          FROM toks GROUP BY doc_id)
    SELECT d.doc_id, round(coalesce(s.sc, 0.0) + 0.125, 6) AS score
    FROM documents d LEFT JOIN s USING (doc_id) ORDER BY doc_id
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition filters: duplicate-token fraction
    and the most-frequent-bigram share (boilerplate/template detector)."""
    from .operators.corpus import repetition_stats

    docs = read_table(spark, sf_dir, "documents")
    return repetition_stats(docs).orderBy("doc_id")


ORACLE_DOC_REPETITION = f"""
    WITH {_DD_TOKENS},
    tok AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   count(DISTINCT token) AS n_distinct
            FROM toks GROUP BY 1),
    arr AS (
      SELECT doc_id,
             list_filter(string_split(
               regexp_replace(lower(text), '[^0-9a-z]', ' ', 'g'), ' '),
               x -> x <> '') AS tk
      FROM documents
    ),
    big AS (
      SELECT doc_id,
             array_to_string(tk[CAST(i AS BIGINT):CAST(i AS BIGINT) + 1], ' ') AS gram
      FROM arr, UNNEST(range(1, greatest(len(tk), 1))) AS t(i)
    ),
    cnt AS (SELECT doc_id, gram, count(*) AS c FROM big GROUP BY 1, 2),
    ranked AS (
      SELECT doc_id, gram, c,
             row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram DESC) AS rn,
             sum(c) OVER (PARTITION BY doc_id) AS tot
      FROM cnt
    )
    SELECT t.doc_id, t.n_tokens,
           round(1 - t.n_distinct * 1.0 / t.n_tokens, 6) AS dup_tok_frac_r6,
           r.gram                                        AS top_bigram,
           round(r.c * 1.0 / r.tot, 6)                   AS top_bigram_frac_r6
    FROM tok t LEFT JOIN ranked r ON t.doc_id = r.doc_id AND r.rn = 1
    ORDER BY t.doc_id
"""


# Exact duplicated-span dedup (operators/span_dedup.py): maximal token runs
# whose every 12-gram recurs corpus-wide (ExactSubstr, Lee et al. 2022) —
# the documents fixture carries natural boilerplate repeats, so the spans
# are real, cross-document, and length-varied. The md5 of the re-sliced
# span text proves the hash-prefilter → text-verify → islands pipeline
# reconstructed genuine document content, not just positions.
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.span_dedup import duplicate_spans

    docs = read_table(spark, sf_dir, "documents")
    spans = duplicate_spans(docs, min_len=12)
    return spans.select(
        F.col("id").alias("doc_id"),
        F.col("span_start").cast("long").alias("span_start"),
        "span_tokens",
        F.md5("span_text").alias("span_md5"),
    ).orderBy("doc_id", "span_start")


_DS_ARR = """
    arr AS (
      SELECT doc_id,
             list_filter(string_split(
               regexp_replace(lower(text), '[^0-9a-z]', ' ', 'g'), ' '),
               x -> x <> '') AS tk
      FROM documents
    ),
    g AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(tk[CAST(i AS BIGINT):CAST(i AS BIGINT) + 11], ' ') AS gram
      FROM arr, UNNEST(range(1, greatest(len(tk) - 10, 1))) AS t(i)
      WHERE len(tk) >= 12
    ),
    d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    p AS (SELECT doc_id, pos FROM g JOIN d USING (gram))
"""

ORACLE_DUP_SPANS = f"""
    WITH {_DS_ARR},
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM p
    ),
    s AS (
      SELECT doc_id, min(pos) AS span_start,
             CAST(count(*) + 11 AS BIGINT) AS span_tokens
      FROM isl GROUP BY doc_id, grp
    )
    SELECT s.doc_id, s.span_start, s.span_tokens,
           md5(array_to_string(
             a.tk[CAST(s.span_start + 1 AS BIGINT):
                  CAST(s.span_start + s.span_tokens AS BIGINT)], ' ')) AS span_md5
    FROM s JOIN arr a USING (doc_id) ORDER BY doc_id, span_start
"""


def q_dup_span_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rewrite path end-to-end: corpus with non-canonical duplicated
    spans cut out, keeping the corpus-first copy. Hash compare covers the
    canonicality rule AND the per-position token filtering."""
    from .operators.span_dedup import dedupe_spans

    docs = read_table(spark, sf_dir, "documents")
    out = dedupe_spans(docs, min_len=12)
    return out.select(
        "doc_id", F.md5("text").alias("text_md5"), "lang", "source"
    ).orderBy("doc_id")


ORACLE_DUP_SPAN_DEDUPE = f"""
    WITH {_DS_ARR},
    canon AS (
      SELECT gram, min(struct_pack(doc_id := doc_id, pos := pos)) AS c
      FROM g JOIN d USING (gram) GROUP BY gram
    ),
    noncanon AS (
      SELECT g.doc_id, g.pos FROM g JOIN canon USING (gram)
      WHERE g.doc_id <> canon.c.doc_id OR g.pos <> canon.c.pos
    ),
    covered AS (
      SELECT DISTINCT doc_id, pos + CAST(o AS BIGINT) AS tp
      FROM noncanon, UNNEST(range(0, 12)) AS t(o)
    ),
    kept AS (
      SELECT a.doc_id,
             string_agg(a.tk[CAST(i AS BIGINT)], ' ' ORDER BY i) AS new_text
      FROM arr a, UNNEST(range(1, len(a.tk) + 1)) AS t(i)
      WHERE NOT EXISTS (
        SELECT 1 FROM covered c WHERE c.doc_id = a.doc_id AND c.tp = i - 1
      )
      GROUP BY a.doc_id
    )
    SELECT d.doc_id, md5(coalesce(k.new_text, '')) AS text_md5, d.lang, d.source
    FROM documents d LEFT JOIN kept k USING (doc_id)
    ORDER BY d.doc_id
"""


# Sequence packing (operators/chunking.py pack_sequences): concat-and-chunk
# layout metadata for 512-token training sequences. The Spark side is a
# distributed prefix sum (range partition + per-partition offsets); the
# oracle is the same running sum as one window. Both are pure functions of
# (doc order, token counts), so the hash compare verifies the distributed
# decomposition reproduces the sequential layout exactly.
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.chunking import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=512).orderBy("doc_id")


ORACLE_PACK_SEQUENCES = """
    WITH tok AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(
               regexp_replace(lower(text), '[^0-9a-z]', ' ', 'g'), ' '),
               x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS tok_start
      FROM tok
    )
    SELECT doc_id, n_tokens, tok_start,
           tok_start // 512 AS seq_id,
           CAST((tok_start + greatest(n_tokens, 1) - 1) // 512 > tok_start // 512
                AS INT) AS crosses_boundary
    FROM cum ORDER BY doc_id
"""


# BPE tokenizer (operators/bpe.py): train-on-word-counts + Arrow-batched
# encode. No DuckDB oracle — the merge loop is iterative and inherently
# non-SQL (same class as the streaming/stateful ops); correctness is
# pytest-pinned against the sequential reference encoder on the same data
# (test_bpe.py), and the query itself is deterministic end-to-end.
def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.bpe import bpe_token_counts, bpe_train

    docs = read_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=64)
    return (
        bpe_token_counts(docs, merges)
        .select(F.col("id").alias("doc_id"), "n_bpe_tokens")
        .orderBy("doc_id")
    )


def q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized 512-token training sequences (concat-and-chunk): the
    digest compare proves the distributed token placement reproduces the
    sequential stream byte-for-byte, split docs included."""
    from .operators.chunking import packed_sequence_text

    docs = read_table(spark, sf_dir, "documents")
    seqs = packed_sequence_text(docs, budget=512)
    return seqs.select(
        "seq_id", "n_tokens", F.md5("seq_text").alias("seq_md5")
    ).orderBy("seq_id")


ORACLE_PACKED_SEQUENCES = """
    WITH arr AS (
      SELECT doc_id,
             list_filter(string_split(
               regexp_replace(lower(text), '[^0-9a-z]', ' ', 'g'), ' '),
               x -> x <> '') AS toks
      FROM documents
    ),
    stream AS (
      SELECT row_number() OVER (ORDER BY doc_id, i) - 1 AS gpos,
             toks[CAST(i AS BIGINT)] AS token
      FROM arr, UNNEST(range(1, len(toks) + 1)) AS t(i)
    )
    SELECT gpos // 512 AS seq_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           md5(string_agg(token, ' ' ORDER BY gpos)) AS seq_md5
    FROM stream GROUP BY 1 ORDER BY 1
"""


# PII redaction (functions/text.py PII_PATTERNS): the synthetic corpus
# carries no real PII, so the query plants deterministic emails / phones /
# IPv4s derived from c_custkey — every row a phone, every 3rd an email,
# every 5th an IP — then scrubs them. Both engines build the identical text,
# so counts and the redacted-text digest are exact-match verifiable.
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import pii_count, redact_pii

    c = read_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    phone = F.concat_ws(
        "-",
        (k % 90 + 10).cast("string"),
        F.lpad((k % 1000).cast("string"), 3, "0"),
        F.lpad(((k * 7) % 1000).cast("string"), 3, "0"),
        F.lpad(((k * 13) % 10000).cast("string"), 4, "0"),
    )
    email = F.when(
        k % 3 == 0, F.concat(F.lit(" mail user"), k.cast("string"), F.lit("@example.com"))
    ).otherwise(F.lit(""))
    ip = F.when(
        k % 5 == 0,
        F.concat(F.lit(" host 10."), (k % 256).cast("string"), F.lit(".0."),
                 (k % 100).cast("string")),
    ).otherwise(F.lit(""))
    text = F.concat(F.col("c_name"), F.lit(" call "), phone, email, ip)
    d = _fan(c, heavy=True).select(k.alias("custkey"), text.alias("t"))
    return _sorted(d.select(
        "custkey",
        pii_count(F.col("t"), "email").alias("n_email"),
        pii_count(F.col("t"), "ip").alias("n_ip"),
        pii_count(F.col("t"), "phone").alias("n_phone"),
        F.md5(redact_pii(F.col("t"))).alias("redacted_md5"),
    ), "custkey")


ORACLE_PII_REDACTION = r"""
    WITH d AS (
      SELECT c_custkey AS custkey,
             c_name || ' call '
               || CAST(c_custkey % 90 + 10 AS VARCHAR) || '-'
               || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'
               || lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0') || '-'
               || lpad(CAST((c_custkey * 13) % 10000 AS VARCHAR), 4, '0')
               || CASE WHEN c_custkey % 3 = 0
                       THEN ' mail user' || CAST(c_custkey AS VARCHAR) || '@example.com'
                       ELSE '' END
               || CASE WHEN c_custkey % 5 = 0
                       THEN ' host 10.' || CAST(c_custkey % 256 AS VARCHAR)
                            || '.0.' || CAST(c_custkey % 100 AS VARCHAR)
                       ELSE '' END AS t
      FROM customer
    )
    SELECT custkey,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)         AS n_ip,
           CAST(len(regexp_extract_all(t, '\b\d{2}-\d{3}-\d{3}-\d{4}\b')) AS BIGINT)                    AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b\d{2}-\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'))                                            AS redacted_md5
    FROM d ORDER BY custkey
"""


# Benchmark decontamination (operators/decontam.py): the "benchmark" is the
# deterministic md5-slot fold [0,100)/1000 of documents (the same split as
# corpus_fold_sample, so both engines reproduce it exactly); training = the
# complement. A 5-gram at this corpus's ~30-word vocabulary is selective:
# hits are the planted verbatim duplicates (tens of shared grams) plus a
# handful of single-gram coincidences — both audit-relevant shapes.
_DECONTAM_N = 5


def q_decontam_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing ≥1 token 5-gram with the benchmark fold, with
    the count of distinct overlapping grams (leak-audit signal)."""
    from .functions.hashes import rowhash_int32
    from .operators.decontam import contamination_hits

    docs = read_table(spark, sf_dir, "documents")
    slot = (rowhash_int32("doc_id") + F.lit(1000)) % F.lit(1000)
    bench, train = docs.filter(slot < 100), docs.filter(~(slot < 100))
    hits = contamination_hits(train, bench, n=_DECONTAM_N).select(
        F.col("id").alias("doc_id"), "n_hit_grams"
    )
    return _sorted(hits, "doc_id")


ORACLE_DECONTAM_HITS = f"""
    WITH arr AS (
      SELECT doc_id,
             list_filter(string_split(
               regexp_replace(lower(text), '[^0-9a-z]', ' ', 'g'), ' '),
               x -> x <> '') AS toks
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(
               toks[CAST(i AS BIGINT):CAST(i AS BIGINT) + {_DECONTAM_N - 1}],
               ' ') AS gram
      FROM arr, UNNEST(range(1, greatest(len(toks) - {_DECONTAM_N} + 2, 1))) AS t(i)
    ),
    slots AS (SELECT doc_id, ({_dd_rowhash('doc_id')} + 1000) % 1000 AS slot
              FROM documents),
    bench AS (SELECT DISTINCT gram FROM grams JOIN slots USING (doc_id)
              WHERE slot < 100)
    SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
    FROM grams g JOIN bench USING (gram) JOIN slots s ON g.doc_id = s.doc_id
    WHERE s.slot >= 100
    GROUP BY g.doc_id ORDER BY g.doc_id
"""


def q_emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise mean embedding (class prototypes), flat
    (label, pos, mean_r6, n_vecs) form — one partial-aggregated shuffle."""
    from .operators.similarity import group_centroids

    emb = read_table(spark, sf_dir, "embeddings")
    flat = group_centroids(emb, "label", "embedding", assemble=False)
    return flat.select(
        "label",
        "pos",
        F.round("mean_val", 6).alias("mean_r6"),
        "n_vecs",
    ).orderBy("label", "pos")


ORACLE_LABEL_CENTROIDS = """
    SELECT label, CAST(pos - 1 AS INT) AS pos,
           round(avg(CAST(val AS DOUBLE)), 6) AS mean_r6,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM (SELECT label, unnest(embedding) AS val,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY 1, 2 ORDER BY label, pos
"""


def _oracle_session_stats() -> str:
    from .sources.registry import CHANGELOG_SELECT_SQL

    return f"""
        WITH changes AS ({CHANGELOG_SELECT_SQL}),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
          FROM changes
        ),
        final AS (SELECT * FROM ranked WHERE rn = 1 AND op <> 'delete')
        SELECT conv_id, count(1) AS n_turns, min(ts) AS first_ts, max(ts) AS last_ts,
               CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_turns,
               max(turn_idx) AS max_turn
        FROM final GROUP BY conv_id ORDER BY conv_id
    """


def _oracle_training_filter() -> str:
    langs = list(TX.LANG_MARKERS)
    scores = ", ".join(f"({_dd_marker_score(lg)}) AS s_{lg}" for lg in langs)
    best = "CASE "
    for i, lg in enumerate(langs):
        gt = " AND ".join(f"s_{lg} > s_{o}" for o in langs[:i])
        ge = " AND ".join(f"s_{lg} >= s_{o}" for o in langs[i + 1:])
        cond = " AND ".join(x for x in [f"s_{lg} > 0", gt, ge] if x)
        best += f"WHEN {cond} THEN '{lg}' "
    best += "ELSE 'und' END"
    quality = r"""round(
        (CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[^0-9A-Za-z]', '', 'g')) * 1.0 / length(text)
              ELSE 0 END)
        * least(1.0, (CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\s+')) END) / 20.0)
    , 6)"""
    return rf"""
        WITH fp AS (
          SELECT doc_id, text,
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          FROM documents
        ),
        keep AS (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY fp),
        kept AS (SELECT f.doc_id, f.text FROM fp f JOIN keep k
                 ON f.fp = k.fp AND f.doc_id = k.doc_id),
        scored AS (
          SELECT doc_id, text, {quality} AS quality, {best} AS lang_guess FROM (
            SELECT doc_id, text, {scores}
            FROM (SELECT doc_id, text, concat(' ', lower(text), ' ') AS p FROM kept)
          )
        )
        SELECT doc_id, lang_guess, quality FROM scored
        WHERE lang_guess = 'en' AND quality >= 0.3 ORDER BY doc_id
    """


def q_lake_sync_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake→lake follower (sources/sync.py — the reference's source→target
    sync run loop, core/sync.py, re-expressed over table change feeds): the
    leader ingests the change stream in 3 MoR batches; after every leader
    commit the follower drains one pruned ``changes_since`` step, keeping
    its watermark atomically in its own manifest. The follower's live state
    must equal the LWW final state of the stream — deletes propagated,
    leader buckets (16) re-hashed into follower buckets (8). The leader
    replay is the shared fixture (built once per process); the follower is
    fresh per call and drains the windows stepwise via bounded catch-up."""
    from .sources.lake import LakeTable
    from .sources.sync import sync_until_current

    src, his = _replayed_lake(spark, sf_dir, n_buckets=16, batches=3,
                              prefix="sync_src_")
    dst = LakeTable(
        spark, _scratch_dir("sync_dst_"), ["conv_id", "turn_idx"],
        n_buckets=8, merge_mode="mor",
    )
    for hi in his:
        sync_until_current(src, dst, max_lsn=hi)
    return dst.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def q_filtered_replica_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered replica (sources/sync.py row_filter — the ClickHouse
    materialized-view-WHERE shape): the follower holds only user turns;
    versions failing the predicate propagate as DELETES so membership
    changes never leave stale rows. Final state ≡ filtered LWW state.
    Shares the replayed leader fixture with lake_sync_replay; the filtered
    follower is fresh per call and drains stepwise."""
    from .sources.lake import LakeTable
    from .sources.sync import sync_until_current

    src, his = _replayed_lake(spark, sf_dir, n_buckets=16, batches=3,
                              prefix="sync_src_")
    dst = LakeTable(
        spark, _scratch_dir("fr_dst_"), ["conv_id", "turn_idx"],
        n_buckets=8, merge_mode="mor",
    )
    for hi in his:
        sync_until_current(src, dst, row_filter=F.col("role") == "user",
                           max_lsn=hi)
    return (
        dst.read()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .orderBy("conv_id", "turn_idx")
    )


def _oracle_filtered_replica() -> str:
    from .sources.registry import CHANGELOG_SELECT_SQL

    return f"""
        WITH changes AS ({CHANGELOG_SELECT_SQL}),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
          FROM changes
        )
        SELECT conv_id, turn_idx, role, text, tool, ts
        FROM ranked WHERE rn = 1 AND op <> 'delete' AND role = 'user'
        ORDER BY conv_id, turn_idx
    """


def q_agg_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized aggregate view (sources/agg_view.py): a
    per-conversation rollup follows the source lake through 3 CDC batches —
    bootstrap full build, then two refreshes that re-aggregate ONLY the
    groups each lsn window touched (feed lsn-pruned, recompute bloom-pruned
    point lookups). The view must equal the full GROUP BY of the source's
    final LWW state — including the retraction-hostile max() under deletes.
    The source replay is the shared fixture (blooms off: every replay
    window touches most conversations, so per-commit bloom builds buy no
    pruning — the bloom-pruned refresh path is pinned in test_agg_view.py
    where batches are narrow); the view is fresh per call and refreshes
    through each window via bounded catch-up."""
    from .sources.agg_view import refresh_agg_view
    from .sources.lake import LakeTable

    src, his = _replayed_lake(spark, sf_dir, n_buckets=16, batches=3,
                              prefix="sync_src_")
    # MoR view: each refresh appends its recomputed groups as delta files
    # (O(batch) write, no target read/union/bucket rewrite — the CoW merge
    # measured ~4 s of machinery per refresh on a 15k-row rollup); the final
    # read resolves LWW identically (the lake's pinned MoR contract)
    view = LakeTable(
        spark, _scratch_dir("aggv_view_"), ["conv_id"], n_buckets=8,
        merge_mode="mor",
    )
    aggs = {
        "n_turns": F.count(F.lit(1)),
        "total_chars": F.sum(F.length("text")),
        "last_ts": F.max("ts"),
        "max_turn": F.max("turn_idx"),
    }
    for hi in his:
        # low max_probe_keys: these replay windows touch most conversations,
        # so the adaptive fallback (one lsn-pruned scan + semi-join) is the
        # right plan; narrow-batch point-lookup refreshes are pytest-pinned
        refresh_agg_view(src, view, aggs, max_probe_keys=256, max_lsn=hi)
    return (
        view.read()
        .select("conv_id", "n_turns", "total_chars", "last_ts", "max_turn")
        .orderBy("conv_id")
    )


def _oracle_agg_view() -> str:
    from .sources.registry import CHANGELOG_SELECT_SQL

    return f"""
        WITH changes AS ({CHANGELOG_SELECT_SQL}),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
          FROM changes
        ),
        final AS (SELECT * FROM ranked WHERE rn = 1 AND op <> 'delete')
        SELECT conv_id, count(1) AS n_turns,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               max(ts) AS last_ts, max(turn_idx) AS max_turn
        FROM final GROUP BY conv_id ORDER BY conv_id
    """


def q_time_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping range read (sources/lake.py stats_columns +
    read(ranges=...)): replay the change stream into a ts-stat'd MoR lake,
    Z-order-compact on ts so per-file zone maps are tight, then serve
    "turns in [Jan 10, Jan 20)" — files outside the window are never
    opened. Must equal the final LWW state filtered to the window. The
    replay + Z-order compact is the shared fixture; the pruned range read
    is the phase that runs live per call."""
    import datetime
    import os

    def build():
        table, _ = _replayed_lake(spark, sf_dir, n_buckets=8, batches=3,
                                  stats_columns=("ts",), prefix="tr_")
        table.compact(zorder_by=["ts"], max_file_rows=50_000)
        return table

    table = _memo(spark, ("time_range", os.path.abspath(sf_dir)), build)
    lo = datetime.datetime(2024, 1, 10)
    hi = datetime.datetime(2024, 1, 20)
    return (
        table.read(ranges={"ts": [(lo, hi)]})
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .orderBy("conv_id", "turn_idx")
    )


def q_transcript_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transcripts-payload flagship composition: the assembled-transcript
    corpus as an incrementally-maintained materialized view. Three CDC
    batches land in the turn lake; after each, the view re-renders ONLY the
    conversations that window touched (transcript_agg inside
    refresh_agg_view). Final view ≡ rendering the full LWW state. Shares
    the replayed turn lake; the view is fresh per call and refreshes
    through each window via bounded catch-up."""
    from .operators.transcripts import transcript_agg
    from .sources.agg_view import refresh_agg_view
    from .sources.lake import LakeTable

    src, his = _replayed_lake(spark, sf_dir, n_buckets=16, batches=3,
                              prefix="sync_src_")
    # MoR view for the same reason as q_agg_view_refresh: delta-append
    # refreshes, read-side LWW resolve
    view = LakeTable(
        spark, _scratch_dir("tv_view_"), ["conv_id"], n_buckets=8,
        merge_mode="mor",
    )
    aggs = {
        "n_turns": F.count(F.lit(1)),
        "transcript": transcript_agg(),
    }
    for hi in his:
        refresh_agg_view(src, view, aggs, name="transcripts",
                         max_probe_keys=256, max_lsn=hi)
    return view.read().select("conv_id", "n_turns", "transcript").orderBy("conv_id")


def _oracle_transcript_view() -> str:
    from .sources.registry import CHANGELOG_SELECT_SQL

    return f"""
        WITH changes AS ({CHANGELOG_SELECT_SQL}),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
          FROM changes
        ),
        final AS (SELECT * FROM ranked WHERE rn = 1 AND op <> 'delete')
        SELECT conv_id, count(1) AS n_turns,
               string_agg(coalesce(role, '') || ': ' || coalesce(text, ''),
                          chr(10) ORDER BY turn_idx) AS transcript
        FROM final GROUP BY conv_id ORDER BY conv_id
    """


def _oracle_time_range() -> str:
    from .sources.registry import CHANGELOG_SELECT_SQL

    return f"""
        WITH changes AS ({CHANGELOG_SELECT_SQL}),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
          FROM changes
        )
        SELECT conv_id, turn_idx, role, text, tool, ts
        FROM ranked
        WHERE rn = 1 AND op <> 'delete'
          AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
        ORDER BY conv_id, turn_idx
    """


def q_point_lookup_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup serving path: replay the change stream into a
    bloom-indexed MoR lake (no compaction — deltas pending), then fetch a
    deterministic ~1/16 of the conversations via ``read(keys=[...])`` —
    bucket pruning + per-file key blooms + exact filter + LWW resolve. The
    result must equal the LWW final state restricted to those convs. The
    replay is the shared fixture; the pruned point lookup runs live."""
    import os

    from .sources.registry import changelog

    table, _ = _replayed_lake(spark, sf_dir, n_buckets=16, batches=4,
                              bloom_filters=True, prefix="ptq_")
    # bounded by construction (~1/16 of distinct conversations) and memoized:
    # the serving API takes keys as input, so deriving them is pure harness
    # cost — no need to rescan the changelog per call
    keys = _memo(
        spark, ("ptq_keys", os.path.abspath(sf_dir)),
        lambda: [
            r["conv_id"]
            for r in changelog(spark, sf_dir).select("conv_id").distinct()
            .filter(F.md5(F.col("conv_id")).startswith("0")).collect()
        ],
    )
    return (
        table.read(keys=keys)
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .orderBy("conv_id", "turn_idx")
    )


def _oracle_point_lookup() -> str:
    from .sources.registry import CHANGELOG_SELECT_SQL

    return f"""
        WITH changes AS ({CHANGELOG_SELECT_SQL}),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
          FROM changes
        )
        SELECT conv_id, turn_idx, role, text, tool, ts
        FROM ranked
        WHERE rn = 1 AND op <> 'delete' AND md5(conv_id) LIKE '0%'
        ORDER BY conv_id, turn_idx
    """


def _oracle_lake_sync() -> str:
    from .sources.registry import CHANGELOG_SELECT_SQL

    return f"""
        WITH changes AS ({CHANGELOG_SELECT_SQL}),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
          FROM changes
        )
        SELECT conv_id, turn_idx, role, text, tool, ts
        FROM ranked WHERE rn = 1 AND op <> 'delete'
    """


def q_cdc_quarantine_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gated CDC merge (CHECK constraints + row-level DLQ): replay
    the change stream into a lake declaring ``length(text) <= 20`` with
    ``on_violation="quarantine"`` — violating VERSIONS divert to the
    quarantine sink (as if they never arrived), so LWW serves each key's
    latest VALID version; deletes are exempt. Final live state ≡ LWW over
    (deletes ∪ valid upserts), which the DuckDB oracle states directly."""
    from .sources.lake import LakeTable
    from .sources.registry import changelog, changelog_max_lsn

    ch = changelog(spark, sf_dir)
    table = LakeTable(
        spark, _scratch_dir("qg_"), ["conv_id", "turn_idx"], n_buckets=8,
        merge_mode="mor", constraints={"text_len": "length(text) <= 20"},
        on_violation="quarantine",
    )
    n = changelog_max_lsn(spark, sf_dir) + 1
    step = max(1, n // 2)
    for i, lo in enumerate(range(0, n, step)):
        batch = ch.filter((F.col("lsn") >= lo) & (F.col("lsn") < lo + step))
        table.merge_into(batch, batch_id=f"qg-b{i}")
    return (
        table.read()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .orderBy("conv_id", "turn_idx")
    )


def _oracle_quarantine() -> str:
    from .sources.registry import CHANGELOG_SELECT_SQL

    return f"""
        WITH changes AS ({CHANGELOG_SELECT_SQL}),
        valid AS (
          -- SQL CHECK semantics: violation only when the expression is
          -- FALSE; NULL passes (hence the COALESCE TRUE)
          SELECT * FROM changes
          WHERE op = 'delete' OR COALESCE(length(text) <= 20, TRUE)
        ),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
          FROM valid
        )
        SELECT conv_id, turn_idx, role, text, tool, ts
        FROM ranked WHERE rn = 1 AND op <> 'delete'
        ORDER BY conv_id, turn_idx
    """


def q_cdc_ttl_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative row TTL (ClickHouse TTL analogue): replay the change
    stream into a lake declaring ``ts < '2024-01-08'`` as expired, then
    compact — expired versions drop during the fold (the filter rides the
    rewrite job; rows_expired in lineage). The served state must equal the
    LWW final state restricted to unexpired rows."""
    from .sources.lake import LakeTable
    from .sources.registry import changelog, changelog_max_lsn

    ch = changelog(spark, sf_dir)
    table = LakeTable(
        spark, _scratch_dir("ttl_"), ["conv_id", "turn_idx"], n_buckets=8,
        merge_mode="mor", ttl="ts < timestamp'2024-01-08'",
    )
    n = changelog_max_lsn(spark, sf_dir) + 1
    step = max(1, n // 2)
    for i, lo in enumerate(range(0, n, step)):
        batch = ch.filter((F.col("lsn") >= lo) & (F.col("lsn") < lo + step))
        table.merge_into(batch, batch_id=f"ttl-b{i}")
    table.compact()
    return (
        table.read()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .orderBy("conv_id", "turn_idx")
    )


def _oracle_ttl() -> str:
    from .sources.registry import CHANGELOG_SELECT_SQL

    return f"""
        WITH changes AS ({CHANGELOG_SELECT_SQL}),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
          FROM changes
        )
        SELECT conv_id, turn_idx, role, text, tool, ts
        FROM ranked
        WHERE rn = 1 AND op <> 'delete'
          AND NOT COALESCE(ts < TIMESTAMP '2024-01-08', FALSE)
        ORDER BY conv_id, turn_idx
    """


def catalog() -> dict[str, tuple[QueryFn, str | None]]:
    """name → (spark_fn, oracle_sql | None)."""
    return {
        "cdc_quarantine_final_state": (q_cdc_quarantine_final_state,
                                       _oracle_quarantine()),
        "cdc_ttl_retention": (q_cdc_ttl_retention, _oracle_ttl()),
        "agg_pricing_summary": (q_agg_pricing_summary, ORACLE_AGG_PRICING),
        "percentile_stats": (q_percentile_stats, ORACLE_PERCENTILE_STATS),
        "pivot_returnflag": (q_pivot_returnflag, ORACLE_PIVOT),
        "unpivot_flag_metrics": (q_unpivot_flag_metrics, ORACLE_UNPIVOT),
        "join_orders_per_nation": (q_join_orders_per_nation, ORACLE_JOIN_NATION),
        "left_join_regions": (q_left_join_regions, ORACLE_LEFT_JOIN),
        "filter_predicates": (q_filter_predicates, ORACLE_FILTERS),
        "case_priority": (q_case_priority, ORACLE_CASE),
        "top_orders": (q_top_orders, ORACLE_TOP_ORDERS),
        "latest_order_per_customer": (q_latest_order_per_customer, ORACLE_LATEST_ORDER),
        "running_total_per_customer": (q_running_total, ORACLE_RUNNING_TOTAL),
        "scalar_functions": (q_scalar_functions, ORACLE_SCALARS),
        "rowhash_parts": (q_rowhash_parts, ORACLE_ROWHASH),
        "cte_big_orders": (q_cte_big_orders, ORACLE_CTE),
        "semi_anti_customers": (q_semi_anti_customers, ORACLE_SEMI_ANTI),
        "json_config_pipeline": (q_json_config_pipeline, ORACLE_JSON_CONFIG),
        "config_transform_fields": (q_config_transform, ORACLE_CONFIG_TRANSFORM),
        "union_sets": (q_union_sets, ORACLE_UNION_SETS),
        "window_share_rank": (q_window_share, ORACLE_WINDOW_SHARE),
        "right_full_join": (q_right_full_join, ORACLE_RIGHT_FULL),
        "asof_attribution": (q_asof_attribution, ORACLE_ASOF_ATTRIBUTION),
        "event_sessions": (q_event_sessions, ORACLE_EVENT_SESSIONS),
        "rollup_pricing": (q_rollup_pricing, ORACLE_ROLLUP),
        "grouping_sets_pricing": (q_grouping_sets_pricing, ORACLE_GROUPING_SETS),
        "having_big_customers": (q_having_big_customers, ORACLE_HAVING),
        "distinct_segments": (q_distinct_segments, ORACLE_DISTINCT),
        "reconcile_block_digest": (q_reconcile_digest, ORACLE_RECON_DIGEST),
        "reconcile_digest_ordered": (q_reconcile_digest_ordered, ORACLE_RECON_DIGEST_ORDERED),
        "reconcile_block_status": (q_reconcile_status, ORACLE_RECON_STATUS),
        "reconcile_diff_timegroups": (
            q_diff_timegroups,
            f"SELECT bucket, num_rows, status FROM ({ORACLE_RECON_STATUS}) "
            "WHERE status <> 'N' ORDER BY bucket",
        ),
        "doc_text_stats": (q_doc_text_stats, ORACLE_DOC_STATS),
        "doc_langid": (q_doc_langid, ORACLE_DOC_LANGID),
        "enrich_customers": (q_enrich_customers, ORACLE_ENRICH),
        "enrich_service_batched": (q_enrich_service, ORACLE_ENRICH_SERVICE),
        "json_extract_props": (q_json_extract, ORACLE_JSON),
        "conv_session_stats": (q_conv_session_stats, _oracle_session_stats()),
        "conv_transcript_dedup": (q_conv_transcript_dedup, _oracle_transcript_dedup()),
        "training_data_filter": (q_training_data_filter, _oracle_training_filter()),
        "dedup_exact_groups": (q_dedup_exact_groups, ORACLE_DEDUP_EXACT),
        "dedup_minhash_signature": (q_dedup_minhash_signature, ORACLE_DEDUP_MINHASH),
        "dedup_minhash_pairs": (q_dedup_minhash_pairs, ORACLE_DEDUP_MINHASH_PAIRS),
        "dedup_simhash_pairs": (q_dedup_simhash_pairs, ORACLE_DEDUP_SIMHASH_PAIRS),
        "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, ORACLE_DEDUP_NGRAM),
        "dedup_ngram_long": (q_dedup_ngram_long, ORACLE_DEDUP_NGRAM_LONG),
        "emb_brute_topk": (q_emb_brute_topk, ORACLE_EMB_TOPK),
        "emb_near_dup": (q_emb_near_dup, ORACLE_EMB_NEAR_DUP),
        "emb_semantic_dedup": (q_emb_semantic_dedup, ORACLE_EMB_SEMANTIC_DEDUP),
        "emb_ivf_topk": (q_emb_ivf_topk, None),
        "emb_lsh_topk": (q_emb_lsh_topk, None),
        "emb_lsh_topk_exhaustive": (q_emb_lsh_topk_exhaustive, ORACLE_EMB_TOPK),
        "emb_ivf_indexed_topk": (q_emb_ivf_indexed_topk, ORACLE_EMB_TOPK),
        "emb_pq_topk": (q_emb_pq_topk, None),
        "emb_ivfpq_topk": (q_emb_ivfpq_topk, ORACLE_EMB_TOPK),
        "dedup_minhash_incremental": (q_dedup_minhash_incremental, ORACLE_DEDUP_INCREMENTAL),
        "dedup_clusters": (q_dedup_clusters, ORACLE_DEDUP_CLUSTERS),
        "dedup_survivors": (q_dedup_survivors, ORACLE_DEDUP_SURVIVORS),
        "graph_components": (q_graph_components, ORACLE_GRAPH_COMPONENTS),
        "doc_chunks": (q_doc_chunks, ORACLE_DOC_CHUNKS),
        "corpus_vocab": (q_corpus_vocab, ORACLE_CORPUS_VOCAB),
        "doc_keywords": (q_doc_keywords, ORACLE_DOC_KEYWORDS),
        "corpus_fold_sample": (q_corpus_fold_sample, ORACLE_CORPUS_FOLD),
        "corpus_mix_sample": (q_corpus_mix_sample, ORACLE_CORPUS_MIX),
        "corpus_shuffle_shards": (q_corpus_shuffle_shards, ORACLE_SHUFFLE_SHARDS),
        "corpus_temperature_mix": (q_corpus_temperature_mix, ORACLE_TEMPERATURE_MIX),
        "source_capped": (q_source_capped, ORACLE_SOURCE_CAPPED),
        "corpus_curation": (q_corpus_curation, ORACLE_CORPUS_CURATION),
        "chunk_dedup": (q_chunk_dedup, ORACLE_CHUNK_DEDUP),
        "doc_unigram_ce": (q_doc_unigram_ce, ORACLE_DOC_UNIGRAM_CE),
        "doc_quality_logreg": (q_doc_quality_logreg, ORACLE_DOC_QUALITY_LOGREG),
        "doc_token_weight_score": (q_doc_token_weight_score, ORACLE_DOC_TOKEN_WEIGHT_SCORE),
        "decontam_hits": (q_decontam_hits, ORACLE_DECONTAM_HITS),
        "doc_repetition": (q_doc_repetition, ORACLE_DOC_REPETITION),
        "pii_redaction": (q_pii_redaction, ORACLE_PII_REDACTION),
        "dup_spans": (q_dup_spans, ORACLE_DUP_SPANS),
        "dup_span_dedupe": (q_dup_span_dedupe, ORACLE_DUP_SPAN_DEDUPE),
        "pack_sequences": (q_pack_sequences, ORACLE_PACK_SEQUENCES),
        "packed_sequences": (q_packed_sequences, ORACLE_PACKED_SEQUENCES),
        "bpe_token_stats": (q_bpe_token_stats, None),
        "emb_label_centroids": (q_emb_label_centroids, ORACLE_LABEL_CENTROIDS),
        "lake_sync_replay": (q_lake_sync_replay, _oracle_lake_sync()),
        "filtered_replica_sync": (q_filtered_replica_sync, _oracle_filtered_replica()),
        "agg_view_refresh": (q_agg_view_refresh, _oracle_agg_view()),
        "time_range_scan": (q_time_range_scan, _oracle_time_range()),
        "transcript_view_refresh": (q_transcript_view_refresh, _oracle_transcript_view()),
        "point_lookup_turns": (q_point_lookup_turns, _oracle_point_lookup()),
    }
