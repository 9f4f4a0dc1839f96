"""SparkSession factory.

Reference analogue: adapter connection setup (``/root/reference/core/db_factory.py:15-36``)
— here the "connection" is one SparkSession configured for lake workloads.

Scale notes (the confs below are the ones that matter at 100 TB):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting, so a
  hot ``conv_id`` in a merge join is split instead of stalling one task.
- Arrow on: every pandas_udf / mapInPandas crosses the JVM↔Python boundary in
  columnar batches, never row-at-a-time (the reference's per-row loop at
  ``/root/reference/otel.py:106-118`` is exactly what this forbids).
- UTC session timezone: the reference forces UTC
  (``/root/reference/utils/utils_fn.py:55-59``); epoch-second bucket math in
  ``functions.hashes`` depends on it.
- ``shuffle.partitions`` defaults to 2× cores locally; on a real cluster set it
  to ~2-3× total executor cores (or leave AQE's coalescing to shrink it).
- DataFrame call-site capture off (``spark.python.sql.dataFrameDebugging.enabled``
  = false). With it on, every PySpark API call (each ``F.col``, ``withColumn``,
  comparison …) reads a conf through the JVM, walks the Python stack and sets
  and clears the JVM-side origin: ``F.col("x")`` is 13 py4j commands with it,
  3 without (two reflection lookups and one call). Replica steps are bound by
  the driver, not the executors; off, a perfbench cdc_replica repetition
  makes 3.0 k py4j calls instead of 7.1 k (not counting the object releases
  py4j sends as Python frees JVM references). The cost: the "== DataFrame =="
  section of an ANSI runtime error names a JVM frame instead of the Python
  file and line; the error class and message stay. To get it back, set the
  key to ``true`` through ``extra_conf`` or ``SPARK_GRAFT_EXTRA_CONF`` (both
  apply after the base block). PySpark reads the flag once per process, at
  the first Column built while a session is active, so the setting only
  holds for a session built here before that point; a session handed in
  from outside (``__spark_entry__.entry(spark)``) keeps PySpark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def build_session(
    app_name: str = "data-sync-tool-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores) so the same entry points serve tests, bench runs at two
    parallelism levels, and ``spark-submit`` on a real cluster (where
    ``master`` is None and comes from the submit command).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            n = int(cpus) if cpus else (os.cpu_count() or 8)
        except ValueError:
            n = os.cpu_count() or 8
        shuffle_partitions = max(8, 2 * n)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 (the legacy default) writes timestamps with NO footer
        # statistics: row-group pushdown and the lake's per-file zone maps
        # both go blind on ts columns. INT64 micros is the modern parquet
        # timestamp — stats, pushdown, and cross-engine reads all work.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # call-site capture off (see "Scale notes"); PySpark caches the flag
        # at the first Column built while a session is active, so this and
        # any override below only hold if no Column was built before
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # extra jars (JDBC drivers for the live Postgres/MySQL integration
    # tests): must be on the classpath at JVM start, so they ride the
    # builder, not a late conf set
    jars = os.environ.get("SPARK_GRAFT_EXTRA_JARS")
    if jars:
        builder = builder.config("spark.jars", jars)
    # ad-hoc conf experiments / cluster overrides without code edits:
    # SPARK_GRAFT_EXTRA_CONF="spark.a=b;spark.c=d"
    extra_env = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if extra_env:
        for pair in extra_env.split(";"):
            k, _, v = pair.partition("=")
            if k.strip() and v:
                builder = builder.config(k.strip(), v.strip())
    # local[N] master can only be set before the JVM exists; on a cluster the
    # submit command wins and this is a no-op.
    builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType | str) -> DataFrame:
    """A small driver-side table (key lists, range bounds, empty results) as
    a JVM ``LocalTableScan``.

    ``spark.createDataFrame(list_of_tuples)`` parallelizes pickled rows into
    a Python RDD, so EVERY action over the frame — and every join that
    broadcasts it — starts Python worker tasks to unpickle them again (the
    dominant cost of a keyed lake read or an empty-side scan on a small
    batch). Built from an Arrow table instead, the rows live in the plan
    and are read without a Python task. ``rows`` are tuples in field order;
    ``schema`` is a ``StructType`` or a DDL string, and values must already
    match its types (a type Arrow cannot carry raises)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    if not schema.fields:  # Arrow cannot carry a zero-column table
        return spark.range(0).select()
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for c, f, af in zip(cols, schema.fields, arrow_schema):
        if isinstance(f.dataType, T.TimestampType):
            # Spark reads a datetime without tzinfo as local time, Arrow as
            # UTC: convert the way createDataFrame does, then hand Arrow the
            # instants as microseconds
            c = [f.dataType.toInternal(v) for v in c]
            arrays.append(pa.array(c, type=pa.int64()).cast(af.type))
        else:
            arrays.append(pa.array(list(c), type=af.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema))
