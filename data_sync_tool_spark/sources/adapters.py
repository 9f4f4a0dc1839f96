"""Adapter registry — ``core/db_factory.py`` + custom-plugin parity.

The reference dispatches datastore types to adapter classes
(``core/db_factory.py:15-36``) and loads custom adapters by dotted path
(``utils/utils_fn.py:19-32``). Here an adapter is anything that can produce
or consume DataFrames for a named datastore; built-ins cover the lake/file
world, and the reference's database/message adapters map onto Spark
connectors that are GATED on their drivers being present (this container has
no network installs, so they raise a clear error instead of half-working):

| reference adapter | Spark realization | availability |
|---|---|---|
| postgres/mysql (``adapters/postgres.py``) | ``spark.read.format("jdbc")`` | needs the JDBC driver jar on the classpath |
| clickhouse append (``adapters/clickhouse.py``) | jdbc append / collapse-strategy lake table | same |
| webhook sink (``adapters/webhook.py``) | ``foreachBatch`` bulk POST via injected transport | needs ``requests`` (present) + an endpoint |
| NATS source (``adapters/nats.py``) | bounded Structured Streaming source | our file-chunk binlog stands in; a Kafka/NATS connector jar swaps in |
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..config import DatastoreConfig
from .lake import LakeTable

AdapterFactory = Callable[[SparkSession, DatastoreConfig, str], Any]

_REGISTRY: dict[str, AdapterFactory] = {}


def register_adapter(dstype: str, factory: AdapterFactory) -> None:
    _REGISTRY[dstype] = factory


def load_custom_adapter(dotted_path: str) -> AdapterFactory:
    """Dotted-path plugin loading (``utils/utils_fn.py:19-32``):
    ``"my_pkg.my_mod:factory"`` or ``"my_pkg.my_mod.factory"``."""
    if ":" in dotted_path:
        mod_name, attr = dotted_path.split(":", 1)
    else:
        mod_name, _, attr = dotted_path.rpartition(".")
    mod = importlib.import_module(mod_name)
    return getattr(mod, attr)


def get_adapter(spark: SparkSession, ds: DatastoreConfig, table: str) -> Any:
    """Type→adapter dispatch (``core/db_factory.py:15-36``). Custom types use
    ``options.adapter_class`` as a dotted path."""
    if "adapter_class" in ds.options:
        return load_custom_adapter(ds.options["adapter_class"])(spark, ds, table)
    if ds.type in _REGISTRY:
        return _REGISTRY[ds.type](spark, ds, table)
    raise KeyError(f"no adapter registered for datastore type {ds.type!r}")


# ------------------------------------------------------------- built-ins
def _parquet_adapter(spark: SparkSession, ds: DatastoreConfig, table: str) -> DataFrame:
    return spark.read.parquet(f"{ds.path}/{table}.parquet")


def _lake_adapter(spark: SparkSession, ds: DatastoreConfig, table: str) -> LakeTable:
    keys = [k for k in ds.options.get("unique_columns", "id").split(",")]
    return LakeTable(
        spark, f"{ds.path}/{table}", keys,
        n_buckets=int(ds.options.get("n_buckets", 32)),
        merge_mode=ds.options.get("merge_mode", "cow"),
    )


_JDBC_PARALLEL_COMPANIONS = ("lowerBound", "upperBound", "numPartitions")


def jdbc_reader_options(ds: DatastoreConfig, table: str) -> dict[str, str]:
    """The option dict a JDBC scan runs with — separated from the load so
    the plumbing is testable without a driver jar. What makes the scan
    actually parallel at cluster scale is ``partitionColumn`` +
    ``lowerBound``/``upperBound``/``numPartitions`` (each executor reads one
    range slice; the reference reads single-threaded,
    ``adapters/postgres.py:103-127``); an incomplete combination silently
    degrades to ONE task, so it is rejected here instead."""
    opts = {
        "url": str(ds.options.get("url", "")),
        "dbtable": table,
        **{str(k): str(v) for k, v in ds.options.items() if k not in ("url",)},
    }
    if "partitionColumn" in opts:
        missing = [k for k in _JDBC_PARALLEL_COMPANIONS if k not in opts]
        if missing:
            raise ValueError(
                f"jdbc partitionColumn requires {list(_JDBC_PARALLEL_COMPANIONS)}; "
                f"missing {missing} — without them Spark reads the whole table "
                f"in a single task"
            )
    elif any(k in opts for k in _JDBC_PARALLEL_COMPANIONS):
        raise ValueError(
            "jdbc lowerBound/upperBound/numPartitions have no effect without "
            "partitionColumn (the read would silently be single-task)"
        )
    return opts


def _jdbc_adapter(spark: SparkSession, ds: DatastoreConfig, table: str) -> DataFrame:
    """Postgres/MySQL/ClickHouse scan via Spark's JDBC source with
    partitioned parallel reads (the reference reads single-threaded). Raises
    clearly when the driver jar is absent (this sandbox has none)."""
    reader = spark.read.format("jdbc")
    for k, v in jdbc_reader_options(ds, table).items():
        reader = reader.option(k, v)
    try:
        return reader.load()
    except Exception as e:  # driver jar missing → actionable message
        raise RuntimeError(
            f"JDBC read for {table!r} failed — is the driver jar on the "
            f"classpath? (--jars postgresql.jar etc.): {e}"
        ) from e


_SUBJECT_RE = __import__("re").compile(r"^[A-Za-z_][A-Za-z0-9_.]*$")


def safe_subject(name: str) -> str:
    """Reference subject validation (``adapters/nats.py:14-17``) — rejects
    injection-prone subject strings before any publish."""
    if not _SUBJECT_RE.match(name or ""):
        raise ValueError(f"Invalid message-bus subject: {name!r}")
    return name


def make_bus_sink(
    subject: str,
    publish: Callable[[str, bytes], None] | None = None,
    drop_on_shutdown: Callable[[], bool] | None = None,
):
    """Message-bus sink (the reference's NATS publish side,
    ``adapters/nats.py:49-56``) as a ``foreachBatch`` body: every row is
    published as a JSON payload to ``subject``. ``publish`` is the injected
    transport (a real deployment passes ``nats.Client.publish`` /
    Kafka producer.send; this sandbox has no broker, exactly like the
    webhook sink's injected ``transport``).

    Publishing happens per PARTITION on the executors — rows never collect
    to the driver — and the reference's shutdown gate (skip publishes once
    draining, ``:50-52``) is the optional ``drop_on_shutdown`` probe,
    evaluated ON THE DRIVER once per epoch: the probe typically closes over
    driver-process state (e.g. ``install_shutdown_handler``'s flag), which an
    executor-side closure could never observe on a real cluster (it is
    pickled at submit time). A draining epoch is therefore skipped whole.
    Delivery is at-least-once under micro-batch retry (the bus side is not
    idempotent; pair with keyed/LWW consumers, as the engine's own MERGE
    sink is)."""
    if publish is None:  # pragma: no cover - needs a broker
        raise ValueError("make_bus_sink requires an injected publish transport")
    safe_subject(subject)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if drop_on_shutdown is not None and drop_on_shutdown():
            return  # draining: drop the whole epoch (driver-side decision)

        def send_partition(rows):
            import json as _json

            for r in rows:
                publish(subject, _json.dumps(r.asDict(recursive=True), default=str).encode())

        batch_df.foreachPartition(send_partition)

    return sink


def make_webhook_sink(
    url: str,
    transport: Callable[[str, list[dict]], int] | None = None,
    batch_size: int = 500,
):
    """Webhook sink (``adapters/webhook.py:23-30``) as a ``foreachBatch``
    body: rows POST in bulk batches, never one request per row. ``transport``
    is injected for tests; the default uses ``requests`` with retries."""
    if transport is None:
        import requests
        from requests.adapters import HTTPAdapter, Retry

        sess = requests.Session()
        sess.mount("http", HTTPAdapter(max_retries=Retry(total=5, backoff_factor=0.5)))

        def transport(u: str, rows: list[dict]) -> int:  # pragma: no cover - needs endpoint
            return sess.post(u, json=rows, timeout=30).status_code

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        def send_partition(rows):
            buf: list[dict] = []
            for r in rows:
                buf.append(r.asDict(recursive=True))
                if len(buf) >= batch_size:
                    transport(url, buf)
                    buf = []
            if buf:
                transport(url, buf)

        batch_df.foreachPartition(send_partition)

    return sink


register_adapter("parquet", _parquet_adapter)
register_adapter("lake", _lake_adapter)
register_adapter("jdbc", _jdbc_adapter)
register_adapter("postgres", _jdbc_adapter)
register_adapter("memory", lambda spark, ds, table: spark.table(table))
