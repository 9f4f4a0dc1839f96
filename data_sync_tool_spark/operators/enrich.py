"""Enrichment — reference ``engine/enrich.py`` semantics, vectorized.

The reference enriches ONE ROW AT A TIME: a Redis GET or HTTP GET per row
(``engine/enrich.py:8-19``) — at 10^10 events that is 10^10 round-trips.
Here:

- ``enrich_with_table``  : the Redis/key-value case — the external store is
  materialized (or cached) as a key→value DataFrame and BROADCAST-joined;
  zero per-row I/O, one hash-join per batch. This is the standard lakehouse
  pattern for dimension lookups.
- ``enrich_with_service``: the genuinely-remote case — Arrow-batched
  ``mapInPandas`` calling the service once per BATCH of keys (bulk endpoint),
  never per row. The transport is injected, so tests use a deterministic
  fake and production plugs an HTTP client.

Key templates (``key_template: "user:{{ user_id }}"``) compile to column
expressions via ``transform.template_to_column``; the ``output`` mapper
lambda (``'lambda v: {...}'``, ``core/config.py:263``) maps looked-up values
to output columns after the join.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EnrichmentConfig
from .transform import template_to_column


def enrich_with_table(
    df: DataFrame,
    conf: EnrichmentConfig,
    kv: DataFrame,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Broadcast-join enrichment: render the key template per row (vectorized)
    and join against the key-value store image. Missing keys yield NULL,
    matching the reference (``engine/enrich.py:13``)."""
    out_field = conf.output_field or conf.name
    keyed = df.withColumn("_ek", template_to_column(conf.key_template or "{{ key }}"))
    looked = keyed.join(
        F.broadcast(kv.select(F.col(key_col).alias("_ek"), F.col(value_col).alias(out_field))),
        on="_ek",
        how="left",
    ).drop("_ek")
    return looked


def enrich_with_service(
    df: DataFrame,
    conf: EnrichmentConfig,
    fetch_batch: Callable[[list[str]], dict[str, Any]],
    result_type: str = "string",
) -> DataFrame:
    """Service enrichment over Arrow batches: ``fetch_batch(keys) -> {key:
    value}`` is called once per partition-batch (bulk lookup), the analogue of
    the reference's per-row HTTP GET (``engine/enrich.py:14-19``) without the
    per-row round-trip."""
    out_field = conf.output_field or conf.name
    keyed = df.withColumn("_ek", template_to_column(conf.key_template or conf.path or ""))
    schema_str = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in keyed.schema.fields]
        + [f"`{out_field}` {result_type}"]
    )

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lookup = fetch_batch(pdf["_ek"].drop_duplicates().tolist()) if len(pdf) else {}
            pdf[out_field] = pdf["_ek"].map(lookup)
            yield pdf

    return keyed.mapInPandas(_map, schema=schema_str).drop("_ek")
