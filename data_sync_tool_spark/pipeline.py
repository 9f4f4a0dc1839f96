"""Pipeline runner — ``engine/pipeline.py`` parity: resolve datastores, build
the source plan (table + joins + filters + transform), validate schemas, and
execute sync strategies against a lake-table sink. Non-lake endpoint tables
and every join table are read through their datastore's adapter
(``sources/adapters.get_adapter``). A pipeline that configures
``enrichment`` is rejected: the runner does not apply it (the enrich
operators are ``operators/enrich``).

Execution strategies (reference ``ReconciliationConfig.strategy`` +
``project.yaml`` "method" notes):
- ``md5sum_hash`` / ``hash_md5_hash`` : hierarchical hash reconciliation →
  repair merge (``operators/reconcile``).
- ``updated_at``                      : incremental watermark sync — fetch
  rows with partition_column > watermark, merge, persist the new watermark
  in the commit lineage (``otel.py:83-84``).
- streaming                           : delegate to ``streaming.CdcPipeline``.

Schema validation mirrors ``engine/validate.py:1-49``: every configured
column is checked against the DataFrame schema at PLAN time — ``df.schema``
needs no job, the Spark analogue of the reference's limit-0 probe queries.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import Config, DatastoreConfig, EndpointConfig, PipelineConfig
from .operators.reconcile import ReconcileConfig, build_blocks, plan_repair, status_counts
from .operators.transform import apply_transform
from .plans.query import Filter as IRFilter
from .plans.query import _filter_condition
from .sources.adapters import get_adapter
from .sources.lake import LakeTable


class SchemaValidationError(ValueError):
    pass


def validate_endpoint_schema(df: DataFrame, endpoint: EndpointConfig) -> None:
    """Plan-time column existence checks (``engine/validate.py`` parity:
    the reference issues LIMIT 0 probes per column; ``df.schema`` is free)."""
    available = set(df.columns)
    missing: list[str] = []
    for f in endpoint.fields:
        dv = f.dynamic()
        if dv.kind == "literal" and isinstance(dv.raw, str) and "." not in dv.raw:
            if dv.raw not in available:
                missing.append(dv.raw)
    for flt in endpoint.filters:
        if "." not in flt.column and flt.column not in available:
            missing.append(flt.column)
    mc = endpoint.meta_columns
    for c in filter(None, [mc.partition_column, mc.hash_column, mc.order_column]):
        if c not in available:
            missing.append(c)
    for c in mc.unique_columns or []:
        if c not in available:
            missing.append(c)
    if missing:
        raise SchemaValidationError(
            f"columns not found in {endpoint.table.table}: {sorted(set(missing))}"
        )


class Pipeline:
    """One configured source→sink sync (reference ``Pipeline``,
    ``engine/pipeline.py:96-137``)."""

    def __init__(self, spark: SparkSession, config: Config, name: str) -> None:
        self.spark = spark
        self.config = config
        self.pconf: PipelineConfig = config.pipeline(name)
        if self.pconf.enrichment:
            raise ValueError(
                f"pipeline {name!r}: the runner does not apply `enrichment`; "
                "remove the field or enrich with operators.enrich"
            )
        self._sink_table: LakeTable | None = None

    # ------------------------------------------------------------- source
    def _table_df(self, ds: DatastoreConfig, table: str) -> DataFrame:
        got = get_adapter(self.spark, ds, table)
        return got.read() if isinstance(got, LakeTable) else got

    def _endpoint_df(self, endpoint: EndpointConfig, transform: bool) -> DataFrame:
        ds = self.config.datastore(endpoint.datastore)
        if ds.type == "lake":
            df = self.sink_lake().read() if endpoint is self.pconf.sink else LakeTable(
                self.spark, f"{ds.path}/{endpoint.table.table}",
                endpoint.meta_columns.unique_columns or ["id"],
            ).read()
        else:
            df = self._table_df(ds, endpoint.table.table)
        if endpoint.table.alias:
            df = df.alias(endpoint.table.alias)
        for j in endpoint.joins:
            right = self._table_df(ds, j.table)
            df = df.join(right.alias(j.alias or j.table), on=F.expr(j.on), how=j.type)
        for flt in endpoint.filters:
            df = df.filter(_filter_condition(IRFilter(flt.column, flt.operator, flt.value)))
        validate_endpoint_schema(df, endpoint)
        if transform and endpoint.fields:
            df = apply_transform(df, endpoint.fields)
        return df

    def source_df(self, transform: bool = True) -> DataFrame:
        return self._endpoint_df(self.pconf.source, transform)

    def sink_lake(self) -> LakeTable:
        if self._sink_table is None:
            ds = self.config.datastore(self.pconf.sink.datastore)
            if ds.type != "lake":
                raise ValueError("sink datastore must be type 'lake' for merge strategies")
            keys = self.pconf.sink.meta_columns.unique_columns
            if not keys:
                raise ValueError("sink.meta_columns.unique_columns is required")
            self._sink_table = LakeTable(
                self.spark,
                f"{ds.path}/{self.pconf.sink.table.table}",
                keys,
                n_buckets=int(ds.options.get("n_buckets", 32)),
                merge_mode=ds.options.get("merge_mode", "cow"),
            )
        return self._sink_table

    # -------------------------------------------------------------- runs
    def run_reconciliation(
        self,
        recon_name: str,
        apply: bool = True,
        lsn: int | None = None,
        collect_settled: bool = False,
    ) -> dict[str, Any]:
        """prepare_data_blocks + the load phase (``engine/pipeline.py:123-137``
        + the reference's commented-out ``load``): diff source vs sink with
        hierarchical digests, then merge only the divergent ranges."""
        rc = next((r for r in self.pconf.reconciliation if r.name == recon_name), None)
        if rc is None:
            raise KeyError(
                f"no reconciliation named {recon_name!r}; configured: "
                f"{[r.name for r in self.pconf.reconciliation]}"
            )
        if rc.strategy == "updated_at":
            raise ValueError("use run_incremental() for the updated_at strategy")
        keys = self.pconf.sink.meta_columns.unique_columns
        src = self.source_df()
        sink_lake = self.sink_lake()
        snk = sink_lake.read().drop("_lsn")
        start, end = rc.bounds()
        cfg = ReconcileConfig(
            partition_column=rc.partition_column,
            partition_column_type=rc.partition_column_type,
            strategy=rc.strategy,
            fields=[f.alias or f.column for f in (self.pconf.sink.fields or [])]
            or [c for c in src.columns],
            order_column=self.pconf.source.meta_columns.order_column,
            hash_column=self.pconf.source.meta_columns.hash_column,
            initial_partition_interval=rc.initial_partition_interval,
            interval_reduction_factor=rc.interval_reduction_factor,
            max_block_size=rc.max_block_size,
            start=start,
            end=end,
        )
        # collect_settled=False (the default): matched blocks stay a
        # distributed aggregate — the driver only ever holds the diff-sized
        # M/A/D block list. True materializes N blocks too (debug only).
        plan = build_blocks(src, snk, cfg, collect_settled=collect_settled)
        blocks = plan.blocks
        out: dict[str, Any] = {
            "counts": status_counts(plan),
            "n_blocks": len(blocks) + plan.settled_n_blocks,
        }
        if apply:
            next_lsn = lsn if lsn is not None else sink_lake.current_version() + 1
            # repair reads the sink restricted to the divergent ranges; when
            # the reconcile partitions on ANY of the lake's key columns, the
            # manifest zone maps prune whole FILES in every bucket before the
            # scan (watermark-ordered ingest lands each commit in a narrow
            # key band, so a repair of 2% of the range opens ~2% of the
            # delta files) — the row-level range restriction plan_repair
            # applies is unchanged
            snk_rep = snk
            ranges = [(b.start, b.end) for b in blocks]
            if (
                ranges
                and rc.partition_column in sink_lake.key_cols
                and rc.partition_column_type == "int"
            ):
                snk_rep = sink_lake.read(
                    ranges={rc.partition_column: ranges}
                ).drop("_lsn")
            changes = plan_repair(
                src, snk_rep, cfg, blocks, unique_keys=keys,
                allow_delete=self.pconf.merge_strategy.allow_delete, lsn=next_lsn,
            )
            res = sink_lake.merge_into(
                changes,
                batch_id=f"reconcile:{recon_name}:v{sink_lake.current_version()}",
                strategy=self.pconf.merge_strategy.strategy
                if self.pconf.merge_strategy.strategy != "collapse" else "upsert",
                allow_delete=self.pconf.merge_strategy.allow_delete,
                lineage_extra={"reconciliation": recon_name},
            )
            out["merged_version"] = res.version
            out["rows_written"] = res.rows_written
        return out

    def run_incremental(self, recon_name: str, watermark: Any | None = None) -> dict[str, Any]:
        """updated_at strategy: merge source rows newer than the watermark;
        the new watermark (max partition_column seen) rides the commit
        lineage, so resume needs no side store (reference keeps it in a
        state table, ``otel.py:83-84``)."""
        rc = next((r for r in self.pconf.reconciliation if r.name == recon_name), None)
        if rc is None:
            raise KeyError(
                f"no reconciliation named {recon_name!r}; configured: "
                f"{[r.name for r in self.pconf.reconciliation]}"
            )
        pc = rc.partition_column
        if watermark is None:
            watermark = self.last_watermark(recon_name)
        src = self.source_df()
        batch = src if watermark is None else src.filter(F.col(pc) > F.lit(watermark))
        hi = batch.agg(F.max(pc).alias("m")).first()["m"]
        if hi is None:
            return {"rows_written": 0, "watermark": watermark, "applied": False}
        sink_lake = self.sink_lake()
        lsn = sink_lake.current_version() + 1
        changes = batch.withColumn("op", F.lit("upsert")).withColumn(
            "lsn", F.lit(lsn).cast("long")
        )
        res = sink_lake.merge_into(
            changes,
            batch_id=f"incr:{recon_name}:{hi}",
            strategy="upsert",
            allow_delete=False,
            lineage_extra={"watermark": str(hi), "reconciliation": recon_name},
        )
        return {"rows_written": res.rows_written, "watermark": hi, "applied": res.applied}

    def last_watermark(self, recon_name: str) -> Any | None:
        """O(1) on current tables: every commit carries the per-reconciliation
        watermark map forward in its manifest, so resume reads ONE manifest —
        a 10^6-commit table must not open a million JSON files per
        incremental run. Legacy tables (written before the carried map) fall
        back to a backward walk that stops at the first hit or the vacuum
        horizon — O(commits since the last watermark), never O(versions)."""
        lake = self.sink_lake()
        m = lake._load_manifest()
        if m is None:
            return None
        wm = m.get("watermarks")
        if wm is not None and recon_name in wm:
            return wm[recon_name]
        # the carried map lacks this reconciliation (commits made by pre-map
        # code, or a map written by an upgrade that never saw this recon) —
        # fall through to the lineage walk instead of masking pre-upgrade
        # watermarks with None. The walk STARTS at the current version: a
        # manifest whose own lineage carries the watermark but whose carried
        # map predates it must not be skipped. One-time O(commits) cost: the
        # next run_incremental commit re-seeds the carried map and restores
        # the O(1) fast path above.
        for v in range(m.get("version", lake.current_version()), 0, -1):
            mv = m if v == m.get("version") else lake._load_manifest(v)
            if mv is None:  # vacuumed horizon
                break
            lin = mv.get("lineage", {})
            if lin.get("reconciliation") == recon_name and "watermark" in lin:
                return lin["watermark"]
            wmv = mv.get("watermarks")
            if wmv is not None and recon_name in wmv:
                return wmv[recon_name]
        return None
