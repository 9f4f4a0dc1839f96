"""End-to-end pipeline runner: YAML config → source plan → reconcile/
incremental sync into a lake sink."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_sync_tool_spark.config import Config
from data_sync_tool_spark.pipeline import Pipeline, SchemaValidationError

YAML = """
datastores:
  - name: files
    type: parquet
    path: "{sf}"
  - name: warehouse
    type: lake
    path: "{lake}"
    options: {{n_buckets: "8"}}
pipelines:
  - name: orders_sync
    source:
      datastore: files
      table: {{table: orders}}
      filters:
        - {{column: o_orderstatus, operator: '!=', value: 'X'}}
    sink:
      datastore: warehouse
      table: {{table: orders_mirror}}
      fields:
        - {{column: o_orderkey, dtype: int}}
        - {{column: o_custkey, dtype: int}}
        - {{column: o_totalprice, dtype: float}}
        - {{column: o_orderdate, dtype: datetime}}
      meta_columns: {{unique_columns: [o_orderkey], partition_column: o_orderkey}}
    merge_strategy: {{strategy: upsert, allow_delete: true}}
    reconciliation:
      - name: full
        strategy: md5sum_hash
        partition_column: o_orderkey
        partition_column_type: int
        initial_partition_interval: 100000
        max_block_size: 1000
      - name: incr
        strategy: updated_at
        partition_column: o_orderkey
        partition_column_type: int
"""


@pytest.fixture()
def pipe(spark, sf_small, tmp_path):
    cfg_path = tmp_path / "config.yaml"
    cfg_path.write_text(YAML.format(sf=sf_small, lake=tmp_path / "lake"))
    return Pipeline(spark, Config.load(str(cfg_path)), "orders_sync")


def test_full_reconcile_bootstrap_and_converge(spark, pipe, sf_small):
    # empty sink → everything is 'A'; apply → sink mirrors source
    out = pipe.run_reconciliation("full", apply=True)
    n_src = spark.read.parquet(f"{sf_small}/orders.parquet").count()
    assert out["counts"]["A"] == n_src
    assert pipe.sink_lake().read().count() == n_src
    # second pass: all N, nothing written
    out2 = pipe.run_reconciliation("full", apply=False)
    assert out2["counts"]["M"] == 0 and out2["counts"]["A"] == 0 and out2["counts"]["D"] == 0
    assert out2["counts"]["N"] == n_src


def test_reconcile_detects_and_repairs_drift(spark, pipe):
    pipe.run_reconciliation("full", apply=True)
    lake = pipe.sink_lake()
    # corrupt the sink: drop some rows and modify others (drift injection)
    snap = lake.read()
    drifted = snap.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    lake.overwrite(drifted.drop("_lsn"), batch_id="drift")
    out = pipe.run_reconciliation("full", apply=True)
    assert out["counts"]["M"] + out["counts"]["A"] > 0
    out2 = pipe.run_reconciliation("full", apply=False)
    assert out2["counts"]["M"] == 0 and out2["counts"]["A"] == 0 and out2["counts"]["D"] == 0


def test_incremental_watermark_sync(spark, pipe, sf_small):
    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    max_key = orders.agg(F.max("o_orderkey")).first()[0]
    mid = max_key // 2
    # first incremental: everything up to mid (simulate old snapshot)
    r1 = pipe.run_incremental("incr", watermark=None)
    assert r1["watermark"] == max_key
    # no new data → no-op, watermark persisted in lineage
    r2 = pipe.run_incremental("incr")
    assert r2["rows_written"] == 0
    assert pipe.last_watermark("incr") == str(max_key)
    # filters in source config applied before merge
    assert pipe.sink_lake().read().count() == orders.count()
    assert r1["rows_written"] == orders.count()
    assert mid > 0  # sanity


def test_last_watermark_opens_bounded_manifests(spark, pipe, monkeypatch):
    """Resume on a long-lived table must read O(1) manifests (the watermark
    map rides every commit), never a lineage scan over all versions."""
    pipe.run_incremental("incr", watermark=None)
    lake = pipe.sink_lake()
    # pile up unrelated commits after the watermark-bearing one
    one = lake.read().limit(1).withColumn("op", F.lit("upsert")).withColumn(
        "lsn", F.lit(10_000_000).cast("long")
    ).drop("_lsn")
    for i in range(30):
        lake.merge_into(one.withColumn("lsn", F.lit(10_000_000 + i).cast("long")),
                        batch_id=f"noise-{i}")
    opened = []
    orig = type(lake)._load_manifest
    monkeypatch.setattr(type(lake), "_load_manifest",
                        lambda self, v=None: (opened.append(v), orig(self, v))[1])
    wm = pipe.last_watermark("incr")
    assert wm is not None
    assert len(opened) <= 2, f"opened {len(opened)} manifests for one watermark lookup"


def test_repair_read_uses_key_zone_maps(spark, sf_small, tmp_path, monkeypatch):
    """When the reconcile partitions on the lake key column (int), the
    repair-phase sink read passes the divergent block ranges as ranges on it —
    file-level zone-map pruning (mechanics pytest-pinned at the lake level in
    test_key_zone_maps_prune_range_reads) — and still converges."""
    from data_sync_tool_spark.sources.lake import LakeTable

    cfg_path = tmp_path / "config.yaml"
    cfg_path.write_text(
        YAML.format(sf=sf_small, lake=tmp_path / "lake").replace(
            'n_buckets: "8"', 'n_buckets: "8", merge_mode: mor'
        )
    )
    pipe = Pipeline(spark, Config.load(str(cfg_path)), "orders_sync")
    lake = pipe.sink_lake()
    src = pipe.source_df()
    lo, hi = src.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    step = (hi - lo) // 4 + 1
    for i in range(4):  # watermark-ordered bootstrap: narrow key band per commit
        b = src.filter(
            (F.col("o_orderkey") >= lo + i * step) & (F.col("o_orderkey") < lo + (i + 1) * step)
        )
        lake.merge_into(
            b.withColumn("op", F.lit("upsert")).withColumn("lsn", F.lit(i + 1).cast("long")),
            batch_id=f"slice{i}",
        )
    # drift ONE slice: wrong totals under a pre-repair lsn
    drifted = lake.read().filter(
        (F.col("o_orderkey") >= lo + step) & (F.col("o_orderkey") < lo + 2 * step)
    ).drop("_lsn").withColumn("o_totalprice", F.col("o_totalprice") + 1)
    lake.merge_into(
        drifted.withColumn("op", F.lit("upsert")).withColumn("lsn", F.lit(5).cast("long")),
        batch_id="drift",
    )
    seen_ranges: list = []
    orig_read = LakeTable.read
    monkeypatch.setattr(
        LakeTable, "read",
        lambda self, *a, **kw: (
            seen_ranges.append(kw.get("ranges")),
            orig_read(self, *a, **kw),
        )[1],
    )
    out = pipe.run_reconciliation("full", apply=True)
    assert out["counts"]["M"] > 0
    assert any(r and list(r) == ["o_orderkey"] for r in seen_ranges), \
        "repair never passed ranges on the partition column"
    out2 = pipe.run_reconciliation("full", apply=False)
    assert out2["counts"]["M"] == 0 and out2["counts"]["A"] == 0 and out2["counts"]["D"] == 0


def test_last_watermark_survives_map_upgrade(spark, pipe):
    """Manifests written before the carried watermark map (or by an upgrade
    whose map never saw this recon) must resolve through the lineage walk —
    starting at the CURRENT manifest's own lineage, and falling through when
    the map exists but lacks the key (it must not mask older lineage)."""
    import json

    pipe.run_incremental("incr", watermark=None)
    lake = pipe.sink_lake()
    # simulate a pre-upgrade commit: strip the carried map from the
    # watermark-bearing (current) manifest
    p = lake._manifest_path(lake.current_version())
    with open(p) as f:
        m = json.load(f)
    assert "watermark" in m["lineage"]
    del m["watermarks"]
    with open(p, "w") as f:
        json.dump(m, f)
    wm1 = pipe.last_watermark("incr")  # found in the current lineage itself
    assert wm1 == m["lineage"]["watermark"]
    # a post-upgrade commit now writes an EMPTY carried map: the lookup must
    # fall through to the lineage walk, not return None from wm.get()
    one = lake.read().limit(1).withColumn("op", F.lit("upsert")).withColumn(
        "lsn", F.lit(99_000_000).cast("long")
    ).drop("_lsn")
    lake.merge_into(one, batch_id="post-upgrade")
    assert lake._load_manifest().get("watermarks") == {}
    assert pipe.last_watermark("incr") == wm1


def test_schema_validation_rejects_unknown_columns(spark, sf_small, tmp_path):
    bad_yaml = YAML.format(sf=sf_small, lake=tmp_path / "lake").replace(
        "o_orderkey, dtype: int", "nonexistent_col, dtype: int", 1
    )
    p = tmp_path / "bad.yaml"
    p.write_text(bad_yaml)
    pipe = Pipeline(spark, Config.load(str(p)), "orders_sync")
    with pytest.raises(SchemaValidationError, match="nonexistent_col"):
        pipe.source_df()

COMPOSITE_YAML = YAML.replace(
    "meta_columns: {{unique_columns: [o_orderkey], partition_column: o_orderkey}}",
    "meta_columns: {{unique_columns: [o_orderstatus, o_orderkey], partition_column: o_orderkey}}",
).replace(
    "fields:\n        - {{column: o_orderkey, dtype: int}}",
    "fields:\n        - {{column: o_orderstatus, dtype: str}}\n"
    "        - {{column: o_orderkey, dtype: int}}",
)


def test_repair_prunes_on_second_key_column(spark, sf_small, tmp_path, monkeypatch):
    """Composite key whose FIRST column is low-cardinality (o_orderstatus:
    3 values, so first-key bounds span the domain every commit): the repair
    read must pass ranges over the SELECTIVE second key column
    (o_orderkey) and open a bounded file subset via the per-column zone
    maps."""
    from data_sync_tool_spark.sources.lake import LakeTable

    cfg_path = tmp_path / "config.yaml"
    cfg_path.write_text(
        COMPOSITE_YAML.format(sf=sf_small, lake=tmp_path / "lake").replace(
            'n_buckets: "8"', 'n_buckets: "8", merge_mode: mor'
        )
    )
    pipe = Pipeline(spark, Config.load(str(cfg_path)), "orders_sync")
    lake = pipe.sink_lake()
    assert lake.key_cols == ["o_orderstatus", "o_orderkey"]
    src = pipe.source_df()
    lo, hi = src.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    step = (hi - lo) // 4 + 1
    for i in range(4):  # watermark-ordered: narrow o_orderkey band per commit
        b = src.filter(
            (F.col("o_orderkey") >= lo + i * step) & (F.col("o_orderkey") < lo + (i + 1) * step)
        )
        lake.merge_into(
            b.withColumn("op", F.lit("upsert")).withColumn("lsn", F.lit(i + 1).cast("long")),
            batch_id=f"slice{i}",
        )
    drifted = lake.read().filter(
        (F.col("o_orderkey") >= lo + step) & (F.col("o_orderkey") < lo + 2 * step)
    ).drop("_lsn").withColumn("o_totalprice", F.col("o_totalprice") + 1)
    lake.merge_into(
        drifted.withColumn("op", F.lit("upsert")).withColumn("lsn", F.lit(5).cast("long")),
        batch_id="drift",
    )
    n_files_total = len(lake._files(lake._load_manifest(), None))
    seen: list = []
    pruned_opens: list[int] = []
    orig_read = LakeTable.read
    orig_files = LakeTable._read_files

    def spy_read(self, *a, **kw):
        if kw.get("ranges"):
            seen.append(kw["ranges"])
            opened: list[str] = []
            monkeypatch.setattr(
                LakeTable, "_read_files",
                lambda s, files, schema: (opened.extend(files),
                                          orig_files(s, files, schema))[1],
            )
            try:
                return orig_read(self, *a, **kw)
            finally:
                monkeypatch.setattr(LakeTable, "_read_files", orig_files)
                pruned_opens.append(len(opened))
        return orig_read(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "read", spy_read)
    out = pipe.run_reconciliation("full", apply=True)
    monkeypatch.setattr(LakeTable, "read", orig_read)
    assert out["counts"]["M"] > 0
    assert seen and all(list(r) == ["o_orderkey"] for r in seen)
    # the repair read opened a strict subset of the table's files (the
    # drifted slice is ~1/4 of the key span; first-key bounds alone would
    # have opened everything)
    assert pruned_opens and max(pruned_opens) < n_files_total
    out2 = pipe.run_reconciliation("full", apply=False)
    assert out2["counts"]["M"] == 0 and out2["counts"]["A"] == 0 and out2["counts"]["D"] == 0


def _first_seven(spark, ds, table):
    """An ``adapter_class`` factory: seven rows of the table's parquet file."""
    return spark.read.parquet(f"{ds.path}/{table}.parquet").limit(7)


def test_source_reads_through_the_datastore_adapter(spark, sf_small, tmp_path):
    cfg_path = tmp_path / "config.yaml"
    cfg_path.write_text(YAML.format(sf=sf_small, lake=tmp_path / "lake").replace(
        "type: parquet",
        "type: custom\n    options: {adapter_class: 'tests.test_pipeline:_first_seven'}", 1,
    ))
    pipe = Pipeline(spark, Config.load(str(cfg_path)), "orders_sync")
    assert pipe.source_df().count() == 7


def test_enrichment_is_rejected_not_ignored(spark, sf_small, tmp_path):
    cfg_path = tmp_path / "config.yaml"
    cfg_path.write_text(
        YAML.format(sf=sf_small, lake=tmp_path / "lake")
        + "    enrichment:\n      - {name: tier, key_template: '{{ o_custkey }}'}\n"
    )
    with pytest.raises(ValueError, match="enrichment"):
        Pipeline(spark, Config.load(str(cfg_path)), "orders_sync")
