"""Merge-on-read mode: convergence parity with CoW, compaction, out-of-order
safety, schema evolution across delta files."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_sync_tool_spark.operators.dedupe import replay_final_state
from data_sync_tool_spark.session import local_frame
from data_sync_tool_spark.sources.lake import LakeTable
from data_sync_tool_spark.sources.registry import changelog


@pytest.fixture(scope="module")
def ch(spark, sf_small):
    return changelog(spark, sf_small).cache()


def _merge_batches(table, ch, n_batches=4, order=None):
    n = ch.agg(F.max("lsn")).first()[0] + 1
    idxs = order if order is not None else range(n_batches)
    for i in idxs:
        b = ch.filter(
            (F.col("lsn") >= i * n // n_batches) & (F.col("lsn") < (i + 1) * n // n_batches)
        )
        table.merge_into(b, batch_id=f"b{i}")


def _assert_same(a, b):
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_mor_converges_like_cow(spark, ch, tmp_path):
    mor = LakeTable(spark, str(tmp_path / "mor"), ["conv_id", "turn_idx"],
                    n_buckets=8, merge_mode="mor", checksum=False)
    _merge_batches(mor, ch)
    expect = replay_final_state(ch, ["conv_id", "turn_idx"])
    _assert_same(mor.read().drop("_lsn"), expect)


def test_mor_checksum_matches_cow(spark, ch, tmp_path):
    """Lineage checksum is mode-independent: same live data ⇒ same digest.
    MoR commits with pending deltas record null (live digest undefined until
    resolution); the compact commit restores the exact value from cached +
    new per-file digests — no full-table recompute anywhere."""
    cow = LakeTable(spark, str(tmp_path / "cow"), ["conv_id", "turn_idx"], n_buckets=8)
    mor = LakeTable(spark, str(tmp_path / "mor"), ["conv_id", "turn_idx"],
                    n_buckets=8, merge_mode="mor")
    _merge_batches(cow, ch)
    _merge_batches(mor, ch)
    assert mor.lineage()[-1]["table_checksum"] is None  # deltas pending
    assert mor.audit_checksum() == cow.lineage()[-1]["table_checksum"]
    mor.compact()
    assert cow.lineage()[-1]["table_checksum"] == mor.lineage()[-1]["table_checksum"]
    # incremental == full recompute, both modes
    assert cow.lineage()[-1]["table_checksum"] == cow.audit_checksum()
    assert mor.lineage()[-1]["table_checksum"] == mor.audit_checksum()


def test_mor_compaction_preserves_state(spark, ch, tmp_path):
    mor = LakeTable(spark, str(tmp_path / "mor"), ["conv_id", "turn_idx"],
                    n_buckets=8, merge_mode="mor")
    _merge_batches(mor, ch)
    before = mor.audit_checksum()
    res = mor.compact()
    assert res.applied
    assert mor.lineage()[-1]["table_checksum"] == before
    # post-compact manifest has no delta files
    m = mor._load_manifest()
    assert all(not e.get("delta") for e in m["buckets"].values())
    # and compaction is a no-op when there is nothing to fold
    assert mor.compact().applied is False
    expect = replay_final_state(ch, ["conv_id", "turn_idx"])
    _assert_same(mor.read().drop("_lsn"), expect)


def test_mor_out_of_order_batches(spark, ch, tmp_path):
    mor = LakeTable(spark, str(tmp_path / "mor"), ["conv_id", "turn_idx"],
                    n_buckets=8, merge_mode="mor", checksum=False)
    _merge_batches(mor, ch, order=[3, 1, 0, 2])
    expect = replay_final_state(ch, ["conv_id", "turn_idx"])
    _assert_same(mor.read().drop("_lsn"), expect)


def test_mor_schema_evolution(spark, ch, tmp_path):
    mor = LakeTable(spark, str(tmp_path / "mor"), ["conv_id", "turn_idx"],
                    n_buckets=8, merge_mode="mor", checksum=False)
    mor.merge_into(ch.filter(F.col("lsn") < 300), batch_id="b0")
    mor.merge_into(
        ch.filter((F.col("lsn") >= 300) & (F.col("lsn") < 600)).withColumn("model", F.lit("m-1")),
        batch_id="b1",
    )
    out = mor.read()
    assert "model" in out.columns
    assert out.filter(F.col("model").isNull()).count() > 0
    assert out.filter(F.col("model") == "m-1").count() > 0
    # compaction folds the evolved schema cleanly
    mor.compact()
    out2 = mor.read()
    assert "model" in out2.columns
    _assert_same(out, out2)


def test_mor_bucket_pruned_read(spark, ch, tmp_path):
    mor = LakeTable(spark, str(tmp_path / "mor"), ["conv_id", "turn_idx"],
                    n_buckets=16, merge_mode="mor", checksum=False)
    _merge_batches(mor, ch)
    all_rows = mor.read().count()
    per_bucket = sum(mor.read(buckets=[b]).count() for b in range(16))
    assert per_bucket == all_rows


def test_mor_merge_stats_ride_the_write_job(spark, tmp_path, monkeypatch):
    """With track_stats on, the MoR hot path must stay ONE action per commit:
    op counts ride the write job via observe(), never a second batch scan."""
    import pyspark.sql.classic.dataframe as d

    from data_sync_tool_spark.sources.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4, merge_mode="mor")
    b = local_frame(
        spark, [("a", "insert", 1), ("b", "insert", 2), ("a", "update", 3), ("c", "delete", 4)],
        "k string, op string, lsn long",
    )
    calls = []
    orig = d.DataFrame.collect
    monkeypatch.setattr(
        d.DataFrame, "collect", lambda self: (calls.append(1), orig(self))[1]
    )
    t.merge_into(b, batch_id="x")
    assert calls == [], "MoR merge ran a driver collect beyond the write job"
    assert t.lineage()[-1]["op_counts"] == {"insert": 2, "update": 1, "delete": 1}


def test_key_zone_maps_prune_range_reads(spark, tmp_path, monkeypatch):
    """Watermark-ordered ingest (int keys) lands each commit's delta files in
    a narrow key band; read(ranges={key: ...}) must open only files whose
    manifest zone map intersects a range, and return exactly the
    filtered rows (LWW-safe: all versions of an in-range key co-locate in
    kept files)."""
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4,
                  merge_mode="mor", checksum=False)
    for i in range(5):
        b = spark.range(i * 1000, (i + 1) * 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
            F.lit("insert").alias("op"), F.col("id").alias("lsn"),
        )
        t.merge_into(b, batch_id=f"r{i}")
    m = t._load_manifest()
    st = m["file_stats"]
    all_files = t._files(m, None)
    assert all("k" in st.get(f, {}).get("zm", {}) for f in all_files)
    opened: list[str] = []
    orig = LakeTable._read_files
    monkeypatch.setattr(
        LakeTable, "_read_files",
        lambda self, files, schema: (opened.extend(files), orig(self, files, schema))[1],
    )
    out = t.read(ranges={"k": [(2100, 2200)]})
    assert sorted(r.k for r in out.collect()) == list(range(2100, 2200))
    # only commit r2's files (keys 2000-2999) qualify: ≤ n_buckets of 20
    assert 0 < len(opened) <= 4, opened
    assert len(opened) < len(all_files)
    # unbounded range degrades gracefully to a full read
    opened.clear()
    assert t.read(ranges={"k": [(4500, None)]}).count() == 500
    assert len(opened) <= 4


def test_array_payload_columns_merge_compact_checksum(spark, tmp_path):
    """A training-data pipeline lands embeddings in the lake: array<float>
    payload columns must survive MoR merge (LWW struct-max orders arrays
    lexicographically), compact, deletes, and the incremental checksum
    (the row digest hashes the array through its canonical string image)."""
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4, merge_mode="mor")
    b1 = local_frame(
        spark, [(1, [1.0, 2.0], "doc-1", "insert", 1), (2, [3.0, 4.0], "doc-2", "insert", 2)],
        "k long, emb array<float>, src string, op string, lsn long",
    )
    b2 = local_frame(
        spark, [(1, [9.0, 9.5], "doc-1b", "update", 3), (3, [5.0, 6.0], "doc-3", "insert", 4)],
        "k long, emb array<float>, src string, op string, lsn long",
    )
    t.merge_into(b1, batch_id="b1")
    t.merge_into(b2, batch_id="b2")
    got = {r.k: [round(x, 1) for x in r.emb] for r in t.read().collect()}
    assert got == {1: [9.0, 9.5], 2: [3.0, 4.0], 3: [5.0, 6.0]}
    r = t.compact()
    assert r.applied
    got2 = {r_.k: [round(x, 1) for x in r_.emb] for r_ in t.read().collect()}
    assert got2 == got
    chk = t.lineage()[-1]["table_checksum"]
    assert chk is not None and chk == t.audit_checksum()
    # delete an array-carrying key; incremental digest stays exact
    t.merge_into(
        local_frame(
            spark, [(2, None, None, "delete", 5)],
            "k long, emb array<float>, src string, op string, lsn long",
        ),
        batch_id="d",
    )
    t.compact()
    assert t.lineage()[-1]["table_checksum"] == t.audit_checksum()
    assert {r_.k for r_ in t.read().collect()} == {1, 3}


def test_clustered_compact_prunes_hash_random_keys(spark, tmp_path, monkeypatch):
    """Hash-random keys defeat commit-level zone maps (every commit spans the
    full key range). compact(cluster_by_key=True, max_file_rows=...) sorts
    each bucket by key, splits it into bounded files, and records PER-FILE
    footer bounds in the manifest — a narrow key-range read must then open
    only the intersecting slice of each bucket, and the checksum machinery
    must survive the multi-file buckets (digest read-back fallback)."""
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4,
                  merge_mode="mor", checksum=True)
    # interleave keys across commits: commit i holds keys ≡ i (mod 5), so
    # every commit's key bounds span ~[i, 9995+i] — commit-level pruning nil
    for i in range(5):
        b = spark.range(2000).select(
            (F.col("id") * 5 + i).alias("k"), (F.col("id") + i).alias("v"),
            F.lit("insert").alias("op"), (F.col("id") * 5 + i).alias("lsn"),
        )
        t.merge_into(b, batch_id=f"r{i}")

    opened: list[str] = []
    orig = LakeTable._read_files
    monkeypatch.setattr(
        LakeTable, "_read_files",
        lambda self, files, schema: (opened.extend(files), orig(self, files, schema))[1],
    )
    # pre-compact: the same narrow range opens every file (no pruning)
    n_total_pre = len(t._files(t._load_manifest(), None))
    out = t.read(ranges={"k": [(4000, 4400)]})
    assert out.count() == 400
    assert len(opened) == n_total_pre

    r = t.compact(cluster_by_key=True, max_file_rows=700)
    assert r.applied
    m = t._load_manifest()
    all_files = t._files(m, None)
    assert len(all_files) > 4, "max_file_rows must split buckets into multiple files"
    st = m["file_stats"]
    assert all("k" in st[f]["zm"] for f in all_files)
    # per-file bounds are tight: within a bucket, files are key-disjoint
    by_bucket: dict[str, list[tuple[int, int]]] = {}
    for f in all_files:
        b = f.split("_bucket=")[1].split("/")[0]
        by_bucket.setdefault(b, []).append(tuple(st[f]["zm"]["k"]))
    for b, ranges in by_bucket.items():
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2, f"bucket {b}: overlapping file key ranges"

    opened.clear()
    out = t.read(ranges={"k": [(4000, 4400)]})
    assert sorted(r_.k for r_ in out.collect()) == list(range(4000, 4400))
    # 400 of 10000 keys → at most one ~700-row file per bucket qualifies
    assert 0 < len(opened) <= 4, opened
    assert len(opened) < len(all_files)
    # checksum integrity across the multi-file compact (read-back fallback)
    chk = t.lineage()[-1]["table_checksum"]
    assert chk is not None and chk == t.audit_checksum()


def test_rollback_reinstates_version_and_checksum(spark, tmp_path):
    """rollback(v) = Iceberg rollback_to_snapshot: a forward commit that
    re-references v's files verbatim. State, schema, checksum, and key
    zone maps all come back; ingest continues on top; vacuumed versions
    refuse with a clear error."""
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4,
                  merge_mode="mor", checksum=True)
    mk = lambda rows: local_frame(spark, rows, "k long, v string, op string, lsn long")
    t.merge_into(mk([(1, "a", "insert", 1), (2, "b", "insert", 2)]), batch_id="b1")
    t.merge_into(mk([(2, "b2", "update", 3), (3, "c", "insert", 4)]), batch_id="b2")
    t.compact()  # resolve deltas so the restored version carries a summed checksum
    v_good = t.current_version()
    good_state = {(r.k, r.v) for r in t.read().collect()}
    good_chk = t.audit_checksum()
    # bad upstream batch lands
    t.merge_into(mk([(1, "CORRUPT", "update", 5), (4, "junk", "insert", 6)]),
                 batch_id="bad")
    assert {(r.k, r.v) for r in t.read().collect()} != good_state

    res = t.rollback(v_good)
    assert res.applied and t.current_version() > v_good
    assert {(r.k, r.v) for r in t.read().collect()} == good_state
    lin = t.lineage()[-1]
    assert lin["op"] == "rollback" and lin["to_version"] == v_good
    assert lin["table_checksum"] == good_chk == t.audit_checksum()
    # history moved forward: ingest continues normally post-rollback
    t.merge_into(mk([(5, "e", "insert", 7)]), batch_id="b3")
    assert {(r.k, r.v) for r in t.read().collect()} == good_state | {(5, "e")}
    # time travel to the pre-rollback bad state still works (audit trail)
    assert (1, "CORRUPT") in {(r.k, r.v) for r in t.read(version=v_good + 1).collect()}
    # vacuum expires old versions; rollback past the horizon refuses
    t.compact()
    t.vacuum(keep_last=1)
    with pytest.raises(ValueError, match="vacuum"):
        t.rollback(v_good)


def test_type_widening_schema_evolution(spark, tmp_path):
    """A producer widens a column mid-stream (int→long, float→double —
    Iceberg type evolution). Old narrow files upcast at read via the
    parquet reader; new batches are cast to the merged schema before
    write; the digest cache keys on (name:type) so the float→double image
    change invalidates stale digests and the next compact catches them up
    (incremental checksum == full audit). Narrow batches landing on an
    already-wide table stay wide. Non-widenable conflicts fail fast."""
    for mode in ("mor", "cow"):
        t = LakeTable(spark, str(tmp_path / mode), ["k"], n_buckets=2,
                      merge_mode=mode, checksum=True)
        t.merge_into(
            local_frame(spark, [(1, 10, 0.5, "a", "insert", 1)],
                        "k long, n int, score float, v string, op string, lsn long"),
            batch_id="narrow")
        # widened batch: a long beyond int32 and a double beyond float precision
        t.merge_into(
            local_frame(spark, [(2, 2**40, 0.1, "b", "insert", 2)],
                        "k long, n long, score double, v string, op string, lsn long"),
            batch_id="wide")
        sch = {f.name: f.dataType.simpleString() for f in t.read().schema.fields}
        assert sch["n"] == "bigint" and sch["score"] == "double", sch
        got = {r.k: (r.n, round(r.score, 9)) for r in t.read().collect()}
        assert got == {1: (10, 0.5), 2: (2**40, 0.1)}
        # narrow batch on the widened table: schema stays wide, value upcast
        t.merge_into(
            local_frame(spark, [(3, 7, 1.5, "c", "insert", 3)],
                        "k long, n int, score float, v string, op string, lsn long"),
            batch_id="narrow2")
        assert {f.name: f.dataType.simpleString() for f in t.read().schema.fields} == sch
        t.compact()
        assert t.read().count() == 3
        chk = t.lineage()[-1]["table_checksum"]
        assert chk is not None and chk == t.audit_checksum(), mode
        # non-widenable conflict: clear error at merge time
        with pytest.raises(TypeError, match="schema evolution.*'n'"):
            t.merge_into(
                local_frame(spark, [(4, "oops", "insert", 4)],
                            "k long, n string, op string, lsn long"),
                batch_id="bad")


def test_strategy_switch_upsert_to_collapse_converges(spark, tmp_path):
    """A MoR table carrying UNRESOLVED upsert deltas that then receives
    collapse batches must still converge: one LWW-by-_lsn rule resolves
    every pending version regardless of which strategy wrote it (collapse
    deltas are versioned +1 rows, never -1 — see read()/merge_into).
    Guards the strategy-switch hazard from round-3 ADVICE (a sign-aware
    read that skipped LWW would count stale upsert versions as live)."""
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4,
                  merge_mode="mor")
    up = spark.range(100).select(
        F.col("id").alias("k"), F.lit(1).alias("v"),
        F.lit("upsert").alias("op"), F.lit(1).alias("lsn"))
    up2 = spark.range(50).select(  # second version of keys 0..49, unresolved
        F.col("id").alias("k"), F.lit(2).alias("v"),
        F.lit("upsert").alias("op"), F.lit(2).alias("lsn"))
    t.merge_into(up, batch_id="u1")
    t.merge_into(up2, batch_id="u2")  # deltas pending — no compact between
    col = spark.range(20, 60).select(  # collapse updates 20..49, deletes 50..59
        F.col("id").alias("k"), F.lit(3).alias("v"),
        F.when(F.col("id") >= 50, "delete").otherwise("update").alias("op"),
        F.lit(3).alias("lsn"))
    t.merge_into(col, batch_id="c1", strategy="collapse")

    def check(df):
        got = {r.k: r.v for r in df.collect()}
        assert len(got) == 90  # 100 keys - 10 deleted
        assert all(got[k] == 2 for k in range(0, 20))
        assert all(got[k] == 3 for k in range(20, 50))
        assert all(got[k] == 1 for k in range(60, 100))

    check(t.read())
    t.compact()  # physical fold: same state, checksum restored + auditable
    check(t.read())
    assert t.lineage()[-1]["table_checksum"] == t.audit_checksum()

def test_composite_key_zone_maps_prune_on_second_key_column(spark, tmp_path, monkeypatch):
    """Per-column key zone maps: a composite key whose FIRST column is
    low-cardinality (a handful of tenants) must still prune range reads on
    the selective SECOND key column — first-column bounds alone span the
    whole domain every commit and prune nothing."""
    t = LakeTable(spark, str(tmp_path / "t"), ["tenant", "seq"], n_buckets=4,
                  merge_mode="mor", checksum=False, stats_columns=["v"])
    for i in range(5):  # every commit touches every tenant: loose 1st-col bounds
        b = spark.range(i * 1000, (i + 1) * 1000).select(
            (F.col("id") % 3).cast("string").alias("tenant"),
            F.col("id").alias("seq"), (F.col("id") * 2).alias("v"),
            F.lit("insert").alias("op"), F.col("id").alias("lsn"),
        )
        t.merge_into(b, batch_id=f"r{i}")
    m = t._load_manifest()
    st = m["file_stats"]
    all_files = t._files(m, None)
    assert all({"seq", "v"} <= set(st.get(f, {}).get("zm", {})) for f in all_files)
    opened: list[str] = []
    orig = LakeTable._read_files
    monkeypatch.setattr(
        LakeTable, "_read_files",
        lambda self, files, schema: (opened.extend(files), orig(self, files, schema))[1],
    )
    out = t.read(ranges={"seq": [(2100, 2200)]})
    assert sorted(r.seq for r in out.collect()) == list(range(2100, 2200))
    # only commit r2's files (seq 2000-2999) qualify: ≤ n_buckets of ~20
    assert 0 < len(opened) <= 4, opened
    assert len(opened) < len(all_files)
    # first-column bounds really are useless here (they span every commit)
    opened.clear()
    assert t.read(ranges={"tenant": [("1", "2")]}).count() == 1667
    assert len(opened) == len(all_files)
    # a NON-key column prunes resolved buckets only: here every bucket has
    # pending deltas, so a range on v (whose zone maps would keep commit r2
    # alone) opens every file, and the rows match a post-resolve filter —
    # the moved-out versions below must not come back as stale matches
    t.merge_into(spark.range(2100, 2110).select(
        (F.col("id") % 3).cast("string").alias("tenant"), F.col("id").alias("seq"),
        F.lit(-1).cast("long").alias("v"), F.lit("update").alias("op"),
        (F.col("id") + 10_000).alias("lsn"),
    ), batch_id="moved")
    opened.clear()
    got = sorted(r.seq for r in t.read(ranges={"v": [(4200, 4400)]}).collect())
    assert len(opened) == len(t._files(t._load_manifest(), None))
    want = t.read().filter((F.col("v") >= 4200) & (F.col("v") < 4400))
    assert got == sorted(r.seq for r in want.collect()) == list(range(2110, 2200))


def _merge_jobs(spark, table, batch, batch_id, strategy):
    """Spark jobs one ``merge_into`` call runs, counted by job group."""
    import time

    sc = spark.sparkContext
    group = f"merge-jobs-{batch_id}-{time.monotonic_ns()}"
    sc.setJobGroup(group, "merge_into job count")
    try:
        table.merge_into(batch, batch_id=batch_id, strategy=strategy)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the async listener bus: wait until it drains
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("strategy,merge_mode,jobs", [
    ("upsert", "mor", 2),
    ("collapse", "mor", 2),
    ("upsert", "cow", 6),
    ("delete_insert", "cow", 6),
])
@pytest.mark.parametrize("options,extra_jobs", [
    ({}, 0),
    ({"checksum": False}, 0),
    ({"bloom_filters": True}, 2),
])
def test_merge_job_count_per_write_shape(
    spark, tmp_path, strategy, merge_mode, jobs, options, extra_jobs
):
    """Pins the Spark job count of a steady-state merge for each write
    shape: append deltas (MoR upsert, collapse) and rewrite dirty buckets
    (CoW upsert, delete_insert). A second merge of 5 updates + 1 delete
    into a 4-bucket table of 120 rows; checksums ride the write job (no
    extra jobs), key blooms add their footer read-back."""
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4,
                  merge_mode=merge_mode, **options)
    schema = "k string, v string, op string, lsn long"
    t.merge_into(local_frame(
        spark, [(f"k{i:03d}", "v1", "insert", i) for i in range(120)], schema
    ), batch_id="load", strategy=strategy)
    batch = local_frame(
        spark, [(f"k{i:03d}", "v2", "update", 200 + i) for i in range(5)]
        + [("k010", None, "delete", 300)], schema,
    )
    assert _merge_jobs(spark, t, batch, "b1", strategy) == jobs + extra_jobs
    live = {r.k: r.v for r in t.read().collect()}
    assert len(live) == 119 and "k010" not in live
    assert all(live[f"k{i:03d}"] == "v2" for i in range(5))
