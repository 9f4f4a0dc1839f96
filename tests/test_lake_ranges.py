"""Non-key data skipping (``stats_columns`` + ``read(ranges=...)``) and
Z-order clustering (``compact(zorder_by=[...])``): per-file zone maps prune
range reads on resolved buckets; pruning never fires where MoR staleness
could resurrect an old version."""

from __future__ import annotations

import datetime as dt
import json

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from data_sync_tool_spark.session import local_frame
from data_sync_tool_spark.sources.lake import LakeTable

KEYS = ["conv_id", "turn_idx"]
TS = dt.datetime(2024, 1, 1)


def _mk(spark, rows):
    return local_frame(
        spark, rows, "conv_id string, turn_idx int, ts timestamp, lsn long, op string"
    )


def _day(d: int) -> dt.datetime:
    return TS + dt.timedelta(days=d)


def _spy(table):
    opened: list[str] = []
    orig = table._read_files

    def spy(files, schema):
        opened.extend(files)
        return orig(files, schema)

    table._read_files = spy  # type: ignore[method-assign]
    return opened, orig


def test_range_read_prunes_resolved_files_and_matches_filter(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), KEYS, n_buckets=2,
                  merge_mode="mor", stats_columns=["ts"])
    # 3 commits in disjoint time bands
    for batch in range(3):
        rows = [(f"c{batch}{i}", 0, _day(batch * 10 + i % 5), batch * 100 + i, "upsert")
                for i in range(20)]
        t.merge_into(_mk(spark, rows), f"b{batch}")
    # stats are in the manifest for every data file
    m = t._load_manifest()
    assert all("ts" in m["file_stats"][f]["zm"] for f in t._files(m, None))
    want = {(r.conv_id, r.ts) for r in
            t.read().filter((F.col("ts") >= _day(10)) & (F.col("ts") < _day(20))).collect()}
    # MoR deltas pending: no file pruning (staleness hazard), rows still right
    got = {(r.conv_id, r.ts) for r in
           t.read(ranges={"ts": [(_day(10), _day(20))]}).collect()}
    assert got == want and len(want) == 20
    # compact resolves the buckets -> pruning kicks in
    t.compact()
    opened, orig = _spy(t)
    try:
        got = {(r.conv_id, r.ts) for r in
               t.read(ranges={"ts": [(_day(10), _day(20))]}).collect()}
    finally:
        t._read_files = orig  # type: ignore[method-assign]
    assert got == want
    m = t._load_manifest()
    # compact writes one file per bucket spanning all bands -> commit-level
    # zone map covers everything; with max_file_rows the files get tight (below).
    # Here we only require correctness plus no file read twice
    assert len(opened) == len(set(opened))


def test_mor_staleness_is_never_resurrected_by_pruning(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), KEYS, n_buckets=1,
                  merge_mode="mor", stats_columns=["ts"])
    t.merge_into(_mk(spark, [("k", 0, _day(5), 1, "upsert"),
                             ("other", 0, _day(6), 2, "upsert")]), "b0")
    t.compact()  # base file: k@day5 (in range), resolved
    # newer version of k moves OUT of the range, pending as a delta
    t.merge_into(_mk(spark, [("k", 0, _day(25), 3, "upsert")]), "b1")
    got = {(r.conv_id, r.ts) for r in
           t.read(ranges={"ts": [(_day(0), _day(10))]}).collect()}
    # k's latest version is day25: it must NOT appear, even though the
    # resolved base file's stats say day5 (pruning the delta would have
    # served the stale day5 row)
    assert got == {("other", _day(6))}


def test_zorder_compact_prunes_both_dimensions(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=1, merge_mode="mor")
    rows = [(f"k{x:02d}_{y:02d}", x, y, x * 100 + y, "upsert")
            for x in range(32) for y in range(32)]
    df = local_frame(spark, rows, "k string, x int, y int, lsn long, op string")
    t.merge_into(df, "b0")
    t.compact(zorder_by=["x", "y"], max_file_rows=64)  # 1024 rows -> 16 files
    m = t._load_manifest()
    all_files = t._files(m, None)
    assert len(all_files) >= 8
    assert all({"x", "y"} <= set(m["file_stats"][f]["zm"]) for f in all_files)

    def count_opened(ranges):
        opened, orig = _spy(t)
        try:
            got = t.read(ranges=ranges).count()
        finally:
            t._read_files = orig  # type: ignore[method-assign]
        return got, len(set(opened))

    # a corner query in BOTH dims touches a fraction of the files
    n, files_xy = count_opened({"x": [(0, 8)], "y": [(0, 8)]})
    assert n == 64
    assert files_xy < len(all_files) / 2
    # single-dimension queries prune too (z-order keeps both dims local)
    n, files_x = count_opened({"x": [(0, 4)]})
    assert n == 4 * 32 and files_x < len(all_files)
    # checksum machinery survived the z-ordered rewrite
    assert t.audit_checksum() == t.lineage(1)[0]["table_checksum"]


def test_zorder_validates(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=1, merge_mode="mor")
    df = local_frame(spark, [("a", 1, 1, "upsert")], "k string, x int, lsn long, op string")
    t.merge_into(df, "b0")
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.compact(zorder_by=["x"], cluster_by_key=True)
    with pytest.raises(ValueError, match="not in table"):
        t.compact(zorder_by=["nope"])


def test_stats_columns_persist_and_follow_manifest(spark, tmp_path):
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, ["k"], n_buckets=2, stats_columns=["ts"])
    t.merge_into(_mk(spark, [("a", 0, _day(1), 1, "upsert")])
                 .withColumnRenamed("conv_id", "k").drop("turn_idx"), "b0")
    # a fresh handle with no constructor hint adopts the manifest's list
    t2 = LakeTable(spark, path, ["k"])
    assert t2.stats_columns == ["ts"]
    t2.merge_into(_mk(spark, [("b", 0, _day(2), 2, "upsert")])
                  .withColumnRenamed("conv_id", "k").drop("turn_idx"), "b1")
    m = t2._load_manifest()
    assert all("ts" in m["file_stats"][f]["zm"] for f in t2._files(m, None))


def test_norm_bound_orders_fractional_seconds_correctly(spark):
    nb = LakeTable._norm_bound
    whole = nb(dt.datetime(2024, 1, 1, 0, 0, 1))
    frac = nb(dt.datetime(2024, 1, 1, 0, 0, 0, 500000))
    assert frac < whole  # fixed-width strftime; isoformat would flip this
    assert nb(5) == 5 and nb("x") == "x"
    assert nb(dt.date(2024, 1, 2)) == "2024-01-02"


def test_range_filter_pushes_to_scan_after_compact(spark, tmp_path):
    """On a resolved table the range restriction must reach the parquet
    scan (PushedFilters) so row groups prune server-side — TIMESTAMP_MICROS
    output makes ts stats available to the reader."""
    t = LakeTable(spark, str(tmp_path / "t"), KEYS, n_buckets=2,
                  merge_mode="mor", stats_columns=["ts"])
    rows = [(f"c{i}", 0, _day(i % 20), i, "upsert") for i in range(100)]
    t.merge_into(_mk(spark, rows), "b0")
    t.compact()
    plan = t.read(ranges={"ts": [(_day(5), _day(10))]})._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(ts" in plan and "LessThan(ts" in plan


def test_zorder_bounds_come_from_manifest_stats_when_covered(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=1,
                  merge_mode="mor", stats_columns=["x", "ts"])
    rows = [(f"k{i:03d}", i, _day(i % 10), i, "upsert") for i in range(100)]
    df = local_frame(spark, rows, "k string, x int, ts timestamp, lsn long, op string")
    t.merge_into(df, "b0")
    m = t._load_manifest()
    files = t._files(m, None)
    bounds = LakeTable._bounds_from_stats(m, files, ["x", "ts", "k"], t.read())
    assert bounds["x"] == (0.0, 99.0)
    lo, hi = bounds["ts"]
    assert hi - lo == 9 * 86400.0  # day 0 .. day 9 as epoch seconds
    assert "k" not in bounds  # string columns never qualify
    # z-order compact over fully-covered stats: correct without the
    # fallback aggregate (the derived bounds drive the same lattice)
    t.compact(zorder_by=["x", "ts"], max_file_rows=25)
    got = t.read(ranges={"x": [(0, 10)]}).count()
    assert got == 10
    assert t.audit_checksum() == t.lineage(1)[0]["table_checksum"]


def _assert_one_sound_zone_map(t, cols):
    """Every live file's stats hold ONE zone map (none of the older
    ``kzm``/``key_min``/``key_max``/``cs`` entries) with at least ``cols``,
    and each recorded [lo, hi] contains the column's true min/max."""
    m = t._load_manifest()
    for f in t._files(m, None):
        st = m["file_stats"][f]
        assert not {"kzm", "key_min", "key_max", "cs"} & set(st), st
        assert set(cols) <= set(st["zm"]), st
        data = pq.read_table(f, columns=list(st["zm"]))
        for col, (lo, hi) in st["zm"].items():
            vals = [LakeTable._norm_bound(v)
                    for v in data.column(col).to_pylist() if v is not None]
            assert not vals or lo <= min(vals) <= max(vals) <= hi, (f, col, lo, hi)


def test_one_sound_zone_map_per_file_across_writers(spark, tmp_path):
    """MoR merge, clustered compact, z-order compact with stats_columns,
    purge and rollback all leave each live file one zone map covering key
    and non-key columns alike, and every bound is sound."""
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2,
                  merge_mode="mor", checksum=False, stats_columns=["ts"])

    def merge(keys, lsn, bid):
        rows = [(k, k % 17, _day(k % 30), lsn + k, "upsert") for k in keys]
        t.merge_into(local_frame(spark, rows, "k long, x int, ts timestamp, lsn long, "
                                 "op string"), bid)

    merge(range(0, 120), 0, "b0")
    merge(range(60, 180), 1000, "b1")
    _assert_one_sound_zone_map(t, ["k", "ts"])
    merged = t.current_version()
    t.compact(cluster_by_key=True, max_file_rows=40)
    _assert_one_sound_zone_map(t, ["k", "ts"])
    merge(range(150, 220), 2000, "b2")
    t.compact(zorder_by=["x", "ts"], max_file_rows=40)
    _assert_one_sound_zone_map(t, ["k", "x", "ts"])
    merge(range(500, 510), 3000, "b3")  # a pending delta: purge rewrites both kinds
    assert t.purge_keys([7, 505], vacuum_history=False)["committed"]
    _assert_one_sound_zone_map(t, ["k", "ts"])
    assert sorted(r.k for r in t.read(ranges={"k": [(500, 503)]}).collect()) == [500, 501, 502]
    t.rollback(merged)
    _assert_one_sound_zone_map(t, ["k", "ts"])
    assert t.read().count() == 180


def test_manifest_without_zone_maps_is_read_whole(spark, tmp_path, monkeypatch):
    """Manifests written before the one zone-map shape carry ``kzm``,
    ``key_min``/``key_max`` and ``cs`` instead. That is a cutoff, not a
    fallback: their files have no zone map, so range reads on key and
    non-key columns open every file (and return exactly the filtered rows),
    z-order compact computes its bounds with an aggregate, and the
    rewritten files prune again."""
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2,
                  merge_mode="mor", checksum=False, stats_columns=["x"])
    schema = "k long, x long, lsn long, op string"
    for i in range(3):
        rows = [(k, 10 * k, k, "upsert") for k in range(i * 100, (i + 1) * 100)]
        t.merge_into(local_frame(spark, rows, schema), f"b{i}")
    t.compact(cluster_by_key=True, max_file_rows=30)  # resolved, tight k and x
    n_files = len(t._files(t._load_manifest(), None))
    want = list(range(120, 140))

    def read(ranges):
        opened, orig = _spy(t)
        try:
            got = sorted(r.k for r in t.read(ranges=ranges).collect())
        finally:
            t._read_files = orig  # type: ignore[method-assign]
        assert got == want
        return len(opened)

    assert read({"k": [(120, 140)]}) < n_files
    assert read({"x": [(1200, 1400)]}) < n_files
    path = t._manifest_path(t.current_version())
    with open(path) as f:
        m = json.load(f)
    for st in m["file_stats"].values():
        k, x = st["zm"]["k"], st["zm"]["x"]
        del st["zm"]
        st.update(kzm={"k": k}, key_min=k[0], key_max=k[1], cs={"x": x})
    with open(path, "w") as f:
        json.dump(m, f)
    assert read({"k": [(120, 140)]}) == n_files
    assert read({"x": [(1200, 1400)]}) == n_files

    seen: list = []
    orig_bounds = LakeTable._bounds_from_stats

    def bounds_spy(*a):
        out = orig_bounds(*a)
        seen.append(dict(out))  # compact adds the aggregate's bounds to out
        return out

    monkeypatch.setattr(LakeTable, "_bounds_from_stats", staticmethod(bounds_spy))
    t.compact(zorder_by=["x"], min_delta_files=0, max_file_rows=30)
    assert seen == [{}]  # no stats-derived bounds: the aggregate ran
    assert read({"x": [(1200, 1400)]}) < len(t._files(t._load_manifest(), None))
