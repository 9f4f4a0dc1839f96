"""Jobs per replica step, and the head lsn each step reads.

The replica step — ``sync_step``, ``refresh_agg_view`` and ``build_blocks``
over a MoR leader — pins its Spark job count per call shape, counted by job
group the way ``test_merge_job_count_per_write_shape`` counts merges. The
sync and view steps read their head lsn off the feed files' parquet footers
(``LakeTable._feed``); the rest of the file checks that it equals the
row-level max on empty, tombstone-only, ``max_lsn``-bounded and post-purge
windows.
"""

from __future__ import annotations

import threading
import time

import pyspark.sql.functions as F

from data_sync_tool_spark.operators.reconcile import ReconcileConfig, build_blocks
from data_sync_tool_spark.session import local_frame
from data_sync_tool_spark.sources.agg_view import agg_view_watermark, refresh_agg_view
from data_sync_tool_spark.sources.lake import LSN_COL, LakeTable
from data_sync_tool_spark.sources.sync import sync_step, sync_watermark

KEYS = ["conv_id", "turn_idx"]
SCHEMA = "conv_id string, turn_idx int, text string, lsn long, op string"


def _aggs():
    return {"n_turns": F.count(F.lit(1)), "max_turn": F.max("turn_idx")}


def _batch(spark, rows):
    return local_frame(spark, rows, SCHEMA)


def _load():
    """120 inserts over 12 conversations."""
    return [(f"c{i % 12:02d}", i, f"t{i}", i, "insert") for i in range(120)]


def _update(lsn0=1_000):
    """5 updates and one delete."""
    return ([(f"c{i % 12:02d}", i, "edited", lsn0 + i, "update") for i in range(5)]
            + [("c10", 10, None, lsn0 + 10, "delete")])


def _leader(spark, path):
    """A MoR leader with a base commit and a delta commit."""
    t = LakeTable(spark, str(path), KEYS, n_buckets=4, merge_mode="mor")
    t.merge_into(_batch(spark, _load()), batch_id="load")
    t.merge_into(_batch(spark, _update()), batch_id="upd")
    return t


def _jobs(spark, fn):
    """``(fn(), Spark jobs it ran)``, counted by job group."""
    sc = spark.sparkContext
    group = f"replica-jobs-{time.monotonic_ns()}"
    sc.setJobGroup(group, "replica step job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the async listener bus: wait until it drains
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# Jobs per call. The merge a step commits through is included (2 for a MoR
# upsert, 6 for a CoW one — test_merge_job_count_per_write_shape); the sync
# and view steps find their head lsn in footers, with no job.
JOBS = {
    "build_blocks_in_sync": 4,
    "build_blocks_drill": 9,
    "sync_bulk": 2,
    "sync_incremental": 2,
    "view_bootstrap": 4,
    "view_incremental_mor": 9,
    "view_incremental_cow": 14,
}


def test_replica_step_job_counts(spark, tmp_path):
    leader = _leader(spark, tmp_path / "leader")
    got = {}

    # sync_step: bulk catch-up of a fresh follower (later: one incremental step)
    follower = LakeTable(spark, str(tmp_path / "follower"), KEYS, n_buckets=4,
                         merge_mode="mor")
    res, got["sync_bulk"] = _jobs(spark, lambda: sync_step(leader, follower))
    assert res is not None and res.applied

    # build_blocks over the two MoR tables: in sync (one level), then one row
    # off (level 1 mismatches, the drill reads one more level)
    cfg = ReconcileConfig(partition_column="turn_idx", fields=["conv_id", "turn_idx", "text"],
                          initial_partition_interval=100, max_block_size=10)
    plan, got["build_blocks_in_sync"] = _jobs(
        spark, lambda: build_blocks(leader.read(), follower.read(), cfg))
    assert set(plan.statuses) == {"N"} and plan.blocks[0].level == 1
    follower.merge_into(_batch(spark, [("c07", 7, "drift", 5_000, "update")]), batch_id="drift")
    plan, got["build_blocks_drill"] = _jobs(
        spark, lambda: build_blocks(leader.read(), follower.read(), cfg))
    assert [(b.status, b.level) for b in plan.blocks if b.status != "N"] == [("M", 2)]

    leader.merge_into(_batch(spark, _update(lsn0=2_000)), batch_id="upd2")
    res, got["sync_incremental"] = _jobs(spark, lambda: sync_step(leader, follower))
    assert res is not None and sync_watermark(follower) == 2_010

    # refresh_agg_view: bootstrap, then one incremental refresh per view
    # merge mode after a small leader commit
    views = {m: LakeTable(spark, str(tmp_path / f"view_{m}"), ["conv_id"], n_buckets=2,
                          merge_mode=m) for m in ("mor", "cow")}
    res, got["view_bootstrap"] = _jobs(spark, lambda: refresh_agg_view(leader, views["mor"],
                                                                       _aggs()))
    assert res is not None
    refresh_agg_view(leader, views["cow"], _aggs())
    leader.merge_into(_batch(spark, _update(lsn0=3_000)), batch_id="upd3")
    for m, view in views.items():
        res, got[f"view_incremental_{m}"] = _jobs(
            spark, lambda view=view: refresh_agg_view(leader, view, _aggs()))
        assert res is not None and agg_view_watermark(view) == 3_010
    assert got == JOBS


def _no_block(fn, timeout=180):
    """``fn()`` in a daemon thread; fails instead of hanging if it blocks."""
    out: dict = {}

    def run():
        try:
            out["value"] = fn()
        except Exception as e:  # re-raised below, in the test's thread
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout)
    assert not t.is_alive(), f"still running after {timeout} s"
    if "error" in out:
        raise out["error"]
    return out["value"]


def _head(src, last, max_lsn=None):
    """The head lsn of ``src``'s feed after ``last``, read by a separate max
    over the feed rows."""
    return src.changes_since(last, max_lsn=max_lsn).agg(F.max(LSN_COL)).first()[0]


def test_head_lsn_on_bounded_caught_up_and_tombstone_only_windows(spark, tmp_path):
    """The head lsn equals a separate max over the feed on every window
    shape: ``max_lsn``-bounded (bootstrap and incremental), caught up (an
    empty feed: returns None without blocking, commits nothing),
    tombstone-only, and after a purge of the max-lsn key."""
    leader = _leader(spark, tmp_path / "leader")
    follower = LakeTable(spark, str(tmp_path / "f"), KEYS, n_buckets=4, merge_mode="mor")
    view = LakeTable(spark, str(tmp_path / "v"), ["conv_id"], n_buckets=2)

    def step(**kw):
        return sync_step(leader, follower, **kw), refresh_agg_view(leader, view, _aggs(), **kw)

    last = -1
    for bound in (50, 1_003):
        want = _head(leader, last, max_lsn=bound)
        assert want == bound and all(r is not None for r in step(max_lsn=bound))
        assert sync_watermark(follower) == agg_view_watermark(view) == want
        last = want
    # through the bound already: both no-op on the manifest alone
    assert step(max_lsn=last) == (None, None)
    want = _head(leader, last)
    assert all(r is not None for r in step())
    assert sync_watermark(follower) == agg_view_watermark(view) == want == 1_010
    # caught up: no file of the leader is newer than either watermark, so
    # the feed is an empty local relation
    versions = follower.current_version(), view.current_version()
    assert _no_block(step) == (None, None)
    assert (follower.current_version(), view.current_version()) == versions
    leader.merge_into(_batch(spark, [("c03", 3, None, 4_003, "delete"),
                                     ("c04", 4, None, 4_004, "delete")]), batch_id="dels")
    want = _head(leader, 1_010)
    assert want == 4_004 and all(r is not None for r in step())
    assert sync_watermark(follower) == agg_view_watermark(view) == want
    assert follower.read().count() == leader.read().count() == 117
    # a purge of the max-lsn key: the files it leaves alone keep their
    # commit's bounds, so the manifest's lsn_max outruns the rows; a head
    # taken from it would move the watermark over the purged lsn, and a
    # later commit at that lsn would never reach the follower or the view
    leader.merge_into(_batch(spark, [(f"c{90 + i}", 0, "new", 5_000 + i, "insert")
                                     for i in range(8)]), batch_id="new")
    leader.purge_keys(["c97"])
    manifest_max = max(st["lsn_max"] for st in leader._load_manifest()["file_stats"].values())
    row_max = leader.read(include_deleted=True).agg(F.max(LSN_COL)).first()[0]
    assert manifest_max == 5_007 > row_max == _head(leader, 4_004) == 5_006
    assert all(r is not None for r in step())
    assert sync_watermark(follower) == agg_view_watermark(view) == row_max
    leader.merge_into(_batch(spark, [("c89", 0, "late", 5_007, "insert")]), batch_id="late")
    assert all(r is not None for r in step())
    assert sync_watermark(follower) == agg_view_watermark(view) == 5_007
    assert follower.read().filter("conv_id = 'c89'").count() == 1
    assert view.read().filter("conv_id = 'c89'").first()["n_turns"] == 1
