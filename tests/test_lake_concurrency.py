"""Concurrent-writer safety: a commit built against a stale manifest must
never silently drop another writer's files — maintenance (compact) REBASES
onto the advanced manifest; data merges fail loudly and retry."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_sync_tool_spark.sources.lake import ConcurrentWriteError, LakeTable

KEYS = ["conv_id", "turn_idx"]


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, lsn long, op string"
    )


def _inject_during_write(victim, action, method="_write_snapshot"):
    """Run ``action`` once, right after the victim's first call of
    ``method`` — by default between its snapshot write and its manifest
    commit, the classic read-modify-write race window."""
    orig = getattr(victim, method)
    fired = [False]

    def hooked(*args, **kw):
        out = orig(*args, **kw)
        if not fired[0]:
            fired[0] = True
            action()
        return out

    setattr(victim, method, hooked)
    return lambda: setattr(victim, method, orig)


def test_merge_landing_during_compact_survives_via_rebase(spark, tmp_path):
    path = str(tmp_path / "t")
    a = LakeTable(spark, path, KEYS, n_buckets=2, merge_mode="mor")
    b = LakeTable(spark, path, KEYS, n_buckets=2, merge_mode="mor")
    a.merge_into(_mk(spark, [("x", 0, "v1", 1, "upsert"),
                             ("y", 0, "w1", 2, "upsert")]), "b0")
    a.merge_into(_mk(spark, [("x", 0, "v2", 3, "upsert")]), "b1")

    def racer():
        b.merge_into(_mk(spark, [("z", 0, "new", 4, "upsert"),
                                 ("x", 0, "v3", 5, "upsert")]), "race")

    restore = _inject_during_write(a, racer)
    try:
        res = a.compact()
    finally:
        restore()
    assert res.applied
    # the racer's rows survived the compact commit (rebase kept its delta)
    got = {(r.conv_id, r.text) for r in a.read().collect()}
    assert got == {("x", "v3"), ("y", "w1"), ("z", "new")}
    m = a._load_manifest()
    assert m["lineage"]["op"] == "compact"
    assert m["lineage"]["rebased_from"] < m["lineage"]["rebased_onto"]
    # folded pre-compact files are gone from the manifest; racer deltas pend
    assert any(e.get("delta") for e in m["buckets"].values())
    # and a follow-up compact (no race) folds the racer's delta too
    a.compact()
    assert {(r.conv_id, r.text) for r in a.read().collect()} == got


def test_compact_rebase_commits_under_the_racing_append_schema(spark, tmp_path):
    """A merge landing mid-compact may evolve the schema (a new column).
    The rebased compact publishes against the racer's manifest, so its
    schema — not the compact's pre-race one — must be what it commits."""
    path = str(tmp_path / "t")
    a = LakeTable(spark, path, KEYS, n_buckets=2, merge_mode="mor")
    b = LakeTable(spark, path, KEYS, n_buckets=2, merge_mode="mor")
    a.merge_into(_mk(spark, [("x", 0, "v1", 1, "upsert")]), "b0")
    a.merge_into(_mk(spark, [("x", 0, "v2", 2, "upsert")]), "b1")

    def racer():
        b.merge_into(_mk(spark, [("z", 0, "new", 3, "upsert")])
                     .withColumn("tool", F.lit("grep")), "race")

    restore = _inject_during_write(a, racer)
    try:
        assert a.compact().applied
    finally:
        restore()
    assert a.lineage()[-1]["rebased_onto"] > a.lineage()[-1]["rebased_from"]
    got = {(r.conv_id, r.text, r.tool) for r in a.read().collect()}
    assert got == {("x", "v2", None), ("z", "new", "grep")}


@pytest.mark.parametrize("strategy,merge_mode", [
    ("upsert", "mor"), ("upsert", "cow"), ("delete_insert", "cow"), ("collapse", "mor"),
])
def test_stale_data_merge_raises_instead_of_clobbering(spark, tmp_path, strategy, merge_mode):
    """One bucket, so the racer's row lands in the bucket the stale merge
    rewrites: every strategy must commit against the manifest it read the
    target from, and fail loudly when another writer landed in between."""
    path = str(tmp_path / "t")
    a = LakeTable(spark, path, KEYS, n_buckets=1, merge_mode=merge_mode)
    b = LakeTable(spark, path, KEYS, n_buckets=1, merge_mode=merge_mode)
    a.merge_into(_mk(spark, [("x", 0, "v1", 1, "upsert")]), "b0", strategy=strategy)

    def racer():
        b.merge_into(_mk(spark, [("r", 0, "racer", 2, "upsert")]), "race",
                     strategy=strategy)

    restore = _inject_during_write(a, racer)
    try:
        with pytest.raises(ConcurrentWriteError, match="manifest advanced"):
            a.merge_into(_mk(spark, [("x", 0, "v2", 3, "upsert")]), "b1",
                         strategy=strategy)
    finally:
        restore()
    # the racer's commit is intact; the stale merge left no manifest trace
    got = {(r.conv_id, r.text) for r in a.read().collect()}
    assert got == {("x", "v1"), ("r", "racer")}
    assert "b1" not in a.committed_batch_ids()
    # the standard recovery: retry the merge against the current state
    a.merge_into(_mk(spark, [("x", 0, "v2", 3, "upsert")]), "b1", strategy=strategy)
    assert {(r.conv_id, r.text) for r in a.read().collect()} == {
        ("x", "v2"), ("r", "racer")
    }


@pytest.mark.parametrize("merge_mode", ["mor", "cow"])
def test_writer_landing_during_commit_bloom_build_raises(spark, tmp_path, merge_mode):
    """A commit's own work (key blooms here; stats and digests alike) runs
    after the merge read the table and before the publish. A writer
    landing there must fail the publish, not be dropped from the bucket
    map: the version check and the publish are one atomic step. A CoW
    merge reads its new files' keys back (``_file_blooms``); an MoR merge
    folds them from its batch-stats pass, so the racer lands after the
    join, at the footer read that precedes the fold on the calling thread
    (``_footer_rows``): a racer run inside the pass would wait on the one
    helper thread it occupies."""
    path = str(tmp_path / "t")
    a = LakeTable(spark, path, KEYS, n_buckets=1, merge_mode=merge_mode,
                  bloom_filters=True)
    b = LakeTable(spark, path, KEYS, n_buckets=1, merge_mode=merge_mode,
                  bloom_filters=True)
    a.merge_into(_mk(spark, [("x", 0, "v1", 1, "upsert")]), "b0")

    def racer():
        b.merge_into(_mk(spark, [("r", 0, "racer", 2, "upsert")]), "race")

    hook = "_footer_rows" if merge_mode == "mor" else "_file_blooms"
    restore = _inject_during_write(a, racer, method=hook)
    try:
        with pytest.raises(ConcurrentWriteError, match="manifest advanced"):
            a.merge_into(_mk(spark, [("x", 0, "v2", 3, "upsert")]), "b1")
    finally:
        restore()
    assert {(r.conv_id, r.text) for r in a.read().collect()} == {
        ("x", "v1"), ("r", "racer")
    }
    assert "race" in a.committed_batch_ids()
    assert "b1" not in a.committed_batch_ids()
    a.merge_into(_mk(spark, [("x", 0, "v2", 3, "upsert")]), "b1")
    assert {(r.conv_id, r.text) for r in a.read().collect()} == {
        ("x", "v2"), ("r", "racer")
    }


def test_build_blooms_publishes_against_the_version_it_read(spark, tmp_path):
    """build_blooms commits a copy of the manifest it read; a merge landing
    during its bloom job must fail that publish instead of vanishing."""
    path = str(tmp_path / "t")
    a = LakeTable(spark, path, KEYS, n_buckets=1, merge_mode="mor")
    b = LakeTable(spark, path, KEYS, n_buckets=1, merge_mode="mor")
    a.merge_into(_mk(spark, [("x", 0, "v1", 1, "upsert")]), "b0")

    def racer():
        b.merge_into(_mk(spark, [("r", 0, "racer", 2, "upsert")]), "race")

    restore = _inject_during_write(a, racer, method="_file_blooms")
    try:
        with pytest.raises(ConcurrentWriteError, match="manifest advanced"):
            a.build_blooms()
    finally:
        restore()
    assert {(r.conv_id, r.text) for r in a.read().collect()} == {
        ("x", "v1"), ("r", "racer")
    }
    assert "race" in a.committed_batch_ids()
    # the retry indexes every live file, the racer's included
    assert a.build_blooms() == 2
    m = a._load_manifest()
    assert all("bloom" in m["file_stats"][f] for f in a._files(m, None))


def test_compact_refuses_rebase_over_racing_purge(spark, tmp_path):
    """The optimistic rebase commutes only with additive merge appends. A
    purge landing mid-compact must ABORT the compact: its new base was
    built from the pre-purge snapshot, and blindly prepending it would
    resurrect the erased payload in the live view (RTBF violation)."""
    path = str(tmp_path / "t")
    a = LakeTable(spark, path, KEYS, n_buckets=2, merge_mode="mor")
    b = LakeTable(spark, path, KEYS, n_buckets=2, merge_mode="mor")
    a.merge_into(_mk(spark, [("x", 0, "secret", 1, "upsert"),
                             ("y", 0, "keep", 2, "upsert")]), "b0")
    a.merge_into(_mk(spark, [("y", 0, "keep2", 3, "upsert")]), "b1")

    restore = _inject_during_write(a, lambda: b.purge_keys(["x"]))
    try:
        with pytest.raises(ConcurrentWriteError, match="non-append"):
            a.compact()
    finally:
        restore()
    # purge won; the erased key never reappears — retry compacts cleanly
    assert {(r.conv_id, r.text) for r in a.read().collect()} == {("y", "keep2")}
    a.compact()
    assert {(r.conv_id, r.text) for r in a.read().collect()} == {("y", "keep2")}


@pytest.mark.parametrize("strategy,racer_mode", [
    ("delete_insert", "mor"), ("upsert", "cow"),
])
def test_compact_refuses_rebase_over_racing_bucket_rewrite(
    spark, tmp_path, strategy, racer_mode
):
    """A merge that REWROTE buckets (CoW upsert, delete_insert) replaced the
    very base and delta files the compact folded — it is not an additive
    append. Rebasing over it would prepend the compact's pre-race base next
    to the racer's: a duplicate key, and a deleted key brought back."""
    path = str(tmp_path / "t")
    a = LakeTable(spark, path, KEYS, n_buckets=2, merge_mode="mor")
    b = LakeTable(spark, path, KEYS, n_buckets=2, merge_mode=racer_mode)
    a.merge_into(_mk(spark, [("x", 0, "v1", 1, "upsert"),
                             ("y", 0, "w1", 2, "upsert")]), "b0")
    a.merge_into(_mk(spark, [("x", 0, "v2", 3, "upsert")]), "b1")

    def racer():
        b.merge_into(_mk(spark, [("y", 0, None, 4, "delete"),
                                 ("x", 0, "v3", 5, "upsert")]), "race",
                     strategy=strategy)

    restore = _inject_during_write(a, racer)
    try:
        with pytest.raises(ConcurrentWriteError, match="non-append"):
            a.compact()
    finally:
        restore()
    assert sorted((r.conv_id, r.text) for r in a.read().collect()) == [("x", "v3")]
    a.compact()
    assert sorted((r.conv_id, r.text) for r in a.read().collect()) == [("x", "v3")]


def test_compact_refuses_rebase_over_racing_compact(spark, tmp_path):
    """Two compacts racing: the second rebase would prepend a SECOND base
    next to the first's (duplicate rows, and with no pending deltas read()
    skips the LWW resolve) — so the loser must raise, not rebase."""
    path = str(tmp_path / "t")
    a = LakeTable(spark, path, KEYS, n_buckets=2, merge_mode="mor")
    b = LakeTable(spark, path, KEYS, n_buckets=2, merge_mode="mor")
    a.merge_into(_mk(spark, [("x", 0, "v1", 1, "upsert")]), "b0")
    a.merge_into(_mk(spark, [("x", 0, "v2", 2, "upsert"),
                             ("y", 0, "w", 3, "upsert")]), "b1")

    restore = _inject_during_write(a, lambda: b.compact())
    try:
        with pytest.raises(ConcurrentWriteError, match="non-append"):
            a.compact()
    finally:
        restore()
    got = {(r.conv_id, r.text) for r in a.read().collect()}
    assert got == {("x", "v2"), ("y", "w")}
    # no duplicate rows served (the hazard a blind double-rebase creates)
    assert a.read().count() == 2


def test_manifest_publish_is_atomic_create_if_absent(spark, tmp_path):
    """The manifest publish must be create-if-absent (os.link semantics),
    not exists()+rename — rename silently clobbers a commit that landed
    between the check and the rename."""
    import os

    path = str(tmp_path / "t")
    a = LakeTable(spark, path, KEYS, n_buckets=2, merge_mode="mor")
    a.merge_into(_mk(spark, [("x", 0, "v1", 1, "upsert")]), "b0")
    # a racer publishes version 2 AFTER our operation read version 1, so
    # our publish at the pinned read version + 1 finds it taken
    nxt = a._manifest_path(2)
    with open(nxt, "w") as f:
        f.write('{"version": 2, "buckets": {}, "committed_batch_ids": []}')
    with pytest.raises(RuntimeError, match="concurrent commit"):
        a._commit_manifest({"buckets": {}, "committed_batch_ids": []}, 2)
    # the racer's manifest was NOT overwritten, and no tmp files leak
    with open(nxt) as f:
        assert '"version": 2' in f.read()
    mdir = os.path.dirname(nxt)
    assert not [p for p in os.listdir(mdir) if p.startswith(".tmp-")]
