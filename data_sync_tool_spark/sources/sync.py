"""Lake→lake incremental sync: the reference's source→target sync loop
(core/sync.py run loop; adapters feed a target via fetch→transform→merge)
re-expressed over table change feeds.

A downstream :class:`LakeTable` follows an upstream one by applying its
``changes_since`` feed through ``merge_into``. The design mirrors the
engine's other incremental consumers (vocabulary merge, classifier rescore):

- **O(new commits) per step.** ``changes_since`` prunes files via the
  manifest's per-commit lsn bounds, so a step over a 10^10-row source reads
  only the commits since the last sync — never the table. The step's head
  lsn comes off those files' parquet footers, so the merge is the step's
  only pass over the feed.
- **Atomic watermark.** The synced-through lsn rides the SAME commit as the
  merged data (the manifest's carried ``watermarks`` map, the mechanism
  ``Pipeline.last_watermark`` uses), so a crash between "apply" and "record"
  is impossible and resume reads ONE manifest.
- **Exactly-once.** The batch id encodes the (name, lsn-window) pair; a
  replayed step hits ``committed_batch_ids`` and no-ops. Re-applying an lsn
  window after a partial failure is also LWW-idempotent row-wise.
- **Deletes and schema evolution propagate.** The feed tags tombstone
  versions ``op='delete'``; ``merge_into`` unions schemas additively, so a
  new source column appears downstream on the next step.

Cascades compose: A→B→C syncs hop-by-hop, each hop keeping its own
watermark in its own target manifest.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import functions as F

from .lake import BUCKET_COL, LSN_COL, SIGN_COL, LakeTable, MergeResult

__all__ = ["sync_step", "sync_watermark", "sync_until_current"]


def sync_watermark(dst: LakeTable, name: str = "sync") -> int | None:
    """The source lsn ``dst`` has synced through under ``name`` (None if this
    sync has never run). O(1): one manifest read via the carried map."""
    m = dst._load_manifest()
    wm = (m or {}).get("watermarks", {}).get(_recon(name))
    return int(wm) if wm is not None else None


def _recon(name: str) -> str:
    return f"lake_sync:{name}"


def sync_step(
    src: LakeTable,
    dst: LakeTable,
    name: str = "sync",
    initial_lsn: int = -1,
    strategy: str = "upsert",
    row_filter: Any = None,
    max_lsn: int | None = None,
) -> MergeResult | None:
    """Apply one incremental sync step from ``src`` into ``dst``; returns the
    commit, or None when there is nothing new.

    The merge is the step's one pass over the PRUNED feed. The head lsn —
    the batch id and the recorded watermark — is the row-level max ``_lsn``
    read off the feed files' parquet footers (``LakeTable._feed``: only a
    file whose footer cannot answer is aggregated), and None means there is
    nothing to apply. Row-level, not manifest bounds: rewrite commits
    (compact/rollback/purge) carry conservative file bounds, and an
    inflated watermark would silently skip source rows landing under it.

    ``row_filter`` (a boolean Column over source columns) makes ``dst`` a
    FILTERED replica — the ClickHouse materialized-view-WHERE shape. A
    version failing the predicate becomes a DELETE for its key rather than
    being dropped: an update that moves a row out of the filter must remove
    the row downstream, or the follower would serve the stale in-filter
    version forever. NULL predicate results count as out-of-filter.

    ``max_lsn`` caps this step at a known source offset (bounded catch-up —
    replay "through lsn X", not "to current"): the feed, the merged rows,
    and the recorded watermark all stop at the bound.
    """
    if src.key_cols != dst.key_cols:
        raise ValueError(
            f"sync requires matching keys: src={src.key_cols} dst={dst.key_cols}"
        )
    last = sync_watermark(dst, name)
    last = initial_lsn if last is None else last
    if max_lsn is not None and last >= max_lsn:
        # already synced through the bound: changes_since(last, max_lsn)
        # filters _lsn > last AND _lsn <= max_lsn — provably empty, so the
        # bounded drain loop terminates on a manifest read alone (no probe
        # job over the feed)
        return None
    feed, hi = src._feed(last, max_lsn)
    if hi is None:  # nothing in the window, or the source never committed
        return None
    batch = feed.drop(
        *[c for c in (BUCKET_COL, SIGN_COL) if c in feed.columns]
    ).withColumnRenamed(LSN_COL, "_sync_lsn")  # merge_into drops lsn_col after
    # recasting it to the system column — feeding LSN_COL directly would lose it
    if row_filter is not None:
        batch = batch.withColumn(
            "op",
            F.when(F.col("op") == F.lit("delete"), F.lit("delete"))
            .when(F.coalesce(row_filter, F.lit(False)), F.col("op"))
            .otherwise(F.lit("delete")),
        )
    recon = _recon(name)
    return dst.merge_into(
        batch,
        batch_id=f"{recon}:lsn{hi}",
        op_col="op",
        lsn_col="_sync_lsn",
        strategy=strategy,
        lineage_extra={"reconciliation": recon, "watermark": hi},
    )


def sync_until_current(
    src: LakeTable,
    dst: LakeTable,
    name: str = "sync",
    initial_lsn: int = -1,
    strategy: str = "upsert",
    max_steps: int = 1_000_000,
    row_filter: Any = None,
    max_lsn: int | None = None,
) -> int:
    """Drain: run sync steps until the feed is empty (a bounded catch-up
    loop — the batch analogue of tailing the source). Returns steps applied.
    ``max_lsn`` drains only through that source offset (see sync_step)."""
    steps = 0
    for _ in range(max_steps):
        if sync_step(src, dst, name, initial_lsn, strategy, row_filter,
                     max_lsn=max_lsn) is None:
            return steps
        steps += 1
    return steps
