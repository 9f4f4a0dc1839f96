"""Incremental materialized aggregate views: a per-group rollup table that
follows a source :class:`LakeTable` through its change feed, re-aggregating
ONLY the groups each refresh touches.

The reference stops at row-level sync (core/sync.py); real consumers of a
conversation store read rollups (turns per conversation, last activity,
token totals), and at 10^10 rows a nightly full ``GROUP BY`` is the
dominant cost. The refresh here is O(changed groups), not O(table):

- **Affected groups from the pruned feed.** ``changes_since`` reads only
  the commits since the view's watermark; the refresh takes the DISTINCT
  group keys in that window (bounded by the batch, not the table). The
  refresh's head lsn comes off those files' parquet footers, so no pass over
  the feed runs just to find it, and the bootstrap (every group affected)
  never groups the feed at all.
- **Recompute, don't retract.** Each affected group is re-aggregated from
  the source's CURRENT rows — correct for every aggregate including the
  retraction-hostile ones (min/max/count-distinct, which differential
  maintenance cannot update on deletes without auxiliary state). The group
  column is the source's FIRST key column, so the recompute rides the
  point-lookup index (hash-bucket pruning + per-file key blooms): reading
  one conversation's rows touches one bucket's bloom-positive files.
- **Groups that vanish are deleted.** An anti-join of affected groups
  against the recomputed rows yields delete ops — the view never serves a
  group whose last source row was deleted.
- **The same crash-atomic watermark as lake sync.** The refreshed-through
  lsn rides the view's own commit (manifest ``watermarks`` map, O(1)
  resume); the batch id encodes the lsn window, so a replayed refresh
  no-ops (exactly-once).

Concurrent source commits during a refresh are safe: the recompute may see
rows NEWER than the watermark, and the next refresh simply re-aggregates
those groups again — recompute semantics are idempotent.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .lake import LSN_COL, LakeTable, MergeResult

__all__ = ["AggViewSpec", "parse_agg_spec", "refresh_agg_view", "agg_view_watermark"]


def agg_view_watermark(view: LakeTable, name: str = "aggview") -> int | None:
    """Source lsn the view has aggregated through (None = never refreshed).
    O(1): one manifest read via the carried watermarks map."""
    m = view._load_manifest()
    wm = (m or {}).get("watermarks", {}).get(_recon(name))
    return int(wm) if wm is not None else None


def _recon(name: str) -> str:
    return f"agg_view:{name}"


def parse_agg_spec(spec: str) -> dict[str, Column]:
    """Parse a declarative aggregate list — ``"name=expr; name2=expr2"``
    with SQL aggregate expressions (``n_turns=count(1);
    last_ts=max(ts)``) — into an ``aggs`` dict. ';'-separated because
    aggregate expressions contain commas. The stored-config / CLI surface
    for materialized views."""
    out: dict[str, Column] = {}
    for part in spec.split(";"):
        part = part.strip()
        if not part:
            continue
        name, _, expr = part.partition("=")
        if not _ or not name.strip() or not expr.strip():
            raise ValueError(f"agg spec entries are 'name=expr', got {part!r}")
        out[name.strip()] = F.expr(expr.strip())
    if not out:
        raise ValueError("empty agg spec")
    return out


@dataclass
class AggViewSpec:
    """A view subscription for the streaming loop: ``CdcPipeline`` calls
    :meth:`refresh` after every applied merge, so rollups stay one epoch
    behind ingest at most. Crash-safe by composition — an epoch replay
    re-runs the refresh, whose lsn-window batch id dedupes in the view's
    own manifest."""

    view: LakeTable
    aggs: dict[str, Column]
    name: str = "aggview"
    row_filter: Column | None = field(default=None)
    max_probe_keys: int = 100_000

    def refresh(self, src: LakeTable) -> MergeResult | None:
        return refresh_agg_view(
            src, self.view, self.aggs, name=self.name,
            row_filter=self.row_filter, max_probe_keys=self.max_probe_keys,
        )


def refresh_agg_view(
    src: LakeTable,
    view: LakeTable,
    aggs: dict[str, Column],
    name: str = "aggview",
    row_filter: Column | None = None,
    max_probe_keys: int = 100_000,
    max_lsn: int | None = None,
) -> MergeResult | None:
    """Run one incremental refresh of ``view`` = ``src`` grouped by its
    first key column, aggregated with ``aggs`` (output name → aggregate
    expression over source columns). Returns the view commit, or None when
    the source has nothing new.

    ``row_filter`` restricts which source rows enter the aggregation (the
    view's WHERE clause); filtered-out rows still mark their group affected,
    so a row UPDATE that leaves the filter removes its contribution.

    The first refresh bootstraps from a full source scan (every group is
    affected); later refreshes probe affected groups via ``read(keys=...)``
    up to ``max_probe_keys`` groups, and fall back to a scan-plus-semi-join
    above it (a refresh touching millions of groups is closer to a rebuild,
    and a driver-side key list that size helps nobody).

    ``max_lsn`` refreshes only through that source offset (bounded catch-up,
    see ``LakeTable.changes_since``): the affected-group feed, the recorded
    watermark, and — on bootstrap — the aggregated state all stop at the
    bound. Non-bootstrap recomputes read the source's CURRENT state for the
    affected groups; a later refresh covering the remaining window converges
    the view (same eventual-consistency contract as an unbounded refresh
    racing live ingest).
    """
    group = src.key_cols[0]
    if view.key_cols != [group]:
        raise ValueError(
            f"view must be keyed by the source's first key column "
            f"[{group!r}], got {view.key_cols}"
        )
    if not aggs:
        raise ValueError("aggs must name at least one aggregate expression")
    last = agg_view_watermark(view, name)
    if max_lsn is not None and last is not None and last >= max_lsn:
        return None  # refreshed through the bound: feed provably empty
    # the head lsn (row-level, off the feed files' footers) and the feed,
    # from one manifest load: None means nothing new
    feed, hi = src._feed(-1 if last is None else last, max_lsn)
    if hi is None:
        return None
    agg_cols = [expr.alias(out) for out, expr in aggs.items()]
    if last is None:
        # bootstrap: every group is affected — aggregate the full live view
        # and skip both the probe and the vanished-group anti-join (the view
        # is empty; there is nothing to delete). Under max_lsn the live view
        # may already be past the bound, so resolve the as-of-bound state
        # from the bounded feed instead (LWW over every version ≤ max_lsn).
        if max_lsn is None:
            current = src.read(cluster_first_key=True)
        else:
            from ..operators.dedupe import replay_final_state

            current = replay_final_state(
                feed, src.key_cols, lsn_col=LSN_COL, op_col="op"
            )
        if row_filter is not None:
            current = current.filter(row_filter)
        batch = current.groupBy(group).agg(*agg_cols)
        deletes: DataFrame | None = None
    else:
        # ONE pass over the pruned feed: the affected groups (one row per
        # touched group), checkpointed once for every later consumer (probe
        # collect, recompute semi-join, vanished-group anti-join)
        affected = feed.select(group).distinct().localCheckpoint()
        groups: list[Any] = [
            r[0] for r in affected.limit(max_probe_keys + 1).collect()
        ]
        # cluster_first_key: the recompute groups by the source's FIRST key
        # column, so clustering the MoR resolve by it lets the rollup
        # aggregate reuse that one exchange (2 shuffles → 1 per refresh)
        if len(groups) <= max_probe_keys:
            current = src.read(keys=groups, cluster_first_key=True)
        else:  # near-rebuild refresh: one scan, semi-joined to the feed
            current = src.read(cluster_first_key=True).join(
                affected, on=group, how="left_semi"
            )
        if row_filter is not None:
            current = current.filter(row_filter)
        batch = current.groupBy(group).agg(*agg_cols)
        # groups whose every row was deleted (or filtered out) vanish
        deletes = affected.join(batch.select(group), on=group, how="left_anti")
    # materialize the recomputed rollup once (it is tiny — one row per
    # affected group): the upsert union references it twice (batch + the
    # deletes anti-join) and the view's CoW merge then executes that union
    # twice more (dirty-bucket pre-scan + snapshot write) — without the
    # barrier the expensive recompute pipeline runs up to 4x per refresh
    batch = batch.localCheckpoint()
    out_schema = batch.drop(group).schema
    up = batch.withColumn("op", F.lit("upsert")).withColumn("lsn", F.lit(hi))
    if deletes is not None:
        down = deletes.select(
            group,
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in out_schema.fields],
            F.lit("delete").alias("op"),
            F.lit(hi).alias("lsn"),
        )
        up = up.unionByName(down)
    recon = _recon(name)
    return view.merge_into(
        up,
        batch_id=f"{recon}:lsn{hi}",
        lineage_extra={"reconciliation": recon, "watermark": hi},
        # the batch is one row per group by construction (per-key aggregate
        # ∪ anti-joined deletes, disjoint keys) — skip the merge's dedupe
        unique_keys=True,
    )
