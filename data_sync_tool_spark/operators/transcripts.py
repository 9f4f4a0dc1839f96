"""Conversation-transcript assembly and conversation-level dedup — the step
that joins the engine's two halves: the CDC side converges a change stream
into per-turn rows (``dedupe.replay_final_state`` → the lake), and the
corpus side wants whole-document text to dedupe, score, and pack. Assembly
turns the converged ``(conv_id, turn_idx, role, text)`` state into one
ordered transcript string per conversation, after which every
document-level operator (exact/minhash/span dedup, quality, packing)
applies to conversations verbatim.

Scale shape: assembly is ONE aggregate — ``sort_array(collect_list(struct))``
per conversation — so state is bounded by a single conversation's turns
(thousands, not corpus-sized) and there is no global window over the turn
stream. Transcript fingerprints are md5 of the exact assembled text;
conversation-level duplicate grouping is the same one-aggregate +
broadcast-back shape as ``dedup_suite.exact_duplicate_groups``.

The reference (free4ages/data-sync-tool) syncs rows; it has no notion of
reassembling a synced entity — this is the transcript-payload analogue of
its row-level pipeline output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assemble_transcripts(
    final: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """(conv_id, n_turns, transcript, fp): each conversation's turns
    rendered ``role: text`` in ``order_col`` order and joined with ``sep``,
    plus a collision-resistant fingerprint of the ordered turn stream
    (md5 over length-framed per-turn hashes — NULL role/text and empty
    string intentionally coincide). Input is a converged final state (one
    row per (conv, turn)); ordering needs no window — turns sort inside
    the per-conversation aggregate."""
    role = F.coalesce(F.col(role_col), F.lit(""))
    text = F.coalesce(F.col(text_col), F.lit(""))
    turn = F.struct(
        F.col(order_col).alias("_o"),
        F.concat_ws(": ", role, text).alias("_line"),
        # length-framed per-turn hash: the flat "role: text" rendering is
        # NOT injective (text containing "\nbot: ..." collides with real
        # turn boundaries), so the dedup fingerprint hashes the framed
        # turn stream instead of the rendered text
        F.md5(F.concat_ws(":", F.length(role).cast("string"), role, text)).alias("_h"),
    )
    return (
        final.groupBy(F.col(conv_col).alias("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sort_array(F.collect_list(turn)).alias("_t"),
        )
        .select(
            "conv_id",
            "n_turns",
            F.concat_ws(sep, F.transform(F.col("_t"), lambda s: s["_line"])).alias(
                "transcript"
            ),
            F.md5(
                F.concat_ws(",", F.transform(F.col("_t"), lambda s: s["_h"]))
            ).alias("fp"),
        )
    )


def transcript_agg(
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    sep: str = "\n",
) -> F.Column:
    """The transcript rendering as ONE aggregate expression (ordered
    ``role: text`` lines joined by ``sep``), usable anywhere a per-group
    aggregate fits — notably as an ``aggs`` entry of
    :func:`~data_sync_tool_spark.sources.agg_view.refresh_agg_view`, which
    makes the assembled-transcript corpus an incrementally-maintained
    materialized view (O(changed conversations) per refresh). Ordering
    needs no window: turns sort inside the per-group aggregate."""
    role = F.coalesce(F.col(role_col), F.lit(""))
    text = F.coalesce(F.col(text_col), F.lit(""))
    turn = F.struct(
        F.col(order_col).alias("_o"),
        F.concat_ws(": ", role, text).alias("_line"),
    )
    return F.concat_ws(
        sep, F.transform(F.sort_array(F.collect_list(turn)), lambda s: s["_line"])
    )


def transcript_dup_groups(assembled: DataFrame) -> DataFrame:
    """(conv_id, canonical_id, fp) for every conversation whose EXACT
    turn sequence occurs more than once; canonical is the min conv_id of
    the group. Groups by the assembler's framed ``fp`` (no normalization,
    and turn boundaries are semantic — a single turn whose text embeds
    "\\nrole: ..." does NOT collide with genuinely separate turns)."""
    fp = assembled.select("conv_id", "fp")
    groups = (
        fp.groupBy("fp")
        .agg(F.min("conv_id").alias("canonical_id"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .drop("_n")
    )
    return fp.join(F.broadcast(groups), "fp").select("conv_id", "canonical_id", "fp")
