"""Hash / bucket column-expression builders — the engine's digest primitives.

Reference parity (semantics, not code):
- ``rowhash_int32``      ↔ postgres ``('x'||substr(md5(CONCAT(f...)),1,8))::bit(32)::int``
                           (``/root/reference/adapters/postgres.py:60-62``, mysql
                           ``CONV(SUBSTR(MD5(..),1,8),16,10)`` at ``adapters/mysql.py:85``).
- ``rowhash_md5``        ↔ full-md5 rowhash (``adapters/postgres.py:63-65``).
- ``blockhash_sum``      ↔ order-independent ``sum(rowhash)`` block digest
                           (``adapters/postgres.py:71-72``).
- ``blockhash_ordered``  ↔ order-dependent ``md5(string_agg(rowhash,',' ORDER BY
                           order_column))`` (``adapters/postgres.py:73-74``) — the
                           carrier of the "per-turn text equality under stable turn
                           ordering" invariant.
- ``bucket_expr``        ↔ multi-level blockname ``FLOOR(x/i0)||'-'||...``
                           (``adapters/postgres.py:20-53``) — except we keep NUMERIC
                           bucket ids end-to-end instead of string labels, so the
                           string-decode drift in ``engine/reconcile.py:223-243``
                           cannot exist here.

Scale notes: everything here is built-in-function composition (whole-stage
codegen, no Python in the hot path). ``blockhash_sum`` is commutative ⇒ Spark
does map-side partial aggregation, so a digest over 100 TB shuffles one row
per (partition, bucket), not per input row. ``blockhash_ordered`` uses
``sort_array(collect_list(struct(...)))`` — bounded by ``max_block_size`` rows
per group, so per-group memory stays bounded at the leaves of the reconcile
drilldown where it is used.

Cross-engine note: the int32 rowhash equals DuckDB
``cast('0x'||substr(md5(x),1,8) as bigint)`` — exact-parity verified in tests —
which is what makes the digest queries oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Separator that cannot collide with typical field text; the reference concats
# raw fields with no separator, which makes ("ab","c") == ("a","bc") — a known
# weakness we fix while keeping the md5-prefix scheme.
_SEP = "\x1f"


def concat_fields(*cols: Column | str) -> Column:
    """Canonical string image of a row: fields joined by a unit separator,
    NULL encoded distinctly from empty string (concat_ws drops nulls, which
    would make (NULL,'x') == ('x',NULL) ambiguous). One NULL literal serves
    every column: each ``F.*`` call is a JVM round trip."""
    null = F.lit("\x00")
    parts = [
        F.coalesce((F.col(c) if isinstance(c, str) else c).cast("string"), null)
        for c in cols
    ]
    return F.concat_ws(_SEP, *parts)


def rowhash_int32(*cols: Column | str) -> Column:
    """Unsigned-32-bit int from the first 8 hex chars of md5 (long-typed)."""
    return F.conv(F.substring(F.md5(concat_fields(*cols)), 1, 8), 16, 10).cast("long")


def rowhash_md5(*cols: Column | str) -> Column:
    """Full md5 hex string per row."""
    return F.md5(concat_fields(*cols))


def rowhash_xxhash64(*cols: Column | str) -> Column:
    """Fast JVM-native 64-bit row hash (no md5 cost). Use when byte-parity
    with an external SQL oracle is not required — e.g. internal salting,
    bucketing, near-dup shingles at 100 TB."""
    return F.xxhash64(concat_fields(*cols))


def blockhash_sum(rowhash: Column) -> Column:
    """Order-independent block digest: sum of int32 rowhashes.

    Commutative+associative ⇒ partial (map-side) aggregation; the preferred
    strategy at scale (reference strategy name: ``md5sum_hash``).
    """
    return F.sum(rowhash)


def blockhash_ordered(
    rowhash: Column, order_col: Column, where: Column | None = None
) -> Column:
    """Order-dependent block digest: md5 of rowhashes concatenated in
    ``order_col`` order (reference strategy ``hash_md5_hash``).

    ``collect_list`` ordering is nondeterministic under shuffle, so the sort
    happens explicitly AFTER collection via ``array_sort`` on
    ``struct(order_col, rowhash)`` — never rely on input order. Rows where
    ``where`` is not true are left out (``collect_list`` skips NULLs), so one
    aggregate can digest several row subsets.
    """
    pair = F.struct(order_col.alias("o"), rowhash.cast("string").alias("h"))
    pairs = F.collect_list(pair if where is None else F.when(where, pair))
    ordered = F.transform(F.array_sort(pairs), lambda s: s["h"])
    return F.md5(F.array_join(ordered, ","))


def epoch_seconds(ts: Column) -> Column:
    """EXTRACT(EPOCH FROM ts) analogue (``adapters/postgres.py:45-48``).
    Session TZ is pinned to UTC by ``session.build_session``."""
    return F.unix_timestamp(ts)


def bucket_expr(x: Column, interval: int) -> Column:
    """Single-level numeric bucket id: floor(x / interval).

    ``x`` is an integral column (ints directly; timestamps via
    ``epoch_seconds``). The reference builds a composite string label
    ``floor(x/i0)||'-'||floor(mod(x,i0)/i1)...`` and then string-decodes it
    back to ranges; we carry ``bucket_id`` (long) and reconstruct the range as
    ``[bucket_id*interval, (bucket_id+1)*interval)`` — pure arithmetic.
    Works for negative values too (floor division semantics).
    """
    return F.floor(x / F.lit(interval)).cast("long")


def salted_key(key: Column, n_salts: int) -> Column:
    """Skew-defusing salt: deterministic sub-key in [0, n_salts) appended to a
    hot key before a shuffle (SURVEY §4 "Skew handling"). The salt is a pure
    function of the row hash so re-runs are stable."""
    return F.pmod(F.xxhash64(key), F.lit(n_salts)).cast("int")
