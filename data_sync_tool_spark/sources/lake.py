"""LakeTable — manifest-tracked parquet snapshots with Iceberg-style MERGE
(copy-on-write AND merge-on-read), exactly-once commits, additive schema
evolution, and per-commit lineage.

Why not real Iceberg: this sandbox has no Iceberg runtime jar (no network
installs), so the engine implements the same physical design directly over
parquet. On a cluster with ``iceberg-spark-runtime`` on the classpath the
``merge_into`` body is replaceable by ``MERGE INTO`` (CoW) or equality-delete
writes (MoR); the surrounding protocol (idempotence manifest, lineage, bucket
pruning) is identical.

Physical design (mirrors Iceberg v2):
- Rows are hash-bucketed on the first key column:
  ``bucket_id = pmod(xxhash64(key), n_buckets)`` — Iceberg's
  ``bucket(N, key)`` partition transform.
- Each commit writes new parquet files under ``data/snap-*/`` and an atomic
  manifest ``_manifests/v{version}.json`` mapping bucket_id → {base files,
  delta files}. Untouched buckets carry their previous entries forward.
- Readers resolve the latest manifest and read exactly its file list:
  snapshot isolation; bucket pruning = selecting manifest entries (Iceberg
  manifest-level partition pruning). A MERGE touching 2% of conversations
  reads/writes ~2% of the table.
- **CoW mode** (``merge_mode="cow"``): dirty buckets are rewritten per batch —
  reads stay cheap (base files are fully resolved), writes cost
  O(dirty-bucket size). Right when batches are rare/large or reads dominate.
- **MoR mode** (``merge_mode="mor"``): each batch appends its (deduped,
  tombstone-carrying) rows as DELTA files — write cost O(batch), independent
  of table size; reads LWW-resolve base∪delta on the fly (Iceberg equality
  deletes). ``compact()`` folds deltas back into base. Right for high-rate
  CDC ingest — the 10^10-event design point.
- Exactly-once: every commit carries a ``batch_id``; ``merge_into`` is a no-op
  for an already-committed batch_id, so Structured Streaming checkpoint
  replays cannot double-apply (reference autocommits per row with no such
  guard: ``/root/reference/adapters/postgres.py:115-117``).
- Deletes are TOMBSTONES (``_deleted`` + the delete's LSN): a late-arriving
  older change can never resurrect a deleted key. Tombstone GC is a
  maintenance op, deliberately not part of merge.
- Lineage: each manifest records batch offsets, op counts, a batch checksum
  (sum-of-rowhash over the rows this commit wrote) and — whenever the table
  is in a fully-resolved state — an exact live-table checksum.

Checksum design (incremental, never O(table) on the hot path):
- Every data file's digest (sum of xxhash64 rowhashes over its non-deleted
  rows) is computed ONCE, when the file is first committed — an O(new files)
  scan — and cached in the manifest next to the file list.
- ``table_checksum`` (order-independent digest of LIVE rows, comparable
  across merge modes / bucket counts / engines) is the SUM of the cached
  per-file digests. That sum is exact precisely when every live file holds
  fully-resolved rows: CoW commits, overwrite, compact, expire, rescale.
  While MoR delta files are pending (upsert AND collapse — pending version
  deltas make the live set LWW-defined), the commit records
  ``table_checksum: null`` and the next resolving commit (compact) restores
  the exact value — still from cached + newly-written file digests only.
  Collapse tables participate fully: their post-compact base holds exactly
  the live rows, and ``overwrite`` rejects raw ±1 sign imports (a cancel
  pair would double-count in a digest sum instead of annihilating).
- ``batch_checksum`` rides every commit's lineage regardless (digest of the
  rows the commit wrote — the per-batch lineage contract).
- ``audit_checksum()`` is the explicit full-recompute op (works in any
  state); tests assert it equals the incremental value at every resolved
  commit.
- After additive schema evolution, cached digests computed under the old
  column set go stale (the rowhash spans all data columns). Stale files are
  re-digested lazily at the next resolving commit — one bounded catch-up
  read, never a per-commit penalty.

Merge strategies (reference ``core/config.py:158-160``, README "Merge
Strategies"):
- ``upsert``        : last-writer-wins by monotone ``lsn``.
- ``delete_insert`` : target rows for batch keys removed, then batch inserted
                      (always rewrites the dirty buckets, in either
                      ``merge_mode`` — needs key-match removal).
- ``collapse``      : append-only sinks, DEFERRED-cancel: each batch appends
                      its latest version per key as ``_sign=+1`` delta rows
                      (deletes as tombstone-marked version rows) and reads
                      NOTHING — superseded versions annihilate at read time
                      (LWW by ``_lsn``) and physically at ``compact()``,
                      which rewrites survivors as +1 base. This is exactly
                      ClickHouse VersionedCollapsingMergeTree: versioned +1
                      inserts collapse by (key, version) at background-merge
                      time, because synthesizing cancel rows at insert time
                      costs a point lookup per key — at a 10^10-row table an
                      O(live-rows) probe per micro-batch (what an eager
                      cancel emitter must pay). Engine-written collapse
                      tables therefore never contain ``_sign=-1`` rows;
                      ``collapse_live_view`` still folds externally-supplied
                      raw sign data (and is the identity on engine tables).
                      Caveat: do NOT import a raw cancel-pair (+1/-1) stream
                      via ``overwrite`` and then merge on top — unannihilated
                      imported pairs are not LWW-resolvable; fold them first.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashes import rowhash_xxhash64
from ..session import local_frame


def _row_digest(*cols):
    """Per-row digest term: 32-bit-reduced xxhash64. Long sums of these
    never overflow below 2^31 rows per file, so every aggregation stays a
    primitive long buffer (decimal accumulators measured ~2x slower in the
    write-job observe path); Python carries the unbounded cross-file sums."""
    return F.shiftrightunsigned(rowhash_xxhash64(*cols), 32)

# System columns stored in the table alongside user columns.
LSN_COL = "_lsn"  # monotone writer sequence — LWW authority + idempotent replay
BUCKET_COL = "_bucket"  # derived, directory-encoded at write, never stored in files
SIGN_COL = "_sign"  # collapse strategy only: +1 live row, -1 cancel row
DELETED_COL = "_deleted"  # tombstone marker (see module docstring)

_SYSTEM_COLS = (LSN_COL, DELETED_COL, SIGN_COL)
# lineage ops of the append write shape: commits that only add delta files
# and never replace a file — the only ones compact's rebase commutes with
_APPEND_OPS = ("merge:upsert:mor", "merge:collapse")
# observe()-based digests build n_buckets aggregate expressions into the
# write job; beyond this, fall back to the file-grouped read in
# _maintain_digests (plan size / codegen limits)
_OBSERVE_DIGEST_MAX_BUCKETS = 256
_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"

# Per-file key bloom filters (opt-in, ``bloom_filters=True``): point-lookup
# file skipping WITHIN a bucket — the index zone maps cannot provide for
# hash-random keys. Positions are computed once at _BLOOM_M_MAX resolution
# and folded (pow2 halving ORs) down to the smallest size meeting the
# false-positive target for the file's row count, so tiny delta files carry
# tiny blooms. k hash functions via double hashing over xxhash64 — the SAME
# engine-side expressions serve build and probe, so there is no Python
# reimplementation to drift.
_BLOOM_K = 3
_BLOOM_M_MAX = 1 << 17  # 16 KiB of bits; exact fp target up to ~10k keys/file
_BLOOM_M_MIN = 1 << 10
_BLOOM_BITS_PER_KEY = 13  # m ≈ 13n with k=3 → fp ≈ 1%


def _bloom_entry(words: dict[int, int], n_rows: int) -> dict[str, Any]:
    """A file's bloom stats from its set 64-bit words at ``_BLOOM_M_MAX``
    resolution, pow2-folded down to the smallest size meeting the ~1% fp
    target for ``n_rows`` (rows ≥ distinct keys: a conservative m)."""
    import base64

    m = _BLOOM_M_MIN
    while m < _BLOOM_M_MAX and m < _BLOOM_BITS_PER_KEY * max(1, n_rows):
        m *= 2
    buf = bytearray(_BLOOM_M_MAX // 8)
    for w, bits in words.items():
        buf[w * 8:(w + 1) * 8] = bits.to_bytes(8, "little")
    while len(buf) * 8 > m:  # pow2 fold: bit p at 2m ORs into p mod m
        half = len(buf) // 2
        buf = bytearray(a | b for a, b in zip(buf[:half], buf[half:]))
    return {"bloom": base64.b64encode(bytes(buf)).decode("ascii"),
            "bloom_m": m, "bloom_k": _BLOOM_K}


def _local_path(uri: str) -> str:
    """The local path of an ``input_file_name()`` URI."""
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path) if uri.startswith("file:") else uri


# The one helper thread of the process, reused across merges: an append
# merge runs its batch-stats pass here while the calling thread writes.
_HELPER = ThreadPoolExecutor(max_workers=1, thread_name_prefix="lake-batch-stats")


class ConstraintViolationError(ValueError):
    """A merge batch contains rows failing the table's CHECK constraints
    and the table is configured ``on_violation="error"``."""


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this operation's manifest read and
    its commit; committing the stale bucket map would silently drop the
    other writer's files. The operation was NOT applied — retry it."""


@dataclass
class MergeResult:
    version: int
    batch_id: str
    applied: bool  # False when batch_id was already committed (idempotent skip)
    touched_buckets: list[int] = field(default_factory=list)
    rows_written: int = 0
    stats: dict[str, Any] = field(default_factory=dict)


def _manifest_property(name: str) -> property:
    """Read-only view of one table property in the current manifest (the
    constructor's seed value before the first commit)."""
    return property(lambda self: self._props(self._load_manifest())[name])


class LakeTable:
    """A single lake table rooted at ``path`` with key ``key_cols``.

    The handle holds no table state. The table properties (``n_buckets``,
    ``stats_columns``, ``constraints``, ``on_violation``, ``ttl``) live in
    the manifest; constructor values only seed a table with no manifest
    yet. Every operation loads ONE manifest first, takes everything from
    it, and publishes at its version + 1 (atomic create-if-absent), so a
    writer landing in between fails it with :class:`ConcurrentWriteError`."""

    n_buckets = _manifest_property("n_buckets")
    stats_columns = _manifest_property("stats_columns")
    constraints = _manifest_property("constraints")
    on_violation = _manifest_property("on_violation")
    ttl = _manifest_property("ttl")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        n_buckets: int = 32,
        checksum: bool = True,
        merge_mode: str = "cow",
        track_stats: bool = True,
        idempotence_window: int = 10_000,
        bloom_filters: bool = False,
        stats_columns: list[str] | None = None,
        constraints: dict[str, str] | None = None,
        on_violation: str = "error",
        ttl: str | None = None,
    ) -> None:
        if merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be cow|mor, got {merge_mode}")
        if on_violation not in ("error", "quarantine"):
            raise ValueError(
                f"on_violation must be error|quarantine, got {on_violation}"
            )
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.checksum = checksum
        self.merge_mode = merge_mode
        # per-batch op counts in lineage; they ride a job the merge runs
        # anyway (the append write's observe, the rewrite's pre-scan)
        self.track_stats = track_stats
        # opt-in per-file key blooms, so point lookups skip files: an append
        # merge folds them from its batch-stats pass, a commit rewriting
        # files reads its new files' keys back (they hold target rows too)
        self.bloom_filters = bloom_filters
        # exactly-once memory: how many recent batch_ids each manifest
        # retains. Bounded so manifests stay O(1) over 10^6 commits; safe
        # because a checkpointed source can only re-deliver batches within
        # its replay horizon (Structured Streaming replays at most the last
        # uncommitted epoch — a horizon of 1).
        self.idempotence_window = idempotence_window
        os.makedirs(os.path.join(path, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)
        # TABLE properties, persisted in every manifest so every writer
        # handle enforces them; these values only seed a new table
        self._seed: dict[str, Any] = {
            "n_buckets": n_buckets,
            # opt-in per-file min/max zone maps for NON-key columns
            # (Delta/Iceberg "data skipping" stats): harvested from parquet
            # footers at commit time (metadata-only, O(new files));
            # ``read(ranges=...)`` prunes files on resolved buckets
            "stats_columns": list(stats_columns or []),
            # CHECK constraints (Delta CHECK-constraint analogue): name → SQL
            # boolean expression over data columns, enforced on every merge
            # for non-delete rows. A row violates when the expression is
            # FALSE (NULL passes, SQL CHECK semantics). on_violation="error"
            # aborts the batch (nothing committed); "quarantine" diverts
            # violating rows to {path}/_quarantine/<batch_id> (the row-level
            # DLQ) and merges the rest, recording rows_quarantined in
            # lineage — so a quarantined VERSION is as if it never arrived:
            # LWW serves the key's previous value. Cost: one extra O(batch)
            # job per merge (the violation probe / quarantine write); zero
            # when unset.
            "constraints": dict(constraints or {}),
            "on_violation": on_violation,
            # declarative row TTL (ClickHouse TTL analogue): SQL boolean over
            # data columns; TRUE = expired. Enforced at compact() — expired
            # versions are dropped during the fold (zero extra jobs: the
            # filter rides the rewrite) and rows_expired lands in lineage.
            # Reads may serve expired rows until the next compact, exactly
            # like ClickHouse SELECTs before a background merge. Same
            # retention caveat as expire_tombstones: only expire past the
            # source's replay horizon, or a late-arriving OLDER version of
            # an expired key resurrects.
            "ttl": ttl,
        }

    def _props(self, m: dict[str, Any] | None) -> dict[str, Any]:
        """The table properties of manifest ``m``; the seed when the table
        has no manifest yet."""
        return {k: m[k] for k in self._seed} if m else dict(self._seed)

    # ------------------------------------------------------------- manifests
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, _MANIFEST_DIR, f"v{version:012d}.json")

    def current_version(self) -> int:
        names = [
            n for n in os.listdir(os.path.join(self.path, _MANIFEST_DIR))
            if n.startswith("v") and n.endswith(".json")
        ]
        return max((int(n[1:-5]) for n in names), default=0)

    def _load_manifest(self, version: int | None = None) -> dict[str, Any] | None:
        v = self.current_version() if version is None else version
        if v == 0:
            return None
        try:
            with open(self._manifest_path(v)) as f:
                return json.load(f)
        except FileNotFoundError:  # vacuumed (expired) version
            return None

    def _commit_manifest(self, manifest: dict[str, Any], version: int) -> int:
        """Atomic commit: write a temp file, publish it as ``version`` — the
        version the operation read, + 1. On a shared object store this is a
        catalog compare-and-swap — exactly Iceberg's commit."""
        manifest["version"] = version
        # wall-clock commit time: powers read(as_of=...) and age-based
        # vacuum. Informational only — ordering authority is the version
        # number (monotonic single-writer), never the clock.
        manifest["committed_at"] = time.time()
        tmp = os.path.join(self.path, _MANIFEST_DIR, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        final = self._manifest_path(version)
        # Atomic create-if-absent publish: os.link fails with EEXIST if a
        # racing writer already claimed this version number, whereas an
        # exists()-check + rename would let the later rename silently
        # clobber the earlier commit (POSIX rename overwrites). This is
        # the filesystem analogue of Iceberg's catalog compare-and-swap,
        # and the ONLY version check: publishing at read version + 1 makes
        # check and publish one step, with no Spark job in between.
        try:
            os.link(tmp, final)
        except FileExistsError:
            op = manifest.get("lineage", {}).get("op", "commit")
            raise ConcurrentWriteError(
                f"manifest advanced past v{version - 1} while '{op}' was "
                f"running (concurrent commit detected at version {version}); "
                f"retry the operation against the current state"
            ) from None
        finally:
            os.unlink(tmp)
        return version

    def version_as_of(self, ts: Any) -> int:
        """Latest version committed at or before ``ts`` (epoch seconds, a
        datetime — naive means UTC, the engine convention — or an ISO
        string): Iceberg's snapshot-as-of-timestamp resolution. Bounded
        backward walk over retained manifests; raises if ``ts`` predates
        the vacuum horizon (like any expired version)."""
        import datetime as _dt

        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        if isinstance(ts, _dt.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            ts = ts.timestamp()
        for v in range(self.current_version(), 0, -1):
            m = self._load_manifest(v)
            if m is None:  # vacuumed horizon
                break
            if float(m.get("committed_at", 0.0)) <= float(ts):
                return v
        raise ValueError(
            f"no retained version committed at or before {ts} "
            f"(expired by vacuum, or the table is younger)"
        )

    def committed_batch_ids(self) -> set[str]:
        m = self._load_manifest()
        return set(m.get("committed_batch_ids", [])) if m else set()

    def history(self, last: int | None = None) -> DataFrame:
        """Commit history as a DataFrame (Iceberg ``table.history`` /
        ``DESCRIBE HISTORY`` analogue): one row per commit with op, batch_id,
        rows_written, offsets, checksum."""
        rows = [
            {
                "version": rec.get("version"),
                "committed_at": rec.get("committed_at"),
                "op": rec.get("op"),
                "batch_id": rec.get("batch_id"),
                "rows_written": rec.get("rows_written"),
                "offset_min": rec.get("offset_min"),
                "offset_max": rec.get("offset_max"),
                "table_checksum": rec.get("table_checksum"),
            }
            for rec in self.lineage(last=last)
        ]
        schema = (
            "version long, committed_at double, op string, batch_id string, "
            "rows_written long, offset_min long, offset_max long, "
            "table_checksum long"
        )
        return self.spark.createDataFrame(rows, schema)

    def lineage(self, last: int | None = None) -> list[dict[str, Any]]:
        """Lineage log, oldest first. ``last=N`` reads only the N most recent
        manifests — O(N) driver-side JSON reads instead of O(versions); use
        it on long-lived tables (a 10^6-commit table must not open a million
        manifests to answer "what happened recently")."""
        out = []
        current = self.current_version()
        lo = max(1, current - last + 1) if last is not None else 1
        for v in range(lo, current + 1):
            m = self._load_manifest(v)
            if m is not None:
                out.append(m.get("lineage", {}) | {
                    "version": v, "committed_at": m.get("committed_at"),
                })
        return out

    # ---------------------------------------------------------------- common
    def _bucket_col(self, n_buckets: int) -> F.Column:
        return F.pmod(
            F.xxhash64(F.col(self.key_cols[0]).cast("string")), F.lit(int(n_buckets))
        ).cast("int")

    # ----------------------------------------------------------- key blooms
    def _bloom_positions(self, key: F.Column) -> list[F.Column]:
        """The k bloom bit positions of ``key`` at ``_BLOOM_M_MAX`` resolution,
        as engine-side expressions (double hashing g_i = h1 + i*h2 over
        xxhash64 — Kirsch-Mitzenmacher). Build and probe share THESE exact
        expressions, so the two sides can never disagree. Operands are
        reduced mod m before combining — no ANSI long overflow."""
        ks = key.cast("string")
        b1 = F.pmod(F.xxhash64(ks), F.lit(_BLOOM_M_MAX))
        b2 = F.pmod(F.xxhash64(F.lit("_bloom"), ks), F.lit(_BLOOM_M_MAX))
        return [
            F.pmod(b1 + F.lit(i) * b2, F.lit(_BLOOM_M_MAX)) for i in range(_BLOOM_K)
        ]

    def _batch_stats(
        self,
        df: DataFrame,
        keep: F.Column | None = None,
        src: F.Column | None = None,
        ops: bool = False,
        bloom_by: F.Column | None = None,
    ) -> dict[str, Any]:
        """ONE aggregate over ``df`` (2 jobs under AQE) whose parts share one
        shuffle, each row exploded into a tagged group key per part:
        ``src`` (``df`` carries ``_ck``, each row's digest) gives
        ``"lineage"`` — per source the offset range, row count and checksum
        of EVERY row, and their envelope; ``ops`` gives (op, bucket, rows)
        and ``bloom_by`` per label (bucket, file) the set words of
        ``_bloom_positions`` and their count, both over the ``keep`` rows.
        An ``input_file_name`` label needs no shuffle or cache below it."""

        def part(t: int, s: F.Column, w: F.Column = F.lit(None),
                 bit: F.Column = F.lit(None)) -> F.Column:
            tag = F.lit(t) if keep is None or t == 0 else F.when(keep, F.lit(t))
            return F.struct(tag.alias("t"), s.cast("string").alias("s"),
                            w.cast("long").alias("w"), bit.cast("long").alias("bit"))

        parts = [part(0, src)] if src is not None else []
        if ops:
            parts.append(part(1, F.col("_op"), F.col(BUCKET_COL)))
        if bloom_by is not None:
            parts += [
                part(2, bloom_by, F.shiftright(p, 6), F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")))
                for p in self._bloom_positions(F.col(self.key_cols[0]))
            ]
        # the row digest is projected below the explode: once per row
        lin = [LSN_COL, "_ck"] if src is not None else []
        keys = df.select(F.array(*parts).alias("_g"), *lin).select(F.inline("_g"), *lin)
        if keep is not None:
            keys = keys.filter(F.col("t").isNotNull())
        aggs = [F.count(F.lit(1)).alias("n"), F.bit_or("bit").alias("bits")]
        if src is not None:
            aggs += [F.min(LSN_COL).alias("lo"), F.max(LSN_COL).alias("hi"),
                     F.sum("_ck").alias("ck")]
        out: dict[str, Any] = {"ops": [], "blooms": {}}
        per = []
        for r in keys.groupBy("t", "s", "w").agg(*aggs).collect():
            if r["t"] == 0:
                per.append({"src": r["s"], "offset_min": r["lo"], "offset_max": r["hi"],
                            "rows": r["n"], "checksum": int(r["ck"])})
            elif r["t"] == 1:
                out["ops"].append((r["s"], int(r["w"]), r["n"]))
            else:
                words, n = out["blooms"].get(r["s"], ({}, 0))
                words[int(r["w"])] = r["bits"] & 0xFFFFFFFFFFFFFFFF
                out["blooms"][r["s"]] = (words, n + r["n"])
        if src is not None:
            # the full path: basenames repeat across the directories of one
            # partitioned write, the path is unique and stable across replays
            per.sort(key=lambda d: str(d["src"]))
            out["lineage"] = {"partitions": per, **({
                "offset_min": min(d["offset_min"] for d in per),
                "offset_max": max(d["offset_max"] for d in per),
            } if per else {})}
        return out

    def _file_blooms(self, files: list[str], schema: T.StructType) -> dict[str, dict[str, Any]]:
        """Per-file bloom over the FIRST key column for exactly ``files`` —
        ONE keys-only, column-pruned scan labelled by ``input_file_name``,
        each file's bloom folded to its row count: the read-back of commits
        whose new files hold target rows too. Zero-row files get no bloom
        (always read)."""
        if not files:
            return {}
        df = self.spark.read.schema(schema).parquet(*files)
        got = {_local_path(p): _bloom_entry(words, n_pos // _BLOOM_K)
               for p, (words, n_pos) in self._batch_stats(
                   df, bloom_by=F.input_file_name())["blooms"].items()}
        return {f: got[f] for f in files if f in got}

    def _probe_keys(
        self, keys: list[Any], key_type: T.DataType, n_buckets: int
    ) -> list[tuple[Any, int, list[int]]]:
        """(key, bucket, bloom positions) for each probe key — ONE tiny job
        over the bounded key list, using the same bucket/bloom expressions
        as the write path, under the probed manifest's ``n_buckets``."""
        key = self.key_cols[0]
        kt = local_frame(
            self.spark, [(k,) for k in keys], T.StructType([T.StructField(key, key_type)])
        )
        rows = kt.select(
            F.col(key).alias("k"), self._bucket_col(n_buckets).alias("b"),
            F.array(*self._bloom_positions(F.col(key))).alias("p"),
        ).collect()
        return [(r["k"], int(r["b"]), [int(x) for x in r["p"]]) for r in rows]

    @staticmethod
    def _bloom_may_contain(
        st: dict[str, Any] | None, probes: list[tuple[Any, int, list[int]]]
    ) -> bool:
        """True if the file might contain ANY probed key. Files without a
        bloom entry are always read (conservative); no false negatives —
        every version of a probed key lives in a bloom-positive file."""
        if not st or "bloom" not in st:
            return True
        import base64

        buf = base64.b64decode(st["bloom"])
        m = int(st["bloom_m"])
        for _k, _b, pos in probes:
            if all((buf[(p % m) >> 3] >> ((p % m) & 7)) & 1 for p in pos):
                return True
        return False

    def export_snapshot(
        self,
        dest: str,
        partition_by: list[str] | None = None,
        version: int | None = None,
        as_of: Any | None = None,
        ranges: dict[str, list[tuple[Any, Any]]] | None = None,
    ) -> dict[str, Any]:
        """Publish the resolved live view as plain parquet under ``dest`` —
        the snapshot-export / CREATE-TABLE-AS step for consumers that read
        files, not manifests (training jobs, serving scans). ONE job:
        ``read()`` (manifest file list, LWW resolve, tombstone filter) →
        write; the row count rides the write via ``observe``. A
        ``_export.json`` marker (source path/version, rows) is written
        AFTER the data — its presence is the publication signal, so a
        crashed export is never half-visible. System columns are dropped;
        the output is engine-agnostic. ``as_of``/``ranges`` compose: export
        a past state by commit timestamp, or a slice ("last week's
        conversations") served through the zone-map file pruning."""
        # Resolve the exported version up front so the marker records the
        # version the data actually came from (with as_of, read() would
        # resolve an older version internally while the marker naively
        # claimed current_version()).
        if as_of is not None:
            version = self.version_as_of(as_of)
            as_of = None
        elif version is None:
            version = self.current_version()
        df = self.read(version=version, as_of=as_of, ranges=ranges)
        if not df.columns:
            raise ValueError("nothing to export: table has no committed version")
        df = df.drop(*[c for c in _SYSTEM_COLS + (BUCKET_COL,) if c in df.columns])
        from pyspark.sql import Observation

        obs = Observation()
        out = df.observe(obs, F.count(F.lit(1)).alias("n"))
        w = out.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(dest)
        got = obs.get.get("n")
        marker = {
            "source_path": self.path,
            "source_version": int(version),
            "rows": int(got) if got is not None else 0,
        }
        with open(os.path.join(dest, "_export.json"), "w") as f:
            json.dump(marker, f)
        return marker

    def build_blooms(self) -> int:
        """Backfill blooms for every live file lacking one (one keys-only
        scan of those files) and commit a metadata-only version — turns
        point-lookup pruning on for tables written before
        ``bloom_filters=True``. Returns the number of files indexed."""
        m = self._load_manifest()
        if m is None:
            return 0
        stats = dict(m.get("file_stats", {}))
        todo = [f for f in self._files(m, None) if "bloom" not in stats.get(f, {})]
        if not todo:
            return 0
        for f, st in self._file_blooms(todo, self._schema_of(m)).items():
            stats[f] = {**stats.get(f, {}), **st}
        manifest = {**m, "file_stats": stats,
                    "lineage": {"op": "build_blooms", "files_indexed": len(todo)}}
        self._commit_manifest(manifest, int(m["version"]) + 1)
        return len(todo)

    @staticmethod
    def _entry(m: dict[str, Any] | None, b: str) -> dict[str, list[str]]:
        if m is None:
            return {"base": [], "delta": []}
        e = m["buckets"].get(b, {})
        return {"base": list(e.get("base", [])), "delta": list(e.get("delta", []))}

    def _files(
        self, m: dict[str, Any] | None, buckets: list[int] | None, kind: str | None = None
    ) -> list[str]:
        if m is None:
            return []
        wanted = None if buckets is None else {str(b) for b in buckets}
        out: list[str] = []
        for b, e in m["buckets"].items():
            if wanted is not None and b not in wanted:
                continue
            for k in ("base", "delta"):
                if kind in (None, k):
                    out.extend(e.get(k, []))
        return out

    def _schema_of(self, m: dict[str, Any]) -> T.StructType:
        return T.StructType.fromJson(json.loads(m["schema"]))

    def _read_files(self, files: list[str], schema: T.StructType) -> DataFrame:
        if not files:
            return local_frame(self.spark, [], schema)
        return self.spark.read.schema(schema).option("mergeSchema", "true").parquet(*files)

    def _resolve_lww(self, df: DataFrame, by: tuple[str, ...] = ()) -> DataFrame:
        """Reduce to one row per key: max (_lsn, deleted-rank). Hash aggregate
        with map-side partial combine — the skew-safe reduction (SURVEY §7).
        ``by``: columns that are functions of the key (the bucket) grouped
        with it, so the rows keep the partitioning of an exchange on them."""
        group = (*self.key_cols, *by)
        data_cols = [c for c in df.columns if c not in group]
        del_rank = (
            F.when(F.coalesce(F.col(DELETED_COL), F.lit(False)), F.lit(2)).otherwise(F.lit(1))
            if DELETED_COL in df.columns
            else F.lit(1)
        )
        payload = F.struct(
            F.col(LSN_COL).alias("_o1"), del_rank.alias("_o2"),
            *[F.col(c) for c in data_cols],
        )
        won = df.groupBy(*group).agg(F.max(payload).alias("_w"))
        return won.select(*group, *[F.col(f"_w.{c}").alias(c) for c in data_cols])

    # ----------------------------------------------------------------- reads
    def read(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        include_deleted: bool = False,
        keys: list[Any] | None = None,
        ranges: dict[str, list[tuple[Any, Any]]] | None = None,
        as_of: Any | None = None,
        apply_ttl: bool = False,
        cluster_first_key: bool = False,
    ) -> DataFrame:
        """Snapshot read of the latest (or pinned) version, optionally pruned
        to a bucket subset via the manifest (no directory listing — the
        manifest IS the file index). In MoR state, base∪delta are LWW-resolved
        on the fly. Tombstones filtered unless ``include_deleted``.

        ``keys``: point lookup on the FIRST key column — the "fetch these
        conversations" serving path. Prunes to the keys' hash buckets
        (1/n_buckets of the table), then — on ``bloom_filters`` tables —
        skips bucket files whose bloom excludes every probed key, then
        filters rows exactly. A lookup on a 10^10-row table touches one
        bucket's files, minus the bloom-negative deltas; LWW correctness is
        preserved because blooms have no false negatives.

        ``ranges``: ``{col: [(lo, hi), ...]}``, half-open ranges, OR-ed
        per column and AND-ed across columns (the Delta/Iceberg data-
        skipping read). Each file's manifest stats carry one zone map
        ``{col: [min, max]}`` — every key column from the write job, any
        ``stats_columns`` (and clustered-compact columns) from the parquet
        footers — and a file whose map cannot intersect is skipped
        (conservative: a column without a bound never prunes). Whether a
        column is a key decides the rest:

        - KEY column: files prune in every bucket and rows filter BEFORE
          the LWW resolve — a key never changes across its versions, so
          every version of an in-range key lives in a file whose bounds
          cover it. Per-column maps let a composite key whose first column
          is low-cardinality prune on the selective one.
        - non-key column: files prune on RESOLVED buckets only and rows
          filter AFTER the resolve. A key's LATEST version may sit in a
          file whose map excludes the range while a stale version matches;
          pruning that file, or filtering before the resolve, would serve
          the stale row.

        Manifests written before the one zone-map shape (``kzm``,
        ``key_min``/``key_max``, ``cs`` entries) are not read for pruning:
        their files are always opened until a rewrite gives them a map.

        ``as_of``: time travel by commit timestamp instead of version
        number (epoch seconds / datetime / ISO string)."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass version or as_of, not both")
            version = self.version_as_of(as_of)
        m = self._load_manifest(version)
        if m is None:
            if version is not None and version > 0:
                raise ValueError(
                    f"version {version} is expired (vacuumed) or unknown; "
                    f"current version is {self.current_version()}"
                )
            return local_frame(self.spark, [], T.StructType([]))
        schema = self._schema_of(m)
        probe_map: dict[int, list[tuple[Any, int, list[int]]]] | None = None
        if keys is not None:
            keys = list(keys)
            key_type = schema[self.key_cols[0]].dataType
            probe_map = {}
            for pk in (self._probe_keys(keys, key_type, m["n_buckets"]) if keys else []):
                probe_map.setdefault(pk[1], []).append(pk)
            kb = sorted(probe_map)
            buckets = kb if buckets is None else sorted(set(buckets) & set(kb))
        base_files = self._files(m, buckets, "base")
        delta_files = self._files(m, buckets, "delta")
        if probe_map is not None:
            stats = m.get("file_stats", {})
            fb = {
                f: int(b)
                for b, e in m["buckets"].items()
                for kind in ("base", "delta")
                for f in e.get(kind, [])
            }

            def bloom_keep(f: str) -> bool:
                return self._bloom_may_contain(stats.get(f), probe_map.get(fb[f], []))

            base_files = [f for f in base_files if bloom_keep(f)]
            delta_files = [f for f in delta_files if bloom_keep(f)]
        if ranges:
            stats = m.get("file_stats", {})
            # files of buckets with pending deltas: non-key columns never
            # prune there (MoR staleness, see docstring)
            unresolved = {
                f for e in m["buckets"].values() if e.get("delta")
                for kind in ("base", "delta") for f in e.get(kind, [])
            }

            def may_intersect(f: str) -> bool:
                zm = stats.get(f, {}).get("zm", {})
                return all(
                    col not in zm
                    or (col not in self.key_cols and f in unresolved)
                    or any(
                        (hi is None or zm[col][0] < self._norm_bound(hi))
                        and (lo is None or zm[col][1] >= self._norm_bound(lo))
                        for lo, hi in rs
                    )
                    for col, rs in ranges.items()
                )

            base_files = [f for f in base_files if may_intersect(f)]
            delta_files = [f for f in delta_files if may_intersect(f)]
        df = self._read_files(base_files + delta_files, schema)
        for col, rs in (ranges or {}).items():
            if col in self.key_cols and df.columns:
                df = self._range_filter(df, col, rs)
        if keys is not None and df.columns:
            k0 = F.col(self.key_cols[0])
            if not keys:
                df = df.filter(F.lit(False))
            elif len(keys) <= 512:
                df = df.filter(k0.isin(keys))
            else:  # large key lists: broadcast semi-join, not a 10k-term IN
                kt = local_frame(
                    self.spark, [(k,) for k in keys],
                    T.StructType([T.StructField(self.key_cols[0], key_type)]),
                )
                df = df.join(F.broadcast(kt), on=self.key_cols[0], how="left_semi")
        if delta_files:
            # LWW by _lsn resolves EVERY delta format, collapse included:
            # deferred-cancel sign deltas are versioned +1 rows (never -1),
            # so max-(lsn, deleted-rank) per key is the collapse fold too.
            # This also makes a strategy switch safe — a table carrying
            # unresolved MoR upsert deltas that starts receiving collapse
            # batches resolves all pending versions in one rule.
            if cluster_first_key:
                # pre-partition the resolve by the FIRST key column: hash-
                # partitioning on a key subset satisfies the full-key
                # clustering the LWW aggregate needs, so a consumer that
                # groups/joins by the first key afterwards (agg-view
                # recompute, transcript render) rides this one exchange
                # instead of paying a second. Shuffle bytes are unchanged —
                # each commit lands a key's versions in different files, so
                # the aggregate exchange's map-side partials almost never
                # combine anything anyway.
                df = df.repartition(F.col(self.key_cols[0]))
            df = self._resolve_lww(df)
        if not include_deleted and DELETED_COL in df.columns:
            df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(DELETED_COL)
        if apply_ttl and m["ttl"] and df.columns:
            # strict-retention read: hide expired-but-not-yet-compacted rows
            # (compact is where they physically drop); post-resolve filter,
            # same hazard-free position as ranges
            df = df.filter(~F.coalesce(F.expr(m["ttl"]), F.lit(False)))
        for col, rs in (ranges or {}).items():
            if col not in self.key_cols and df.columns:
                df = self._range_filter(df, col, rs)
        return df

    def _range_filter(
        self, df: DataFrame, col: str, rs: list[tuple[Any, Any]]
    ) -> DataFrame:
        """Exact row-level restriction of ``col`` to half-open ranges (an
        empty list matches nothing). Few ranges compile to an OR chain
        (codegen-friendly, pushes to the scan); a diff-sized list
        (reconcile repair of a very drifted table) becomes a broadcast
        range semi-join instead of a 10k-term expression tree."""
        c = F.col(col)
        if len(rs) > 128 and all(lo is not None and hi is not None for lo, hi in rs):
            t = df.schema[col].dataType
            rng = local_frame(self.spark, [tuple(r) for r in rs], T.StructType([
                T.StructField("r_lo", t), T.StructField("r_hi", t),
            ]))
            return df.join(
                F.broadcast(rng), on=[(c >= rng["r_lo"]) & (c < rng["r_hi"])],
                how="left_semi",
            )
        cond = F.lit(False)
        for lo, hi in rs:
            term = F.lit(True)
            if lo is not None:
                term = term & (c >= F.lit(lo))
            if hi is not None:
                term = term & (c < F.lit(hi))
            cond = cond | term
        return df.filter(cond)

    # ---------------------------------------------------------------- writes
    def _write_snapshot(
        self,
        df: DataFrame,
        *,
        n_buckets: int,
        per_file_digests: bool = True,
        sort_by_key: bool = False,
        max_records_per_file: int | None = None,
        sort_cols: list[str] | None = None,
    ) -> tuple[str, dict[str, list[str]], dict[str, dict[str, Any]], dict[str, Any] | None]:
        """Write ``df`` (must carry BUCKET_COL, hashed over ``n_buckets``)
        partitioned by bucket under a fresh snapshot dir; return (that dir,
        bucket_id → absolute file list, file → digest, the batch totals
        observed by the write: digest, lsn bounds, key zone map — None when
        none apply).

        Digests (checksum=True) are observed INSIDE the write job: an
        ``observe()`` over the clustered rows sums each row's hash per
        bucket (or only the batch total, for delta appends) next to the
        commit's lsn and key zone bounds, so no digest job runs and nothing
        is read back. Each bucket writes exactly one file per commit (see
        the repartition note below), which is what makes bucket digests ≡
        file digests; the unexpected multi-file case falls back to a
        file-grouped read in ``_maintain_digests``."""
        snap = os.path.join(
            self.path, _DATA_DIR,
            f"snap-{self.current_version() + 1:012d}-{uuid.uuid4().hex[:8]}",
        )
        # cluster rows by bucket BEFORE the partitioned write: without this,
        # every shuffle task opens a writer per bucket (tasks × buckets small
        # files — the classic partitionBy explosion, and it gets WORSE with
        # more cores); with it, each task writes whole buckets (≤1 file per
        # bucket per commit) and the per-batch file count is O(n_buckets),
        # independent of parallelism.
        clustered = df.repartition(n_buckets, F.col(BUCKET_COL))
        order = list(sort_cols or ([self.key_cols[0]] if sort_by_key else []))
        if order:
            # clustered rewrite (compact/rescale maintenance): sort each
            # bucket by the given columns (default: first key) so that,
            # combined with ``max_records_per_file``, every output file
            # covers a TIGHT band in sort order — the per-file footer zone
            # maps harvested after the write then prune range reads even
            # for hash-random keys (where commit-level bounds are always
            # full-range). Sorting rides the same shuffle's task-side sort,
            # no extra exchange. Helper sort columns prefixed ``_zo`` (the
            # z-order interleave value) are dropped before the write — the
            # projection preserves intra-partition order.
            clustered = clustered.sortWithinPartitions(BUCKET_COL, *order)
            helpers = [c for c in order if c.startswith("_zo")]
            if helpers:
                clustered = clustered.drop(*helpers)
        obs = None
        cols_key = ""
        to_write = clustered
        # per-bucket digests ride the WRITE job itself via observe(): zero
        # extra jobs, zero re-reads. (A separate digest action would re-run
        # the whole batch pipeline — shuffle output is not reused across
        # actions — and re-reading the written parquet costs a full batch
        # scan; both measured 25-190% slower on the MoR ingest path.) The
        # row hash is projected ONCE into a helper column (dropped above the
        # CollectMetrics node, so it is never written), and the per-bucket
        # sums are primitive long aggregates over it.
        per_file = per_file_digests and n_buckets <= _OBSERVE_DIGEST_MAX_BUCKETS
        want_digests = self.checksum
        want_lsn = LSN_COL in clustered.columns
        if want_digests or want_lsn:
            from pyspark.sql import Observation

            obs = Observation()
            aggs = []
            src = clustered
            if want_digests:
                cols = [c for c in clustered.columns
                        if c not in _SYSTEM_COLS and c != BUCKET_COL]
                cols_key = _digest_cols_key(clustered.schema, cols)
                live_row = (
                    ~F.coalesce(F.col(DELETED_COL), F.lit(False))
                    if DELETED_COL in clustered.columns else F.lit(True)
                )
                src = clustered.withColumn(
                    "_rh_obs", F.when(live_row, _row_digest(*cols))
                )
                # per-file mode (resolved rewrites): one sum per bucket. Delta
                # appends (MoR hot path) only need the batch total — per-file
                # digests of delta files are never summed (deltas are removed
                # at compact), so the hot path pays ONE long sum, not
                # n_buckets.
                aggs.append(F.sum(F.col("_rh_obs")).alias("dt"))
                if per_file:
                    aggs += [
                        F.sum(F.when(F.col(BUCKET_COL) == b, F.col("_rh_obs"))).alias(f"d{b}")
                        for b in range(n_buckets)
                    ]
            zone_cols: list[str] = []
            if want_lsn:
                # commit-level lsn bounds: every file of this commit gets the
                # batch's [lsn_min, lsn_max] — a sound (conservative) file-
                # pruning index for changes_since(); two scalar aggregates
                aggs += [F.min(LSN_COL).alias("lsn_min"), F.max(LSN_COL).alias("lsn_max")]
                # zone map of EVERY key column (same trick, same cost):
                # commit-level min/max, JSON-storable types only. Prunes
                # range reads on key columns (reconcile repair) when ingest
                # has key locality — watermark-ordered int keys land each
                # commit's delta files in a narrow key band. Per-column so a
                # composite key whose first column is low-cardinality still
                # prunes on the selective column. Hash-bucketed random keys
                # give full-range bounds and prune nothing (inherent to any
                # zone map); pruning is conservative either way. Cost: two
                # scalar aggregates per key column, riding the write job's
                # existing observe().
                zone_cols = [
                    kc for kc in self.key_cols
                    if kc in clustered.columns and isinstance(
                        clustered.schema[kc].dataType,
                        (T.IntegralType, T.FloatType, T.DoubleType, T.StringType),
                    )
                ]
                for i, kc in enumerate(zone_cols):
                    aggs += [F.min(kc).alias(f"zmin{i}"), F.max(kc).alias(f"zmax{i}")]
            to_write = src.observe(obs, *aggs)
            if want_digests:
                to_write = to_write.drop("_rh_obs")
        writer = to_write.write
        if max_records_per_file:
            # split each bucket into bounded files (Spark's writer-side
            # counter, no extra shuffle); with sort_by_key the splits fall on
            # key-order boundaries, giving disjoint per-file key ranges
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.partitionBy(BUCKET_COL).mode("errorifexists").parquet(snap)
        out: dict[str, list[str]] = {}
        for entry in sorted(os.listdir(snap)):
            if not entry.startswith(f"{BUCKET_COL}="):
                continue
            b = entry.split("=", 1)[1]
            d = os.path.join(snap, entry)
            out[b] = sorted(
                os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
            )
        digests: dict[str, dict[str, Any]] = {}
        total: dict[str, Any] = {}
        if want_digests or want_lsn:
            got = obs.get
            if want_digests:
                t = got.get("dt")
                total["d"] = int(t) if t is not None else 0
                total["cols"] = cols_key
                if per_file:
                    for b, files in out.items():
                        if len(files) == 1:
                            v = got.get(f"d{b}")
                            digests[files[0]] = {"d": int(v) if v is not None else 0,
                                                 "cols": cols_key}
            if want_lsn and got.get("lsn_max") is not None:
                total["lsn_min"] = int(got["lsn_min"])
                total["lsn_max"] = int(got["lsn_max"])
                zm = {
                    kc: [got[f"zmin{i}"], got[f"zmax{i}"]]
                    for i, kc in enumerate(zone_cols)
                    if got.get(f"zmax{i}") is not None
                }
                if zm:
                    total["zm"] = zm
        return snap, out, digests, total or None

    @staticmethod
    def _footer_rows(files: list[str]) -> dict[str, int]:
        import pyarrow.parquet as pq

        return {f: pq.ParquetFile(f).metadata.num_rows for f in files}

    @staticmethod
    def _norm_bound(v: Any) -> Any:
        """JSON-storable, order-preserving image of a stats bound. Datetimes
        become fixed-width strings (lexicographic == chronological — the
        variable-width isoformat would mis-order fractional seconds against
        whole ones and over-prune); numbers and strings pass through."""
        import datetime as _dt

        if isinstance(v, _dt.datetime):
            return v.strftime("%Y-%m-%d %H:%M:%S.%f")
        if isinstance(v, _dt.date):
            return v.isoformat()
        return v

    def _footer_zones(
        self, files: list[str], cols: list[str]
    ) -> dict[str, dict[str, Any]]:
        """Per-file zone maps harvested from parquet FOOTERS — a metadata-
        only read (O(files) tiny IOs, no data pages). Returns file stats
        ``{file: {"zm": {col: [min, max]}}}``; a column is recorded only
        when every row group has usable, JSON-storable stats (else it is
        omitted and the file is always read for that column —
        conservative). Parquet stat truncation (long strings) is pruning-
        safe by construction: a truncated min is a prefix ≤ the true min
        and a truncated max has its last byte incremented ≥ the true max,
        so the recorded interval always CONTAINS the true one."""
        import pyarrow.parquet as pq

        out: dict[str, dict[str, Any]] = {}
        for f in files if cols else []:  # no columns: no footer reads
            md = pq.ParquetFile(f).metadata
            chunks = [
                {rg.column(i).path_in_schema: rg.column(i) for i in range(rg.num_columns)}
                for rg in (md.row_group(r) for r in range(md.num_row_groups))
            ]
            zm: dict[str, Any] = {}
            for col in cols:
                los: list[Any] = []
                his: list[Any] = []
                for chunk in chunks:
                    st = chunk[col].statistics if col in chunk else None
                    if st is None or not st.has_min_max:
                        break
                    lo, hi = self._norm_bound(st.min), self._norm_bound(st.max)
                    if not (isinstance(lo, (int, float, str))
                            and isinstance(hi, (int, float, str))):
                        break
                    los.append(lo)
                    his.append(hi)
                else:
                    if los:
                        zm[col] = [min(los), max(his)]
            if zm:
                out[f] = {"zm": zm}
        return out

    @staticmethod
    def _overlay(st: dict[str, Any], extra: dict[str, Any]) -> dict[str, Any]:
        """File stats ``extra`` laid over ``st``; their zone maps merge per
        column, so a footer bound replaces the commit bound of its column
        only."""
        out = {**st, **extra}
        if "zm" in st and "zm" in extra:
            out["zm"] = {**st["zm"], **extra["zm"]}
        return out

    def _table_checksum(self, m_buckets: dict[str, Any], schema: T.StructType) -> int:
        """Order-independent digest of LIVE rows: sum of xxhash64 rowhashes
        over data columns — mode/layout/cluster-size independent. (xxhash64,
        not md5: the digest is engine-internal and sits on the ingest hot
        path; cross-engine comparisons go through content-level oracles.) Full
        recompute: O(table). Used by ``audit_checksum`` only, never per-commit."""
        files = [f for e in m_buckets.values() for k in ("base", "delta") for f in e.get(k, [])]
        df = self._read_files(files, schema)
        if any(e.get("delta") for e in m_buckets.values()):
            df = self._resolve_lww(df)  # versioned deltas, sign tables included
        if DELETED_COL in df.columns:
            df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        if SIGN_COL in df.columns:
            # folds externally-imported raw sign data; identity on resolved
            # engine-written collapse tables (all +1, one row per key)
            df = collapse_live_view(df, self.key_cols)
        cols = [c for c in df.columns if c not in _SYSTEM_COLS]
        row = df.select(
            F.coalesce(F.sum(_row_digest(*cols).cast("decimal(38,0)")), F.lit(0)).alias("c")
        ).first()
        return int(row["c"])

    def audit_checksum(self) -> int:
        """Explicit full-scan recompute of the live-table checksum. Works in
        any state (MoR deltas resolved, collapse signs folded). The audit
        counterpart of the incrementally-maintained lineage value."""
        m = self._load_manifest()
        if m is None:
            return 0
        return self._table_checksum(m["buckets"], self._schema_of(m))

    def _file_digests(self, files: list[str], schema: T.StructType) -> dict[str, int]:
        """Per-file digest (sum of ``_row_digest`` over non-deleted rows) for
        exactly ``files`` — ONE scan of those files, each file a source of
        ``_batch_stats``. Zero-live-row files digest to 0."""
        if not files:
            return {}
        df = self._read_files(files, schema)
        if DELETED_COL in df.columns:
            df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        df = df.withColumn("_ck", _row_digest(*[c for c in df.columns if c not in _SYSTEM_COLS]))
        got = {_local_path(d["src"]): d["checksum"] for d in self._batch_stats(
            df, src=F.input_file_name())["lineage"]["partitions"]}
        return {f: got.get(f, 0) for f in files}

    def _maintain_digests(
        self,
        prev: dict[str, Any] | None,
        buckets: dict[str, Any],
        data_schema: T.StructType,
        new_digests: dict[str, dict[str, Any]] | None = None,
        batch_total: dict[str, Any] | None = None,
    ) -> tuple[dict[str, Any], int | None, int]:
        """Carry the per-file digest cache of ``prev`` (the manifest the
        commit publishes after) forward across the commit.

        Returns (cache, table_checksum, batch_checksum):
        - digests for files new in this commit are computed (O(new files));
        - ``table_checksum`` = Σ cached digests when every live file is
          resolved under the current column set and no deltas/signs pend,
          else None;
        - ``batch_checksum`` = Σ digests of this commit's new files.

        Files cached under an outdated column set (pre-schema-evolution) are
        re-digested only when the table is otherwise resolved — a one-time
        catch-up at the next compact, never a per-commit tax.
        """
        data_cols = [f.name for f in data_schema.fields if f.name not in _SYSTEM_COLS]
        cols_key = _digest_cols_key(data_schema, data_cols)
        cache_prev: dict[str, Any] = prev.get("file_digests", {}) if prev else {}
        live = self._files({"buckets": buckets}, None)
        has_delta = any(e.get("delta") for e in buckets.values())
        has_sign = SIGN_COL in {f.name for f in data_schema.fields}

        new_digests = new_digests or {}
        cache: dict[str, Any] = {}
        new_files, stale, fresh_new = [], [], set()
        base_files = self._files({"buckets": buckets}, None, "base")
        delta_files = set(live) - set(base_files)
        for f in live:
            e = new_digests.get(f) or cache_prev.get(f)
            if f in new_digests:  # digested inside the write job (observe)
                new_files.append(f)
                if e.get("cols") == cols_key:
                    cache[f] = e
                    fresh_new.add(f)
                # else: written under a narrower column set than the merged
                # schema — recompute under the manifest schema below
            elif e is None:
                if f in delta_files:
                    continue  # delta digests are never summed; skip entirely
                new_files.append(f)
            elif e.get("cols") != cols_key:
                stale.append(f)
                cache[f] = e  # carried forward; excluded from any sum
            else:
                cache[f] = e
        to_compute = [f for f in new_files if f not in fresh_new]
        if stale and not has_delta:  # resolving commit: catch stale files up
            to_compute += stale
        if has_sign and has_delta:
            # collapse hot path: pending version deltas make the live set
            # LWW-defined, so per-file digests can't sum yet — don't pay a
            # read-back for digests that can't be used. Post-compact the
            # base holds exactly the live rows (overwrite rejects raw sign
            # imports), and the normal incremental machinery applies.
            to_compute = []
        computed = self._file_digests(to_compute, data_schema)
        for f, d in computed.items():
            cache[f] = {"d": d, "cols": cols_key}

        if batch_total is not None and batch_total.get("cols") == cols_key:
            batch_checksum = batch_total["d"]
        else:
            # the observe-path total was computed under a different column
            # set (e.g. a producer still emitting the pre-evolution schema).
            # New DELTA files were excluded from ``new_files`` above, and new
            # base files of sign tables skip ``to_compute`` — summing only
            # cached entries would silently record 0 ("empty commit") in
            # lineage. Read back exactly this commit's undigested files under
            # the manifest schema instead: bounded (O(batch)), rare (only on
            # schema-mismatch commits), and keeps the per-batch contract.
            prev_live = set(self._files(prev, None))
            new_delta = [f for f in delta_files if f not in prev_live]
            pending = sorted(set(new_files + new_delta) - set(cache))
            extra = self._file_digests(pending, data_schema)
            batch_checksum = sum(
                cache[f]["d"] for f in new_files if f in cache
            ) + sum(extra.values())
        fresh = all(
            f in cache and cache[f].get("cols") == cols_key for f in base_files
        )
        # sign tables included: their base files hold exactly the live rows
        # (compact folds; overwrite rejects raw sign data), so the per-file
        # digest sum is exact once no deltas pend
        table_checksum = (
            sum(cache[f]["d"] for f in base_files)
            if (not has_delta and fresh)
            else None
        )
        return cache, table_checksum, batch_checksum

    def _commit(
        self,
        prev: dict[str, Any] | None,
        props: dict[str, Any],
        buckets: dict[str, Any],
        data_schema: T.StructType,
        batch_id: str,
        lineage: dict[str, Any],
        new_digests: dict[str, dict[str, Any]] | None = None,
        batch_total: dict[str, Any] | None = None,
        extra_file_stats: dict[str, dict[str, Any]] | None = None,
    ) -> int:
        """Publish ``buckets`` with the table properties ``props`` as the
        version after ``prev`` — the manifest the caller loaded before
        reading anything of the table and BUILT ``buckets`` from. Batch ids,
        file stats, digests and watermarks carry forward from ``prev`` too.
        If another writer published in between, the stale bucket map would
        silently drop their files, so the publish raises
        :class:`ConcurrentWriteError` and the caller retries its whole
        operation (``compact`` rebases instead)."""
        recent = [b for b in (prev or {}).get("committed_batch_ids", []) if b != batch_id]
        recent.append(batch_id)
        # per-file lsn bounds (conservative: a commit's files inherit the
        # commit's [lsn_min, lsn_max]) — the changes_since() pruning index.
        # Files with no stats entry (legacy/lsn-less writes) are always read.
        prev_stats = (prev or {}).get("file_stats", {})
        live_files = self._files({"buckets": buckets}, None)
        file_stats = {f: prev_stats[f] for f in live_files if f in prev_stats}
        if batch_total and "lsn_max" in batch_total:
            # the key zone map rides the same entry
            bounds = {k: batch_total[k] for k in ("lsn_min", "lsn_max", "zm")
                      if k in batch_total}
            for f in live_files:
                file_stats.setdefault(f, bounds)
        # per-file overrides (footer zone maps of a compact or purge
        # rewrite, rollback reinstating a prior version's stats) are TIGHTER
        # than the commit-level bounds — overlay them last, only for live
        # files
        live_set = set(live_files)
        for f, st in (extra_file_stats or {}).items():
            if f in live_set:
                file_stats[f] = self._overlay(file_stats.get(f, {}), st)
        prev_files = set(self._files(prev, None))
        if self.bloom_filters:
            # key blooms for files NEW in this commit that extra_file_stats
            # did not bring (an append merge's folded blooms, a rollback's
            # re-referenced files): one keys-only read-back of those files
            todo = [
                f for f in live_files
                if f not in prev_files and "bloom" not in file_stats.get(f, {})
            ]
            for f, st in self._file_blooms(todo, data_schema).items():
                file_stats[f] = {**file_stats.get(f, {}), **st}
        if props["stats_columns"]:
            # stats_columns zone maps for NEW files: parquet footer reads
            # only (metadata, no data pages) — O(new files) per commit
            schema_cols = {f.name for f in data_schema.fields}
            want = [c for c in props["stats_columns"] if c in schema_cols]
            todo = [
                f for f in live_files if f not in prev_files
                and not set(want) <= set(file_stats.get(f, {}).get("zm", {}))
            ]
            for f, st in self._footer_zones(todo, want).items():
                file_stats[f] = self._overlay(file_stats.get(f, {}), st)
        # incremental-sync watermarks carry forward in EVERY manifest, so
        # resuming a long-lived table reads one JSON file, never a lineage
        # scan over O(commits) versions
        watermarks = dict((prev or {}).get("watermarks", {}))
        if "reconciliation" in lineage and "watermark" in lineage:
            watermarks[str(lineage["reconciliation"])] = lineage["watermark"]
        manifest = {
            "buckets": buckets,
            "schema": json.dumps(data_schema.jsonValue()),
            **props,
            "committed_batch_ids": recent[-self.idempotence_window:],
            "file_stats": file_stats,
            "watermarks": watermarks,
            "lineage": lineage,
        }
        if self.checksum:
            cache, table_checksum, batch_checksum = self._maintain_digests(
                prev, buckets, data_schema, new_digests, batch_total
            )
            manifest["file_digests"] = cache
            lineage["table_checksum"] = table_checksum
            lineage["batch_checksum"] = batch_checksum
        return self._commit_manifest(manifest, int(prev["version"]) + 1 if prev else 1)

    def overwrite(self, df: DataFrame, batch_id: str = "overwrite", lsn: int = 0) -> MergeResult:
        """Full-table replace (initial load). Adds system columns if absent.

        CHECK constraints are a merge-path gate (change batches are where
        bad data arrives one version at a time); an initial full load is
        validated by the caller — run ``df.filter(...)`` with the same
        expressions, or land it through ``merge_into`` to enforce.

        Raw sign-carrying data is rejected: unannihilated ``+1/-1`` cancel
        pairs are not LWW-resolvable and would also break the incremental
        live-table checksum (a pair double-counts instead of cancelling in
        the per-file digest sum). Fold external CollapsingMergeTree exports
        with ``collapse_live_view`` first, then load the live rows — after
        which every engine-written sign-table base file holds exactly live
        rows and the checksum machinery treats collapse tables uniformly."""
        if SIGN_COL in df.columns:
            raise ValueError(
                f"overwrite() does not accept raw sign data ({SIGN_COL} column): "
                "fold it with collapse_live_view(...) and load the live rows"
            )
        if LSN_COL not in df.columns:
            df = df.withColumn(LSN_COL, F.lit(lsn).cast("long"))
        if DELETED_COL not in df.columns:
            df = df.withColumn(DELETED_COL, F.lit(False))
        # a _bucket read back from snapshot dirs (partition discovery) may
        # hash over another bucket count: the commit derives it again
        df = df.drop(BUCKET_COL)
        # a full replace defines the table's schema: no evolution onto the old
        return self._commit_write(
            self._load_manifest(), df, batch_id, "overwrite", evolve=False
        )

    # ----------------------------------------------------------------- merge
    def _enforce_constraints(
        self, batch: DataFrame, batch_id: str, props: dict[str, Any]
    ) -> tuple[F.Column | None, int]:
        """Apply the CHECK constraints of the table properties ``props`` to
        a change batch (non-delete rows only — a delete carries no payload
        to validate). Violation = expression evaluates FALSE (NULL passes,
        SQL CHECK semantics). Returns the predicate of the rows that merge
        (None: all of them) and the number of rows quarantined.

        ``error``: raise :class:`ConstraintViolationError` with a bounded
        row sample before anything is written — the batch retries after the
        producer fixes it (exactly-once is unaffected: nothing committed).
        ``quarantine``: violating rows are written to
        ``{path}/_quarantine/<batch_id>`` with a ``_violations`` reason
        array + ``_batch_id`` (the row-level dead-letter shape; overwrite
        mode keeps batch replays idempotent), the rest merge normally. A
        quarantined VERSION never arrived as far as LWW is concerned.
        One extra O(batch) job either way; zero cost with no constraints."""
        flags = {
            name: (F.col("_op") != F.lit("delete"))
            & (F.expr(sql) == F.lit(False))
            for name, sql in props["constraints"].items()
        }
        is_bad = F.lit(False)
        for flag in flags.values():
            is_bad = is_bad | F.coalesce(flag, F.lit(False))
        bad = batch.filter(is_bad).drop(BUCKET_COL)
        if props["on_violation"] == "error":
            sample = bad.limit(3).collect()
            if sample:
                shown = [
                    {k: v for k, v in r.asDict().items() if not k.startswith("_")}
                    for r in sample
                ]
                raise ConstraintViolationError(
                    f"batch {batch_id!r} violates CHECK constraints "
                    f"{sorted(props['constraints'])}; first rows: {shown}. "
                    f"Fix the producer and retry, or declare "
                    f"on_violation='quarantine' to divert bad rows."
                )
            return None, 0
        from pyspark.sql import Observation

        reasons = F.array_compact(F.array(*[
            F.when(F.coalesce(flag, F.lit(False)), F.lit(name))
            for name, flag in flags.items()
        ]))
        obs = Observation()
        qdir = os.path.join(
            self.path, "_quarantine",
            "".join(c if c.isalnum() or c in "-_." else "_" for c in batch_id),
        )
        (
            bad.withColumn("_violations", reasons)
            .withColumn("_batch_id", F.lit(batch_id))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite").parquet(qdir)
        )
        n = int(obs.get.get("n") or 0)
        if n == 0:
            shutil.rmtree(qdir, ignore_errors=True)
        return ~is_bad, n

    def quarantined(self, batch_id: str | None = None) -> DataFrame:
        """Rows diverted by ``on_violation="quarantine"`` (all batches, or
        one), each carrying ``_violations`` (failed constraint names) and
        ``_batch_id`` — the inspection/replay surface of the row-level DLQ."""
        root = os.path.join(self.path, "_quarantine")
        paths = (
            [os.path.join(root, batch_id)] if batch_id is not None
            else [os.path.join(root, d) for d in sorted(os.listdir(root))]
            if os.path.isdir(root) else []
        )
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            return local_frame(self.spark, [], T.StructType([]))
        return self.spark.read.parquet(*paths)

    def merge_into(
        self,
        batch_df: DataFrame,
        batch_id: str,
        op_col: str = "op",
        lsn_col: str = "lsn",
        strategy: str = "upsert",
        allow_delete: bool = True,
        lineage_extra: dict[str, Any] | None = None,
        unique_keys: bool = False,
        source_col: str | None = None,
    ) -> MergeResult:
        """Apply one change batch. ``batch_df`` columns = data columns +
        ``op_col`` ∈ {insert, update, upsert, delete} + monotone ``lsn_col``.

        Each strategy builds the rows it lands and hands them to the one
        commit tail (``_commit_write``) in one of two write shapes:

        *append deltas* — the table is never read; write cost is O(batch)
        regardless of table size, and reads LWW-resolve base∪delta:

        upsert/MoR    : the batch, deduped to one row per key (deletes as
                        tombstones), lands as delta files.
        collapse      : the batch's latest version per key lands as
                        ``_sign=+1`` delta rows (deletes as tombstone-marked
                        versions). Superseded versions annihilate at read
                        time and physically at ``compact()``; delete markers
                        persist until ``expire_tombstones`` (see the module
                        docstring for why cancels are deferred).

        *rewrite dirty buckets* — the target rows of the buckets the batch
        touches are combined with the batch and rewritten as base files:

        upsert/CoW    : union with the deduped batch, LWW-reduce.
        delete_insert : drop every target row whose key matches a batch key,
                        insert the batch's non-delete rows. Physical removal
                        (no tombstones) per the reference's delete-then-insert
                        contract — assumes in-order delivery.

        ``merge_mode`` only picks between the two upsert shapes: ``collapse``
        ignores it (always appends) and ``delete_insert`` always rewrites
        buckets, in either mode. Every strategy evolves the table schema
        additively (new columns, widening numeric promotions).

        ``unique_keys``: the caller guarantees the batch already holds at
        most ONE row per key (e.g. it is the output of a per-key aggregate).
        Skips the within-batch LWW dedupe — one full shuffle of the batch —
        on the upsert and collapse paths. Purely an optimization hint; a
        violated guarantee degrades to both versions landing as deltas and the READ
        side's LWW resolve picking one, never a corrupt table.

        ``source_col``: a column of ``batch_df`` naming each row's source
        (``CdcPipeline``: its input file), not stored. Lineage and
        ``MergeResult.stats`` then carry ``partitions`` — per source the
        offset range, row count and checksum of ALL its rows — and their
        envelope ``offset_min``/``offset_max``; an empty batch publishes
        nothing (``applied`` False, ``partitions`` empty).
        """
        # the ONE manifest this merge reads the target from and commits
        # against — loaded before anything reads the table, so a writer that
        # lands at any later point fails the commit's version check
        m = self._load_manifest()
        if m is not None and batch_id in m.get("committed_batch_ids", []):
            return MergeResult(int(m["version"]), batch_id, False)
        props = self._props(m)
        if strategy not in ("upsert", "delete_insert", "collapse"):
            raise ValueError(f"unknown merge strategy: {strategy}")
        op = (f"merge:upsert:{self.merge_mode}" if strategy == "upsert"
              else f"merge:{strategy}")
        append = op in _APPEND_OPS

        # ONE projection of the batch (each withColumn/drop re-analyzes the
        # plan). Columns are taken off ``batch_df``: one py4j call each,
        # where ``F.col`` makes three.
        in_cols = [c for c in batch_df.columns if c != source_col]
        data_cols = [c for c in in_cols
                     if c not in (op_col, lsn_col, LSN_COL, "_op", BUCKET_COL)]
        cols = [
            *[batch_df[c] for c in data_cols],
            batch_df[lsn_col].cast("long").alias(LSN_COL),
            batch_df[op_col].alias("_op"),
            self._bucket_col(props["n_buckets"]).alias(BUCKET_COL),
        ]
        batch = batch_df.select(*cols)
        # rows that merge: all but ignored deletes (reference
        # MergeStrategyConfig allow_delete=False, core/config.py:158-160)
        # and quarantined violators; source lineage counts every row
        keep = None if allow_delete else F.col("_op") != F.lit("delete")
        if props["constraints"]:
            valid, rows_quarantined = self._enforce_constraints(batch, batch_id, props)
            if valid is not None:
                keep = valid if keep is None else keep & valid
            if rows_quarantined:
                lineage_extra = {**(lineage_extra or {}),
                                 "rows_quarantined": rows_quarantined}

        # ONE batch-stats pass, under the pinned manifest's bucket count and
        # before any filter, shuffle or observe: the rewrite's dirty buckets
        # and op counts (before its write), an append's blooms (beside its
        # write) and the per-source lineage
        stats_in, src = batch, None
        if source_col is not None:
            # each row's xxhash64 masked to 32 bits: a raw sum overflows
            # long under ANSI after a handful of rows
            ck = rowhash_xxhash64(*[batch_df[c] for c in in_cols])
            stats_in = batch_df.select(*cols, batch_df[source_col].alias("_src"),
                                       ck.bitwiseAND(F.lit((1 << 32) - 1)).alias("_ck"))
            src = F.col("_src")
        blooms = F.col(BUCKET_COL) if append and self.bloom_filters else None

        def batch_stats() -> dict[str, Any]:
            return self._batch_stats(stats_in, keep, src, not append, blooms)

        if keep is not None:
            batch = batch.filter(keep)
        stats: dict[str, Any] = {}
        dirty: list[int] | None = None
        obs_ops = None
        if not append:
            side = batch_stats()
            stats |= side.get("lineage", {})
            # dirty buckets of the raw batch == those of the deduped rows
            # (LWW only drops rows within a key, never a bucket)
            dirty = sorted({b for _, b, _ in side["ops"]})
            if self.track_stats:
                op_counts: dict[str, int] = {}
                for o, _, n in side["ops"]:
                    op_counts[o] = op_counts.get(o, 0) + n
                stats["op_counts"] = op_counts
        elif self.track_stats:
            # append shape: op counts ride the WRITE job via observe() — a
            # separate groupBy action would scan the batch twice per commit
            from pyspark.sql import Observation

            obs_ops = Observation()
            batch = batch.observe(
                obs_ops,
                *[
                    F.sum((F.col("_op") == F.lit(name)).cast("long")).alias(name)
                    for name in ("insert", "update", "upsert", "delete")
                ],
            )
        if append:
            # the write's bucket exchange, moved under the dedupe: grouped by
            # keys + BUCKET_COL, the per-key reduction needs no shuffle of its
            # own, and the write's repartition on the same column is planned
            # away (one exchange per append merge, one delta file per bucket)
            batch = batch.repartition(props["n_buckets"], F.col(BUCKET_COL))
        fold = None
        if strategy == "delete_insert":
            keys = batch.select(*self.key_cols).distinct()
            rows = (
                batch.filter(F.col("_op") != F.lit("delete"))
                .drop("_op")
                .withColumn(DELETED_COL, F.lit(False))
            )

            def fold(target: DataFrame, inserts: DataFrame) -> DataFrame:
                survivors = target.join(F.broadcast(keys), on=self.key_cols, how="left_anti")
                return survivors.unionByName(inserts, allowMissingColumns=True).withColumn(
                    DELETED_COL, F.coalesce(F.col(DELETED_COL), F.lit(False))
                )
        else:
            # upsert and collapse: dedupe the batch to one row per key, with
            # tombstones, by the LWW fold reads resolve deltas with (so a
            # collapse table's state cannot depend on the batch boundaries);
            # tombstones derived here, not in the batch projection: that
            # would leave a bare drop("_op") here, which the optimizer pushes
            # under the append shape's bucket exchange — one more copy of
            # every (wide) row (transcript view refresh ~10% slower at 10×)
            tombstoned = batch.withColumn(DELETED_COL, F.col("_op") == "delete").drop("_op")
            rows = tombstoned if unique_keys else self._resolve_lww(
                tombstoned, by=(BUCKET_COL,) if append else ())
            if strategy == "collapse":
                rows = rows.withColumn(SIGN_COL, F.lit(1))
            elif not append:
                def fold(target: DataFrame, deduped: DataFrame) -> DataFrame:
                    return self._resolve_lww(
                        target.unionByName(deduped, allowMissingColumns=True)
                    )
        return self._commit_write(
            m, rows, batch_id, op, append=append, dirty=dirty, fold=fold,
            stats=stats, obs_ops=obs_ops, extra=lineage_extra, props=props,
            batch_stats=batch_stats if append and (blooms is not None or src is not None)
            else None,
        )

    def _commit_write(
        self,
        m: dict[str, Any] | None,
        df: DataFrame,
        batch_id: str,
        op: str,
        append: bool = False,
        dirty: list[int] | None = None,
        fold: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
        evolve: bool = True,
        stats: dict[str, Any] | None = None,
        obs_ops: Any = None,
        extra: dict[str, Any] | None = None,
        props: dict[str, Any] | None = None,
        batch_stats: Callable[[], dict[str, Any]] | None = None,
    ) -> MergeResult:
        """The one commit tail of every merge strategy, ``overwrite``,
        ``expire_tombstones`` and ``rescale``: schema evolution → snapshot
        write → bucket-map edit → row / op counts → lineage → ``_commit``.

        ``m`` is the manifest the caller loaded BEFORE reading anything of
        the table. The target rows, the bucket map, the table properties
        (``props`` overrides them: rescale's new bucket count) and the
        version the commit publishes at all come from it, so a writer
        landing at any later point fails the commit with
        :class:`ConcurrentWriteError` instead of being silently
        overwritten. ``df``'s rows are bucketed here unless ``df`` already
        carries ``BUCKET_COL`` (``merge_into``'s append shape: the write
        reuses its dedupe's bucket exchange).

        Two write shapes:

        - ``append``: ``df``'s files join their buckets as DELTA files (MoR
          upsert, collapse). Delta digests are never summed, so the write
          computes the batch total only.
        - rewrite (default): ``df``'s files become the whole BASE of their
          buckets. With ``dirty`` (CoW upsert, delete_insert), the target
          rows of those buckets are read from ``m`` and combined with
          ``df`` by ``fold(target, rows)`` first; a dirty bucket resolving
          to zero rows is a CoW delete. Without it, ``df`` replaces every
          bucket (overwrite, expire_tombstones, rescale).

        ``evolve``: additive + type-widening schema evolution of ``df`` onto
        ``m``'s schema (off for ``overwrite``, which defines a new one).

        ``batch_stats`` (an append merge's ``_batch_stats`` pass) runs on the
        helper thread while this thread writes, joined before anything
        publishes. If it raises, or its source lineage saw no row, the
        snapshot is removed and nothing publishes."""
        props = props or self._props(m)
        bucket = self._bucket_col(props["n_buckets"])
        schema = df.schema
        if BUCKET_COL not in schema.names:
            df = df.withColumn(BUCKET_COL, bucket)
        data_schema = T.StructType([f for f in schema.fields if f.name != BUCKET_COL])
        if evolve and m is not None:
            data_schema = _merge_schemas(self._schema_of(m), data_schema)
            df = _conform_types(df, data_schema)
        if fold is not None:
            rows = df.drop(BUCKET_COL)
            target = self.read(buckets=dirty, version=int(m["version"]) if m else 0,
                               include_deleted=True)
            # both sides carry the evolved types, so the union never leans
            # on implicit coercion (and conflicts fail with a clear error)
            target = _conform_types(target, data_schema) if target.columns else rows.limit(0)
            df = fold(target, rows)
            data_schema = T.StructType(
                [f for f in df.schema.fields if f.name != BUCKET_COL])
            df = df.withColumn(BUCKET_COL, bucket)
        pending = None
        if batch_stats is not None:
            # the helper runs under this thread's Spark local properties
            # (job group, pool), as pyspark.InheritableThread's threads do
            jsc = self.spark.sparkContext._jsc.sc()
            local = jsc.getLocalProperties().clone()

            def beside() -> dict[str, Any]:
                jsc.setLocalProperties(local)
                return batch_stats()

            pending = _HELPER.submit(beside)
        snap = None
        try:
            snap, new, dig, tot = self._write_snapshot(
                df, n_buckets=props["n_buckets"], per_file_digests=not append
            )
            side = {} if pending is None else pending.result()
        except BaseException:
            if pending is not None:
                pending.exception()  # joined on every path: nothing left running
            if snap is not None:
                shutil.rmtree(snap, ignore_errors=True)
            raise
        stats = {**(stats or {}), **side.get("lineage", {})}
        if stats.get("partitions") == []:
            # source lineage saw no row (an epoch the catch-up filter
            # emptied): nothing to publish
            shutil.rmtree(snap, ignore_errors=True)
            return MergeResult(int(m["version"]) if m else 0, batch_id, False, stats=stats)
        if append:
            buckets = dict(m["buckets"]) if m else {}
            for b, fs in new.items():
                e = self._entry(m, b)
                buckets[b] = {"base": e["base"], "delta": e["delta"] + fs}
        else:
            replaced = None if dirty is None else {str(b) for b in dirty}
            buckets = {} if m is None or replaced is None else {
                b: e for b, e in m["buckets"].items() if b not in replaced
            }
            buckets.update({b: {"base": fs, "delta": []} for b, fs in new.items()})
        counts = self._footer_rows([f for fs in new.values() for f in fs])
        rows_written = sum(counts.values())
        if obs_ops is not None:
            # the per-op observe counters, read after the write job ran. On
            # an empty batch, PropagateEmptyRelation optimizes the metrics
            # node away and ``Observation.get`` would fail — but a zero-row
            # write implies a zero-row batch, so the counts are known
            stats["op_counts"] = {} if rows_written == 0 else {
                k: int(v) for k, v in obs_ops.get.items()
                if v is not None and int(v) > 0
            }
        touched = sorted(int(b) for b in new)
        lineage = {
            "batch_id": batch_id, "op": op, "touched_buckets": touched,
            "rows_written": rows_written, **stats, **(extra or {}),
        }
        # a bucket's new delta file holds exactly the bucket's kept batch
        # keys: its bloom folds from the pass's words at the file's footer
        # row count, with no read-back
        words = side.get("blooms", {})
        blooms = {f: _bloom_entry(words[b][0], counts[f])
                  for b, fs in new.items() if b in words for f in fs if counts[f]}
        v = self._commit(m, props, buckets, data_schema, batch_id, lineage, dig, tot, blooms)
        return MergeResult(v, batch_id, True, touched, rows_written, stats)

    def changes_since(self, lsn: int, max_lsn: int | None = None) -> DataFrame:
        """Incremental change feed (Delta-CDF / Iceberg-changelog analogue,
        and the lake-native version of the reference's updated_at incremental
        strategy, ``otel.py:83-84``): every stored row version with
        ``_lsn > lsn``, tagged ``op ∈ {upsert, delete}``.

        Files are PRUNED via the manifest's per-commit lsn bounds — a
        downstream consumer polling a 10^10-row table reads O(new commits),
        not O(table). Semantics: MoR tables may emit superseded versions
        (consumers LWW by key+_lsn); history older than the last
        compaction/rewrite is not replayable (files inherit the REWRITE
        commit's bounds), exactly like table-format changelogs after a
        rewrite.

        ``max_lsn`` bounds the window from above (Kafka endOffsets-style
        bounded consumption: replay "up to here", not "to current") — files
        entirely past the bound are pruned the same way. The bound is
        faithful at COMMIT granularity: a merge batch stores only its
        within-batch LWW winners, so a bound cutting through the middle of
        one commit's lsn range cannot recover versions that commit already
        superseded (same contract as replaying a table-format changelog).

        Lazy: building the feed runs no Spark job and reads no footer."""
        return self._feed(lsn, max_lsn, with_head=False)[0]

    def _feed(
        self, lsn: int, max_lsn: int | None = None, with_head: bool = True
    ) -> tuple[DataFrame, int | None]:
        """``changes_since``'s feed and its head lsn (the max ``_lsn`` of the
        rows in ``(lsn, max_lsn]``; None for an empty window), both from ONE
        manifest load.

        The head is row-level, read off the feed files' parquet footers
        (exact for the long ``_lsn``) — never from manifest bounds, which a
        rewrite commit (compact, purge) leaves conservative: a head past the
        last row would move a consumer's watermark over rows landing under
        it. Only a file with no ``_lsn`` statistic, or whose footer range
        straddles ``max_lsn``, goes through one ``max(_lsn)`` aggregate;
        without one, no job runs."""
        m = self._load_manifest()
        if m is None:
            return local_frame(self.spark, [], T.StructType([])), None
        stats = m.get("file_stats", {})
        files = [
            f for f in self._files(m, None)
            if (f not in stats or stats[f].get("lsn_max", lsn + 1) > lsn)
            and (max_lsn is None or f not in stats
                 or stats[f].get("lsn_min", max_lsn) <= max_lsn)
        ]
        schema = self._schema_of(m)

        def window(fs: list[str]) -> DataFrame:
            df = self._read_files(fs, schema).filter(F.col(LSN_COL) > lsn)
            return df if max_lsn is None else df.filter(F.col(LSN_COL) <= max_lsn)

        head = None
        if with_head:
            zones = self._footer_zones(files, [LSN_COL])
            his: list[int] = []
            blind: list[str] = []
            for f in files:
                z = zones.get(f, {}).get("zm", {}).get(LSN_COL)
                if z is None or (max_lsn is not None and z[0] <= max_lsn < z[1]):
                    blind.append(f)
                elif z[1] > lsn and (max_lsn is None or z[1] <= max_lsn):
                    his.append(z[1])
            if blind:
                his += [v for v in window(blind).agg(F.max(LSN_COL)).first() if v is not None]
            head = max(his, default=None)
        df = window(files)
        if DELETED_COL in df.columns:
            op = F.when(F.coalesce(F.col(DELETED_COL), F.lit(False)), F.lit("delete")) \
                .otherwise(F.lit("upsert"))
            return df.withColumn("op", op).drop(DELETED_COL), head
        return df.withColumn("op", F.lit("upsert")), head

    # ------------------------------------------------------------ compaction
    @staticmethod
    def _bounds_from_stats(
        m: dict[str, Any], files: list[str], cols: list[str], df: DataFrame
    ) -> dict[str, tuple[float, float]]:
        """Numeric (min, max) per column derived from the manifest's
        per-file zone maps — min-of-mins/max-of-maxes over ``files``, with
        stored datetime images parsed back to epoch seconds. A column is
        returned only when EVERY file carries its stats (else the caller
        falls back to a bounds aggregate); string columns never qualify
        (their stats don't scale numerically)."""
        import datetime as _dt

        stats = m.get("file_stats", {})
        out: dict[str, tuple[float, float]] = {}
        for c in cols:
            t = df.schema[c].dataType if c in df.columns else None
            if isinstance(t, T.StringType) or t is None:
                continue

            def num(v: Any) -> float | None:
                if isinstance(v, (int, float)):
                    return float(v)
                if isinstance(v, str):
                    try:
                        d = _dt.datetime.fromisoformat(v)
                    except ValueError:
                        return None
                    return d.replace(tzinfo=_dt.timezone.utc).timestamp()
                return None

            los: list[float] = []
            his: list[float] = []
            ok = bool(files)
            for f in files:
                zm = stats.get(f, {}).get("zm", {})
                if c not in zm:
                    ok = False
                    break
                lo, hi = num(zm[c][0]), num(zm[c][1])
                if lo is None or hi is None:
                    ok = False
                    break
                los.append(lo)
                his.append(hi)
            if ok:
                out[c] = (min(los), max(his))
        return out

    @staticmethod
    def _zorder_double(df: DataFrame, c: str) -> F.Column:
        """Numeric image of a z-orderable column: timestamps (NTZ included)
        and dates go through an epoch-seconds cast — TIMESTAMP_NTZ/DATE
        cannot cast to double directly."""
        t = df.schema[c].dataType
        col = F.col(c)
        if isinstance(t, (T.TimestampNTZType, T.DateType)):
            col = col.cast("timestamp")
        return col.cast("double")

    @classmethod
    def _zorder_value(
        cls, df: DataFrame, cols: list[str],
        bounds: dict[str, tuple[float, float]],
    ) -> F.Column:
        """16-bit-per-column Morton (Z-order) interleave: each column is
        min-max scaled to [0, 65535] (one tiny bounds aggregate, computed by
        the caller) and its bits are interleaved, so sorting by the result
        clusters rows that are close in EVERY dimension. Pure JVM bit
        expressions (16 × n_cols OR terms, whole-stage codegen); nulls sort
        first (scaled 0). Timestamps scale via their epoch seconds."""
        scaled = []
        for c in cols:
            lo, hi = bounds[c]
            x = cls._zorder_double(df, c)
            span = hi - lo
            s = ((x - F.lit(lo)) / F.lit(span) * 65535.0) if span > 0 else F.lit(0.0)
            scaled.append(
                F.coalesce(
                    F.least(F.greatest(s, F.lit(0.0)), F.lit(65535.0)), F.lit(0.0)
                ).cast("long")
            )
        n = len(scaled)
        z = F.lit(0).cast("long")
        for i in range(16):
            for j, x in enumerate(scaled):
                bit = F.shiftright(x, i).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
        return z

    def compact(
        self,
        buckets: list[int] | None = None,
        batch_id: str | None = None,
        min_delta_files: int = 1,
        cluster_by_key: bool = False,
        max_file_rows: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> MergeResult:
        """Fold delta files into base for the given (default: all
        delta-bearing) buckets: read base∪delta, LWW-resolve (for collapse
        tables this is the version fold — superseded versions vanish,
        survivors rewrite as +1 rows), rewrite as base.
        The MoR maintenance op — run on a schedule or when delta/base ratio
        crosses a threshold; at cluster scale this is a background job that
        never blocks ingest (it commits a new snapshot like any writer).
        Scoping is by BUCKET only: key zone maps deliberately do not apply
        here — a key-subset rewrite of a bucket would duplicate its base
        rows across files, so compact always folds whole buckets.

        ``cluster_by_key`` + ``max_file_rows``: sort each bucket by the
        first key column during the rewrite and split it into bounded files
        whose PER-FILE key bounds (harvested from parquet footers — a
        metadata-only read, every key column) replace the commit-level
        bounds in each file's zone map. This is the Z-order/sort-compaction
        analogue for a single-key table: range reads on the key (reconcile
        repair, ``read(ranges={key: ...})``) then prune to
        ~(range_width/key_span) of each bucket's files even when keys are
        hash-random across commits — the one layout commit-level bounds can
        never prune. Cost: the sort
        rides the rewrite's existing shuffle (task-side sort, no extra
        exchange); multi-file buckets forgo the free observe() digests, so
        with checksum on the new base files are re-read once for their
        per-file digests (bounded, compact-only — never on the ingest
        path).

        ``zorder_by``: multi-dimensional clustering (Delta OPTIMIZE ZORDER
        BY): rows sort within each bucket by a 16-bit-per-column Morton
        interleave of the given numeric/timestamp columns, so per-file zone
        maps become tight in EVERY listed dimension and ``read(ranges=...)``
        prunes on any of them — the layout a single-column sort cannot give
        (sorting by ts makes conv-range reads scan everything, and vice
        versa). Costs one tiny bounds aggregate over the rewritten buckets;
        the sort rides the rewrite shuffle. Mutually exclusive with
        ``cluster_by_key``; per-file zone maps for the z-ordered columns
        (plus any configured ``stats_columns``) are harvested from the
        footers. The lattice bounds come from the manifest zone maps when
        every folded file has them, else from one bounds aggregate."""
        if zorder_by and cluster_by_key:
            raise ValueError("zorder_by and cluster_by_key are mutually exclusive")
        m = self._load_manifest()
        if m is None:
            return MergeResult(0, batch_id or "compact", False)
        dirty = [
            int(b) for b, e in m["buckets"].items()
            if len(e.get("delta", [])) >= min_delta_files
            and (buckets is None or int(b) in set(buckets))
        ]
        if not dirty:
            return MergeResult(m["version"], batch_id or "compact", False)
        props = self._props(m)
        schema = self._schema_of(m)
        # ONE resolution rule for every strategy: LWW picks each key's latest
        # version (collapse deltas are versioned +1 rows — the
        # CollapsingMergeTree background-merge fold); survivors of a sign
        # table rewrite as +1 base. Delete markers are RETAINED as tombstones
        # in all modes (hidden by read, physically removed by
        # expire_tombstones) — a deliberate strengthening over ClickHouse's
        # physical removal, which cannot survive out-of-order redelivery:
        # drop the marker and a late-arriving STALE update resurrects the
        # deleted key (hypothesis-pinned in
        # test_any_batching_and_order_converges with a mid-run compact).
        resolved = self.read(buckets=dirty, version=int(m["version"]), include_deleted=True)
        if SIGN_COL in resolved.columns:
            resolved = resolved.withColumn(SIGN_COL, F.lit(1))
        ttl_obs = None
        if props["ttl"]:
            # row TTL enforcement point (see __init__): the expired-count
            # observe and the drop filter both ride the rewrite job
            from pyspark.sql import Observation

            expired = F.coalesce(F.expr(props["ttl"]), F.lit(False))
            ttl_obs = Observation()
            resolved = resolved.observe(
                ttl_obs, F.sum(expired.cast("long")).alias("n_expired")
            ).filter(~expired)
        resolved = resolved.withColumn(BUCKET_COL, self._bucket_col(props["n_buckets"]))
        sort_cols = None
        if zorder_by:
            missing = [c for c in zorder_by if c not in resolved.columns]
            if missing:
                raise ValueError(f"zorder_by columns not in table: {missing}")
            # bounds for the scaling lattice: prefer the manifest zone maps
            # (min-of-mins over the dirty files — free) and only pay a
            # bounds aggregate (an extra read of the dirty buckets) when a
            # file lacks stats for some column. Approximate bounds would be
            # fine for clustering; these are exact when stats cover.
            bounds = self._bounds_from_stats(
                m, self._files(m, dirty), zorder_by, resolved
            )
            need = [c for c in zorder_by if c not in bounds]
            if need:
                b_aggs = []
                for c in need:
                    x = self._zorder_double(resolved, c)
                    b_aggs += [F.min(x).alias(f"lo_{c}"), F.max(x).alias(f"hi_{c}")]
                row = resolved.agg(*b_aggs).first()
                for c in need:
                    bounds[c] = (row[f"lo_{c}"] or 0.0, row[f"hi_{c}"] or 0.0)
            resolved = resolved.withColumn(
                "_zo", self._zorder_value(resolved, zorder_by, bounds)
            )
            sort_cols = ["_zo"]
        _, new, dig, tot = self._write_snapshot(
            resolved, n_buckets=props["n_buckets"], sort_by_key=cluster_by_key,
            max_records_per_file=max_file_rows, sort_cols=sort_cols,
        )
        new_files = [f for fs in new.values() for f in fs]
        # footer bounds of the clustering columns replace their commit
        # bounds; stats_columns ride the same footer read
        cols = self.key_cols if cluster_by_key else list(zorder_by or [])
        zones = self._footer_zones(
            new_files, sorted(set(cols) | set(props["stats_columns"])) if cols else []
        )
        bid = batch_id or f"compact-v{m['version']}"
        rows = sum(self._footer_rows(new_files).values())
        lineage = {"batch_id": bid, "op": "compact", "rows_written": rows,
                   "compacted_buckets": sorted(dirty)}
        if ttl_obs is not None:
            lineage["rows_expired"] = int(ttl_obs.get.get("n_expired") or 0)
        # per dirty bucket, replace exactly the files we folded with the new
        # base and KEEP every other file — on a rebase, the racer's deltas
        folded = set(self._files(m, dirty))

        def fold_into(cur: dict[str, Any]) -> dict[str, Any]:
            out = {b: {"base": list(e.get("base", [])),
                       "delta": list(e.get("delta", []))}
                   for b, e in cur.items()}
            for b in dirty:
                e = out.get(str(b), {"base": [], "delta": []})
                e["base"] = [f for f in e["base"] if f not in folded]
                e["delta"] = [f for f in e["delta"] if f not in folded]
                out[str(b)] = e
            for b, fs in new.items():
                e = out.setdefault(b, {"base": [], "delta": []})
                e["base"] = fs + e["base"]
            return {b: e for b, e in out.items()
                    if e.get("base") or e.get("delta")}

        try:
            v = self._commit(m, props, fold_into(m["buckets"]), schema, bid,
                             lineage, dig, tot, extra_file_stats=zones)
        except ConcurrentWriteError:
            # optimistic rebase: compact is the maintenance op that runs
            # beside live ingest ("a background job that never blocks
            # ingest"). If a merge committed while we rewrote, the folded
            # state is still valid — it covers everything up to our read —
            # and the racer's delta files LWW-supersede our new base on
            # read, like any pending delta. That commutes ONLY with additive
            # merge appends: a racing compact/rescale would leave two bases
            # for the same rows (duplicates, and read() skips the LWW
            # resolve with no pending deltas); a racing bucket-rewriting
            # merge (CoW upsert, delete_insert) already replaced the files
            # we folded, so our pre-race base would duplicate its keys and
            # bring its deletes back; a racing purge would resurrect erased
            # rows from our pre-purge snapshot. Walk the intervening
            # commits and refuse to rebase over anything but an append —
            # the caller retries from fresh state.
            cur = self._load_manifest()
            base_v, cur_v = int(m["version"]), int(cur["version"])
            for iv in range(base_v + 1, cur_v + 1):
                iop = str((self._load_manifest(iv) or {}).get("lineage", {}).get("op", ""))
                if iop not in _APPEND_OPS:
                    raise ConcurrentWriteError(
                        f"manifest advanced v{base_v} -> v{cur_v} with a "
                        f"non-append commit '{iop or 'unknown'}' at v{iv}; "
                        f"'compact' cannot rebase over it — retry against the "
                        f"current state"
                    ) from None
            lineage = {**lineage, "rebased_from": base_v, "rebased_onto": cur_v}
            # appends evolve the schema additively: commit under theirs
            v = self._commit(cur, props, fold_into(cur["buckets"]), self._schema_of(cur),
                             bid, lineage, dig, tot, extra_file_stats=zones)
        return MergeResult(v, bid, True, sorted(int(b) for b in new), rows)

    # ------------------------------------------------------------- utilities
    def delta_ratio(self) -> float:
        """delta-file fraction of the current snapshot — the MoR compaction
        trigger signal (0.0 = fully compacted)."""
        m = self._load_manifest()
        if m is None:
            return 0.0
        n_base = sum(len(e.get("base", [])) for e in m["buckets"].values())
        n_delta = sum(len(e.get("delta", [])) for e in m["buckets"].values())
        total = n_base + n_delta
        return n_delta / total if total else 0.0

    def expire_tombstones(self, older_than_lsn: int, batch_id: str | None = None) -> MergeResult:
        """Drop delete tombstones with ``_lsn < older_than_lsn`` (full
        compaction included). Safe once the source guarantees no change older
        than that LSN can still arrive — the retention contract every CDC
        system needs (Debezium's tombstone window, Cassandra's gc_grace)."""
        m = self._load_manifest()
        if m is None:
            return MergeResult(0, batch_id or "gc", False)
        resolved = self.read(version=int(m["version"]), include_deleted=True)
        kept = resolved.filter(
            ~(
                F.coalesce(F.col(DELETED_COL), F.lit(False))
                & (F.col(LSN_COL) < F.lit(older_than_lsn))
            )
        )
        return self._commit_write(
            m, kept, batch_id or f"gc-v{m['version']}", "expire_tombstones",
            extra={"older_than_lsn": older_than_lsn},
        )

    def purge_keys(
        self,
        keys: list[Any],
        batch_id: str | None = None,
        vacuum_history: bool = True,
    ) -> dict[str, Any]:
        """Privacy erasure (right-to-be-forgotten): physically remove EVERY
        stored row version of ``keys`` — live rows, superseded versions,
        tombstones, sign rows — from the table's data files. A tombstone
        delete hides a key but leaves its payload readable in the files and
        via time travel; purge is the hard-delete twin.

        - **Bounded rewrite.** The probe reuses the point-lookup index
          (hash-bucket pruning + per-file key blooms), so only files that
          MAY contain a purged key are rewritten; unaffected files are
          re-referenced verbatim. Rewritten files keep every other row
          as-is — no LWW fold, base stays base, delta stays delta — so MoR
          semantics and pending versions of other keys are untouched.
        - **History truncation.** Prior manifests still reference the old
          files, so by default the purge finishes with
          ``vacuum(keep_last=1)``: historical data files (every old copy of
          the purged payload) and manifests are deleted, and time travel /
          rollback restart at the purge commit. ``vacuum_history=False``
          defers that — the purge is NOT complete until ``vacuum`` runs.
        - **Downstream copies are not touched.** A follower table that
          already synced the keys retains them (the rows are gone from the
          change feed, so erasure cannot propagate); purge each table.
          Follower sync itself stays correct: the rewrite commit carries
          conservative lsn bounds and sync's row-level ``_lsn`` probe finds
          no new versions.

        Reference parity: the reference's deletes are ClickHouse sign
        cancels (adapters/clickhouse.py:93-105) which keep the payload in
        the cancel row; it has no erasure op. This is the GDPR-grade
        operation a conversation store needs.
        """
        keys = list(keys)
        m = self._load_manifest()
        report: dict[str, Any] = {
            "version": int(m["version"]) if m else 0, "committed": False,
            "files_rewritten": 0, "rows_purged": 0,
        }
        if m is None or not keys:
            return report
        schema = self._schema_of(m)
        key0 = self.key_cols[0]
        key_type = schema[key0].dataType
        nb = m["n_buckets"]
        probe_map: dict[int, list[tuple[Any, int, list[int]]]] = {}
        for pk in self._probe_keys(keys, key_type, nb):
            probe_map.setdefault(pk[1], []).append(pk)
        stats = m.get("file_stats", {})
        affected: dict[str, dict[str, list[str]]] = {}
        for b_str, e in m["buckets"].items():
            if int(b_str) not in probe_map:
                continue
            for kind in ("base", "delta"):
                hit = [
                    f for f in e.get(kind, [])
                    if self._bloom_may_contain(stats.get(f), probe_map[int(b_str)])
                ]
                if hit:
                    affected.setdefault(b_str, {})[kind] = hit
        if not affected:
            # no current file can hold the keys — but historical versions
            # still might (insert → delete → expire_tombstones), so the
            # history truncation must still run
            if vacuum_history:
                report["vacuum"] = self.vacuum(keep_last=1)
            return report

        k0 = F.col(key0)

        def drop_keys(df: DataFrame) -> DataFrame:
            if len(keys) <= 512:
                # null-keyed rows (never produced by merge, conceivable in
                # imported files) are kept: isin is NULL for them
                return df.filter(~F.coalesce(k0.isin(keys), F.lit(False)))
            kt = local_frame(
                self.spark, [(k,) for k in keys],
                T.StructType([T.StructField(key0, key_type)]),
            )
            return df.join(F.broadcast(kt), on=key0, how="left_anti")

        out_buckets = {
            b: {"base": list(e.get("base", [])), "delta": list(e.get("delta", []))}
            for b, e in m["buckets"].items()
        }
        all_digests: dict[str, dict[str, Any]] = {}
        totals: list[dict[str, Any]] = []
        new_files_all: list[str] = []
        rows_before = rows_after = n_rewritten = 0
        for kind in ("base", "delta"):
            files = [f for e in affected.values() for f in e.get(kind, [])]
            if not files:
                continue
            n_rewritten += len(files)
            rows_before += sum(self._footer_rows(files).values())
            kept = drop_keys(self._read_files(files, schema)).withColumn(
                BUCKET_COL, self._bucket_col(nb)
            )
            _, new, dig, tot = self._write_snapshot(kept, n_buckets=nb)
            all_digests.update(dig)
            if tot:
                totals.append(tot)
            for b_str, e in affected.items():
                if kind in e:
                    gone = set(e[kind])
                    out_buckets[b_str][kind] = [
                        f for f in out_buckets[b_str][kind] if f not in gone
                    ]
            for b, fs in new.items():
                out_buckets.setdefault(b, {"base": [], "delta": []})[kind] = (
                    out_buckets.get(b, {}).get(kind, []) + fs
                )
                new_files_all.extend(fs)
            rows_after += sum(self._footer_rows([f for fs in new.values() for f in fs]).values())
        out_buckets = {
            b: e for b, e in out_buckets.items() if e.get("base") or e.get("delta")
        }
        # the base and delta rewrites fold into one total; it carries no
        # zone map — the footers of every new file give each its own
        batch_total: dict[str, Any] | None = None
        if totals:
            batch_total = {k: v for k, v in totals[0].items() if k != "zm"}
            for t in totals[1:]:
                for k, fold in (("d", int.__add__), ("lsn_min", min), ("lsn_max", max)):
                    if k in t:
                        batch_total[k] = (
                            fold(batch_total[k], t[k]) if k in batch_total else t[k]
                        )
        bid = batch_id or f"purge-v{m['version']}"
        lineage = {
            "batch_id": bid, "op": "purge", "rows_written": rows_after,
            "rows_purged": rows_before - rows_after,
            "files_rewritten": n_rewritten, "n_keys": len(keys),
        }
        v = self._commit(
            m, self._props(m), out_buckets, schema, bid, lineage, all_digests,
            batch_total, extra_file_stats=self._footer_zones(new_files_all, self.key_cols),
        )
        report.update(
            version=v, committed=True, files_rewritten=n_rewritten,
            rows_purged=rows_before - rows_after,
        )
        if vacuum_history:
            report["vacuum"] = self.vacuum(keep_last=1)
        return report

    def rescale(self, n_buckets: int, batch_id: str | None = None) -> MergeResult:
        """Rewrite the table under a new bucket count (Iceberg
        REPLACE PARTITION FIELD + rewrite). One full read→write; subsequent
        merges prune against the new layout; the new count is persisted in
        the manifest. A table with no manifest yet has no layout to change
        (``applied=False``): its constructor's ``n_buckets`` seeds it."""
        m = self._load_manifest()
        if m is None:
            return MergeResult(0, batch_id or "rescale", False)
        # read() resolves pending versioned deltas (collapse included), as
        # the all-base rewrite needs — multiple versions of a key written
        # as base would never LWW again on read
        df = self.read(version=int(m["version"]), include_deleted=True)
        return self._commit_write(
            m, df, batch_id or f"rescale-{n_buckets}", "rescale",
            extra={"n_buckets": n_buckets},
            props={**self._props(m), "n_buckets": n_buckets},
        )

    def rollback(self, version: int, batch_id: str | None = None) -> MergeResult:
        """Reinstate the table state of ``version`` as a NEW commit —
        Iceberg's ``rollback_to_snapshot``: history only moves forward, the
        old version's data files are re-referenced verbatim (zero data IO),
        and every consumer contract survives (``read()`` serves the restored
        state, ``changes_since``/checksum/lineage see a normal commit). The
        recovery story for a bad upstream batch: roll back, fix the source,
        replay — exactly-once manifests dedupe any batch ids that were
        already applied pre-rollback only if they are still inside the
        idempotence window, so replay with FRESH batch ids (or widen the
        window) after rolling back past a committed batch.

        Fails if ``version`` (or any of its files) was vacuumed — time
        travel and rollback reach exactly as far as ``vacuum(keep_last)``
        retains. Restores ``n_buckets`` if a rescale happened since (the
        reinstated files are bucketed by it); every other property, the
        batch-id window and the publish version come from the current
        manifest. Per-file digests and stats are carried from the target
        manifest, so the checksum path pays no read-back."""
        cur = self._load_manifest()
        m = self._load_manifest(version)
        if m is None:
            raise ValueError(
                f"version {version} is expired (vacuumed) or unknown; "
                f"current version is {self.current_version()}"
            )
        files = self._files(m, None)
        missing = [f for f in files if not os.path.exists(f)]
        if missing:
            raise ValueError(
                f"cannot roll back to version {version}: {len(missing)} of its "
                f"data files were vacuumed (first: {missing[0]})"
            )
        props = {**self._props(cur), "n_buckets": m["n_buckets"]}
        schema = self._schema_of(m)
        bid = batch_id or f"rollback-v{version}"
        lineage = {
            "batch_id": bid, "op": "rollback", "to_version": version,
            "rows_written": 0, "files_reinstated": len(files),
        }
        v = self._commit(
            cur, props, m["buckets"], schema, bid, lineage,
            new_digests=m.get("file_digests"),
            extra_file_stats=m.get("file_stats"),
        )
        return MergeResult(v, bid, True, rows_written=0)

    def vacuum(
        self, keep_last: int = 1, older_than_seconds: float | None = None,
        orphan_grace_seconds: float = 3600.0,
    ) -> dict[str, int]:
        """Delete data files not referenced by the retained manifests, and
        manifests older than that (Iceberg's expire_snapshots +
        remove_orphan_files). Time travel remains available for the kept
        versions. Never touches the live snapshot.

        ``older_than_seconds``: age-based retention — keep every version
        committed within the window (plus the live one) regardless of
        count; the standard "7-day time travel" policy.

        ``orphan_grace_seconds``: files never referenced by ANY manifest
        (retained or expired) may be a concurrent writer's staged-but-
        uncommitted snapshot — deleting them kills the in-flight commit
        (the classic VACUUM hazard Delta guards with its retention window).
        They are removed only once older than the grace. Files referenced
        by EXPIRED manifests are history and are removed immediately — so
        ``purge_keys``'s erase-now contract is unaffected."""
        current = self.current_version()
        if older_than_seconds is not None:
            cutoff = time.time() - older_than_seconds
            lo = current
            for v in range(current - 1, 0, -1):
                m = self._load_manifest(v)
                if m is None or float(m.get("committed_at", 0.0)) < cutoff:
                    break
                lo = v
            keep_versions = list(range(lo, current + 1))
        else:
            keep_versions = list(range(max(1, current - keep_last + 1), current + 1))
        referenced: set[str] = set()
        for v in keep_versions:
            m = self._load_manifest(v)
            if m:
                referenced.update(self._files(m, None))
        # files referenced only by EXPIRED manifests: true history, removable
        # now (collected before those manifests are unlinked below)
        expired_refs: set[str] = set()
        for v in range(1, keep_versions[0]):
            m = self._load_manifest(v)
            if m:
                expired_refs.update(self._files(m, None))
        expired_refs -= referenced
        now = time.time()
        data_root = os.path.join(self.path, _DATA_DIR)
        removed_files = 0
        for snap in sorted(os.listdir(data_root)):
            snap_dir = os.path.join(data_root, snap)
            for root, _dirs, files in os.walk(snap_dir, topdown=False):
                for fn in files:
                    p = os.path.join(root, fn)
                    if p.endswith(".parquet") and p not in referenced:
                        if p not in expired_refs:
                            # never referenced by any manifest: possibly a
                            # concurrent writer's staged snapshot — grace
                            try:
                                if now - os.path.getmtime(p) < orphan_grace_seconds:
                                    continue
                            except OSError:
                                continue
                        os.unlink(p)
                        removed_files += 1
                    elif not fn.endswith(".parquet") and fn.startswith(("_", ".")):
                        os.unlink(p)  # _SUCCESS / .crc markers
                if not os.listdir(root):
                    os.rmdir(root)
        # crashed commits leave .tmp-* staging files in the manifest dir
        # (the atomic link publish never exposes them as versions); sweep
        # ones past the same grace window
        mdir = os.path.join(self.path, _MANIFEST_DIR)
        for fn in os.listdir(mdir):
            if fn.startswith(".tmp-"):
                p = os.path.join(mdir, fn)
                try:
                    if now - os.path.getmtime(p) > orphan_grace_seconds:
                        os.unlink(p)
                except OSError:
                    pass
        removed_manifests = 0
        for v in range(1, keep_versions[0]):
            p = self._manifest_path(v)
            if os.path.exists(p):
                # safe: the latest manifest carries the idempotence window of
                # recent batch_ids, so exactly-once dedupe survives for every
                # batch a checkpointed source could still re-deliver
                os.unlink(p)
                removed_manifests += 1
        return {"removed_files": removed_files, "removed_manifests": removed_manifests}

_INT_RANK: dict[type, int] = {
    T.ByteType: 1, T.ShortType: 2, T.IntegerType: 3, T.LongType: 4,
}


def _widen_type(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """Numeric promotion for a column observed under two types (Iceberg's
    type-evolution rules, plus integer↔fractional → double which Spark's
    own union coercion applies): int ladder widens to the larger, float →
    double, decimal widens precision/scale. Returns None when no lossless
    promotion exists (string vs int, etc.) — callers turn that into a
    clear schema-evolution error instead of a mid-job parquet cast
    failure."""
    if a == b:
        return a
    int_a, int_b = type(a) in _INT_RANK, type(b) in _INT_RANK
    if int_a and int_b:
        return a if _INT_RANK[type(a)] >= _INT_RANK[type(b)] else b
    frac = (T.FloatType, T.DoubleType)
    if (int_a or isinstance(a, frac)) and (int_b or isinstance(b, frac)):
        return T.DoubleType()
    if isinstance(a, T.DecimalType) and isinstance(b, T.DecimalType):
        scale = max(a.scale, b.scale)
        integral = max(a.precision - a.scale, b.precision - b.scale)
        if integral + scale <= 38:
            return T.DecimalType(integral + scale, scale)
    return None


def _merge_schemas(old: T.StructType, new: T.StructType) -> T.StructType:
    """Schema evolution union: old field order, new fields appended,
    numeric type conflicts WIDENED (int→long, float→double, …). The
    parquet vectorized reader upcasts old narrow files to the widened
    manifest type on read, so no rewrite is needed; incoming batches are
    cast to the merged schema before write (``_conform_types``) so new
    files — and their in-write observe() digests — carry the wide type.
    Non-widenable conflicts raise immediately at merge time."""
    fields = {f.name: f for f in old.fields}
    for f in new.fields:
        cur = fields.get(f.name)
        if cur is None:
            fields[f.name] = f
        elif cur.dataType != f.dataType:
            widened = _widen_type(cur.dataType, f.dataType)
            if widened is None:
                raise TypeError(
                    f"incompatible schema evolution for column '{f.name}': "
                    f"table has {cur.dataType.simpleString()}, batch has "
                    f"{f.dataType.simpleString()} (only additive columns and "
                    "widening numeric promotions are supported)"
                )
            fields[f.name] = T.StructField(f.name, widened, True)
    return T.StructType(list(fields.values()))


def _conform_types(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Cast ``df``'s columns to ``schema``'s types where they differ
    (post-``_merge_schemas`` widening). Column order is left alone."""
    want = {f.name: f.dataType for f in schema.fields}
    have = {f.name: f.dataType for f in df.schema.fields}
    casts = [c for c in df.columns if c in want and have[c] != want[c]]
    if not casts:
        return df
    return df.withColumns({c: F.col(c).cast(want[c]) for c in casts})


def _digest_cols_key(schema: T.StructType, cols: list[str]) -> str:
    """Digest-cache validity key: column names AND types, in digest order.
    Types matter because the digest hashes each value's STRING image —
    identical for integer widenings, but a float read back as double can
    render differently (0.1f → 0.10000000149011612), so a type change must
    invalidate cached file digests and trigger the existing stale-file
    catch-up at the next resolving commit."""
    by = {f.name: f.dataType for f in schema.fields}
    return ",".join(f"{c}:{by[c].simpleString()}" for c in cols)


def collapse_live_view(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Reconstruct live rows from a collapse-strategy table: per full row,
    keep rows whose sign sum is positive (cancels annihilate originals).

    The group key is (key columns, 64-bit payload rowhash), NOT the raw
    payload: wide text columns must not ride the shuffle as grouping keys
    (hash-compare beats long-string compare, and the partial aggregation
    buffers stay slim). Payload values are recovered with ``max`` — within a
    group every payload is identical by construction (64-bit collisions
    within one key are negligible, the same stance as the dedup suite).
    Rows with a NULL sign (written before the table ever saw a collapse
    batch) count as live (+1)."""
    cols = [c for c in df.columns if c != SIGN_COL]
    payload = [c for c in cols if c not in key_cols]
    sign = F.sum(F.coalesce(F.col(SIGN_COL), F.lit(1))).alias("_s")
    if not payload:
        return df.groupBy(*cols).agg(sign).filter(F.col("_s") > 0).drop("_s")
    return (
        df.groupBy(*key_cols, rowhash_xxhash64(*payload).alias("_ph"))
        .agg(sign, *[F.max(c).alias(c) for c in payload])
        .filter(F.col("_s") > 0)
        .select(*cols)
    )
