"""Output oracles, independent of the engine under test.

Row sets are compared by an order-independent content digest computed by
DuckDB (count and the sum of a per-row hash over every column cast to
text), so the engine's output and the reference computation pass through
the same digest code. Top-k results are checked against numpy.

Every check returns a list of failure messages; empty means the output is
correct. The checks are plain functions over Arrow tables and numpy arrays
so the self-test can plant faults in an output and see each one fire.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa

ROW_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts_us"]
VIEW_COLS = ["conv_id", "n_turns", "last_ts_us", "max_turn"]


def digest(table: pa.Table, cols: list[str]) -> tuple[int, int]:
    """(row count, sum of row hashes) — equal for equal multisets of rows."""
    con = duckdb.connect()
    try:
        con.register("t", table)
        args = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        n, h = con.sql(
            f"SELECT count(*), CAST(coalesce(sum(hash({args})), 0) AS VARCHAR) FROM t"
        ).fetchone()
        return int(n), int(h)
    finally:
        con.close()


def check_same_rows(got: pa.Table, want: pa.Table, cols: list[str], what: str) -> list[str]:
    g, w = digest(got, cols), digest(want, cols)
    if g != w:
        return [f"{what}: engine (rows={g[0]}, digest={g[1]}) != "
                f"oracle (rows={w[0]}, digest={w[1]})"]
    return []


def lww_final_state(binlog_glob: str) -> pa.Table:
    """Last-writer-wins final state of a binlog, straight from its parquet:
    per key the highest-lsn event, dropped when that event is a delete."""
    con = duckdb.connect()
    try:
        return con.sql(f"""
            SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us
            FROM (SELECT *, row_number() OVER (
                          PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
                  FROM read_parquet('{binlog_glob}'))
            WHERE rn = 1 AND op <> 'delete'
        """).arrow()
    finally:
        con.close()


def view_recompute(leader: pa.Table) -> pa.Table:
    """The aggregate view recomputed from scratch over the leader's rows."""
    con = duckdb.connect()
    try:
        con.register("leader", leader)
        return con.sql("""
            SELECT conv_id, count(*) AS n_turns, max(ts_us) AS last_ts_us,
                   max(turn_idx) AS max_turn
            FROM leader GROUP BY conv_id
        """).arrow()
    finally:
        con.close()


def check_in_sync(statuses: list[str]) -> list[str]:
    bad = [s for s in statuses if s != "N"]
    if bad:
        return [f"verify: {len(bad)} of {len(statuses)} blocks not in sync "
                f"({sorted(set(bad))}) on an identical replica"]
    return []


# ----------------------------------------------------------------- top-k
def _unit(m: np.ndarray) -> np.ndarray:
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def _per_query(rows: pa.Table, score_col: str) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list[tuple[int, float]]] = {}
    q = rows.column("query_id").to_pylist()
    n = rows.column("neighbor_id").to_pylist()
    s = rows.column(score_col).to_pylist()
    for qi, ni, si in zip(q, n, s):
        out.setdefault(int(qi), []).append((int(ni), float(si)))
    for v in out.values():
        v.sort(key=lambda t: (-t[1], t[0]))
    return out


def check_topk(
    what: str,
    rows: pa.Table,
    score_col: str,
    q_ids: np.ndarray,
    c_ids: np.ndarray,
    true_score: np.ndarray,
    k: int,
    want_idx: np.ndarray | None = None,
    recall_floor: float = 0.0,
    truth_idx: np.ndarray | None = None,
    notes: dict[str, float] | None = None,
) -> list[str]:
    """Check an engine top-k result against numpy.

    Every query has ``k`` distinct known neighbors, each reported score
    equals ``true_score`` (the method's own scoring, recomputed) within
    1e-5, and — for an exact method, given ``want_idx`` — the neighbor list
    equals the oracle's, ties broken on the lower id. With ``truth_idx``,
    recall@k against it must reach ``recall_floor``."""
    fails: list[str] = []
    pos = {int(c): i for i, c in enumerate(c_ids)}
    got = _per_query(rows, score_col)
    hits = 0
    for qi, qid in enumerate(q_ids):
        lst = got.get(int(qid), [])
        ids = [n for n, _ in lst]
        if len(ids) != k or len(set(ids)) != k or any(n not in pos for n in ids):
            fails.append(f"{what}: query {qid} returned {len(ids)} neighbors "
                         f"({len(set(ids))} distinct, want {k} known ids)")
            continue
        cols = [pos[n] for n in ids]
        err = np.abs(true_score[qi, cols] - np.array([s for _, s in lst]))
        if err.max() > 1e-5:
            j = int(err.argmax())
            fails.append(f"{what}: query {qid} neighbor {ids[j]} scored {lst[j][1]}, "
                         f"recomputed {true_score[qi, cols[j]]}")
        if want_idx is not None and cols != [int(x) for x in want_idx[qi]]:
            fails.append(f"{what}: query {qid} neighbors {ids} != oracle "
                         f"{[int(c_ids[x]) for x in want_idx[qi]]}")
        if truth_idx is not None:
            hits += len(set(cols) & set(int(x) for x in truth_idx[qi]))
    if truth_idx is not None:
        recall = hits / (k * len(q_ids))
        if notes is not None:
            notes[f"{what}.recall"] = recall
        if recall < recall_floor:
            fails.append(f"{what}: recall@{k} {recall:.3f} < floor {recall_floor}")
    return fails


def topk_order(scores: np.ndarray, k: int) -> np.ndarray:
    """Indices of the top-k scores per row, ties broken on the lower index."""
    ties = np.broadcast_to(np.arange(scores.shape[1]), scores.shape)
    return np.lexsort((ties, -scores), axis=1)[:, :k]


def cosine(queries: np.ndarray, corpus: np.ndarray) -> np.ndarray:
    """Cosine scores rounded to 6 places, like the engine."""
    return np.round(_unit(queries) @ _unit(corpus).T, 6)


def adc_scores(queries: np.ndarray, codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    """PQ asymmetric-distance scores, summed over subspaces in order (the
    engine's fold order), rounded to 6 places."""
    m, _, dsub = books.shape
    qn = _unit(queries)
    out = np.zeros((queries.shape[0], codes.shape[0]))
    for s in range(m):
        lut = qn[:, s * dsub:(s + 1) * dsub] @ books[s].T  # (nq, k)
        out = out + lut[:, codes[:, s]]
    return np.round(out, 6)


def plant(table: pa.Table, col: str) -> pa.Table:
    """A copy of ``table`` with row 0 of ``col`` changed: strings get a
    suffix, numbers move by one. Used to prove a check fires."""
    i = table.schema.get_field_index(col)
    vals = table.column(col).to_pylist()
    vals[0] = vals[0] + "~" if isinstance(vals[0], str) else vals[0] + 1
    return table.set_column(i, table.schema.field(i), pa.array(vals, table.schema.field(i).type))
