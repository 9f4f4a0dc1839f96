"""Self-test of the benchmark: every oracle fires on a planted fault, and
each workload runs at a tiny size with the metric names BENCHMARK.json
declares.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracles  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


# ------------------------------------------------------------------ oracles
def _binlog(path: str) -> None:
    ts = pa.array([1, 2, 3, 4, 5], pa.timestamp("us", tz="UTC"))
    pq.write_table(pa.table({
        "conv_id": ["a", "a", "b", "c", "c"],
        "turn_idx": pa.array([0, 0, 0, 1, 1], pa.int32()),
        "role": ["user"] * 5,
        "text": ["a0", "a0'", "b0", "c1", "c1'"],
        "tool": [None, "search", None, None, None],
        "ts": ts,
        "op": ["insert", "update", "insert", "insert", "delete"],
        "lsn": [0, 1, 2, 3, 4],
    }), path)


def test_lww_oracle_and_row_digest(tmp_path):
    _binlog(str(tmp_path / "part-0.parquet"))
    want = oracles.lww_final_state(str(tmp_path / "*.parquet"))
    assert sorted(want.column("text").to_pylist()) == ["a0'", "b0"]
    got = want.take([1, 0])  # order does not matter
    assert oracles.check_same_rows(got, want, oracles.ROW_COLS, "t") == []
    for col in ("text", "turn_idx", "ts_us", "tool"):
        if col == "tool":
            bad = got.set_column(4, "tool", pa.array(["x", None]))
        else:
            bad = oracles.plant(got, col)
        assert oracles.check_same_rows(bad, want, oracles.ROW_COLS, "t"), col
    assert oracles.check_same_rows(got.slice(0, 1), want, oracles.ROW_COLS, "t")


def test_view_oracle_fires():
    rows = pa.table({"conv_id": ["a", "a", "b"], "turn_idx": [0, 3, 1],
                     "ts_us": [10, 30, 20]})
    view = oracles.view_recompute(rows)
    assert oracles.check_same_rows(view, view, oracles.VIEW_COLS, "v") == []
    for col in ("n_turns", "last_ts_us", "max_turn"):
        assert oracles.check_same_rows(oracles.plant(view, col), view, oracles.VIEW_COLS, "v")


def test_verify_oracle_fires():
    assert oracles.check_in_sync(["N", "N"]) == []
    for s in ("M", "A", "D"):
        assert oracles.check_in_sync(["N", s])


def _topk_rows(idx: np.ndarray, scores: np.ndarray, q_ids: np.ndarray, col: str) -> pa.Table:
    q, n, s = [], [], []
    for qi, qid in enumerate(q_ids):
        for j in idx[qi]:
            q.append(int(qid))
            n.append(int(j))
            s.append(float(scores[qi, j]))
    return pa.table({"query_id": q, "neighbor_id": n, col: s})


def test_topk_oracles_fire():
    rng = np.random.default_rng(0)
    corpus, queries = rng.normal(size=(200, 8)), rng.normal(size=(5, 8))
    q_ids, c_ids, k = np.arange(200, 205), np.arange(200), 4
    cos = oracles.cosine(queries, corpus)
    truth = oracles.topk_order(cos, k)
    rows = _topk_rows(truth, cos, q_ids, "cos")
    assert oracles.check_topk("e", rows, "cos", q_ids, c_ids, cos, k, want_idx=truth) == []
    # one wrong neighbor: the exact check and the approximate check both fire
    bad = oracles.plant(rows, "neighbor_id")
    assert oracles.check_topk("e", bad, "cos", q_ids, c_ids, cos, k, want_idx=truth)
    assert oracles.check_topk("a", bad, "cos", q_ids, c_ids, cos, k)
    # a valid but worse answer fails only the recall floor
    worse = _topk_rows(oracles.topk_order(-cos, k), cos, q_ids, "cos")
    assert oracles.check_topk("a", worse, "cos", q_ids, c_ids, cos, k) == []
    assert oracles.check_topk("a", worse, "cos", q_ids, c_ids, cos, k,
                              recall_floor=0.5, truth_idx=truth)
    # ADC scoring recomputed from codes and codebooks
    books = rng.normal(size=(4, 3, 2))
    codes = rng.integers(0, 3, size=(200, 4))
    adc = oracles.adc_scores(queries, codes, books)
    order = oracles.topk_order(adc, k)
    rows = _topk_rows(order, adc, q_ids, "adc")
    assert oracles.check_topk("p", rows, "adc", q_ids, c_ids, adc, k, want_idx=order) == []
    assert oracles.check_topk("p", oracles.plant(rows, "adc"), "adc", q_ids, c_ids, adc, k)


def test_per_layer_names_match_spec():
    assert run.per_layer_names() == [m["name"] for m in SPEC["per_layer"]]
    assert [m["unit"] for m in SPEC["per_layer"]] == [
        run.per_layer_unit(n) for n in run.per_layer_names()]
    assert sorted(run.E2E_UNITS) == sorted(m["name"] for m in SPEC["end_to_end"])


# -------------------------------------------------------------- tiny runs
def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_metric_names(workload, trace):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--scale", "tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert list(out["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_planted_fault_fails_every_check(workload):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", "0", "--scale", "tiny", "--plant-fault"])
    assert p.returncode == 0, p.stderr[-3000:]
    detail, out = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
    assert not out["correct"]
    assert detail["checks"] and all(v != "ok" for v in detail["checks"].values()), detail
    assert out["failed"] == len(detail["checks"])


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
