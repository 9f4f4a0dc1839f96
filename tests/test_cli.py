"""CLI entry point (__main__) driven as a subprocess — the spark-submit
surface."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

YAML = """
datastores:
  - {{name: files, type: parquet, path: /root/testdata/sf0.001}}
  - {{name: wh, type: lake, path: {lake}}}
pipelines:
  - name: sync
    source: {{datastore: files, table: {{table: orders}}}}
    sink:
      datastore: wh
      table: {{table: orders_mirror}}
      meta_columns: {{unique_columns: [o_orderkey]}}
    merge_strategy: {{strategy: upsert, allow_delete: true}}
    reconciliation:
      - {{name: full, strategy: md5sum_hash, partition_column: o_orderkey,
         partition_column_type: int, initial_partition_interval: 100000,
         max_block_size: 500}}
      - {{name: incr, strategy: updated_at, partition_column: o_orderkey,
         partition_column_type: int}}
"""


def _run(*args: str) -> dict:
    # the caller's SPARK_GRAFT_CPUS: more local cores than the host has only
    # slows each subprocess down
    env = os.environ | {"PYTHONPATH": REPO}
    out = subprocess.run(
        [sys.executable, "-m", "data_sync_tool_spark", *args],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.slow
def test_cli_reconcile_and_incremental(tmp_path):
    cfg = tmp_path / "c.yaml"
    cfg.write_text(YAML.format(lake=tmp_path / "lake"))
    r1 = _run("reconcile", "--config", str(cfg), "--pipeline", "sync", "--name", "full")
    assert r1["counts"]["A"] == 1500 and r1["rows_written"] == 1500
    r2 = _run("reconcile", "--config", str(cfg), "--pipeline", "sync", "--name", "full",
              "--dry-run")
    assert r2["counts"] == {"N": 1500, "M": 0, "A": 0, "D": 0}
    r3 = _run("incremental", "--config", str(cfg), "--pipeline", "sync", "--name", "incr")
    assert r3["rows_written"] == 1500  # first incremental = full load (no watermark yet)
    r4 = _run("incremental", "--config", str(cfg), "--pipeline", "sync", "--name", "incr")
    assert r4["rows_written"] == 0  # watermark persisted in lineage; nothing new


def test_spark_submit_py_files_deployment(tmp_path):
    """The north-rule deployment mode, for real: package the engine as a zip,
    `spark-submit --py-files engine.zip job.py`, and run a merge+read job in
    the fresh JVM/interpreter that only sees the zip (cwd is elsewhere)."""
    import os
    import subprocess
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg_root = os.path.join(repo, "data_sync_tool_spark")
    zpath = tmp_path / "engine.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_root):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, repo))
    job = tmp_path / "job.py"
    job.write_text(
        """
import sys
from data_sync_tool_spark.session import build_session
from data_sync_tool_spark.sources.lake import LakeTable
import pyspark.sql.functions as F

spark = build_session("submit-job", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
t = LakeTable(spark, sys.argv[1], ["k"], n_buckets=2)
ch = spark.range(1000).select(
    F.concat(F.lit("k"), (F.col("id") % 100).cast("string")).alias("k"),
    F.col("id").alias("v"), F.lit("upsert").alias("op"), F.col("id").alias("lsn"),
)
t.merge_into(ch, batch_id="b0")
assert t.read().count() == 100
assert t.lineage()[-1]["table_checksum"] == t.audit_checksum()
print("SUBMIT_OK", t.read().count())
"""
    )
    env = os.environ.copy()
    env.pop("PYTHONPATH", None)
    env["SPARK_GRAFT_CPUS"] = "4"
    out = subprocess.run(
        ["spark-submit", "--master", "local[4]", "--py-files", str(zpath),
         str(job), str(tmp_path / "tbl")],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path), env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "SUBMIT_OK 100" in out.stdout


def test_cli_query_json_subcommand(tmp_path):
    """`python -m data_sync_tool_spark query --config stored.json --data dir`
    — the reference's persisted-config execution path, end to end."""
    import json as _json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cfg = {
        "name": "top-nations",
        "config": {
            "select": [
                {"expr": "n.n_name", "alias": "nation", "type": "column"},
                {"expr": "COUNT(1)", "alias": "cnt", "type": "count"},
            ],
            "tables": [
                {"table": "customer", "primary": True, "alias": "c"},
                {"table": "nation", "primary": False, "alias": "n",
                 "type": "inner", "on": "c.c_nationkey = n.n_nationkey"},
            ],
            "group_by": ["n.n_name"],
            "order_by": [{"column": "cnt", "direction": "DESC"}],
            "limit": 3,
        },
    }
    cfg_path = tmp_path / "q.json"
    cfg_path.write_text(_json.dumps(cfg))
    env = os.environ.copy()
    env["SPARK_GRAFT_CPUS"] = "4"
    out = subprocess.run(
        [sys.executable, "-m", "data_sync_tool_spark", "query",
         "--config", str(cfg_path), "--data", "/root/testdata/sf0.001",
         "--output", str(tmp_path / "out")],
        capture_output=True, text=True, timeout=240, cwd=repo, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert _json.loads(lines[-1]) == {"rows": 3}
    rows = [_json.loads(l) for l in lines[:-1]]
    assert len(rows) == 3 and all({"nation", "cnt"} <= set(r) for r in rows)
    assert rows[0]["cnt"] >= rows[1]["cnt"] >= rows[2]["cnt"]


def test_cli_index_subcommand(tmp_path):
    """`python -m data_sync_tool_spark index --kind minhash` builds a
    persisted dedup index usable by the incremental path."""
    import json as _json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = os.environ.copy()
    env["SPARK_GRAFT_CPUS"] = "4"
    idx = tmp_path / "mh_idx"
    out = subprocess.run(
        [sys.executable, "-m", "data_sync_tool_spark", "index",
         "--kind", "minhash",
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--output", str(idx)],
        capture_output=True, text=True, timeout=240, cwd=repo, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    got = _json.loads(lines[-1])
    assert got["kind"] == "minhash" and got["rows"] > 0
    assert (idx / "bands").exists() and (idx / "sets").exists() and (idx / "meta").exists()


@pytest.mark.slow
def test_cli_history_and_rollback(tmp_path, spark):
    """`history` prints lineage with no Spark session; `rollback` reinstates
    a prior version and the restored state is served to readers."""
    import pyspark.sql.functions as F

    from data_sync_tool_spark.sources.lake import LakeTable

    path = str(tmp_path / "t")
    t = LakeTable(spark, path, ["k"], n_buckets=4)
    good = spark.range(100).select(
        F.col("id").alias("k"), F.col("id").alias("v"),
        F.lit("insert").alias("op"), F.lit(1).alias("lsn"))
    t.merge_into(good, batch_id="good")
    bad = spark.range(100).select(
        F.col("id").alias("k"), F.lit(-1).alias("v"),
        F.lit("update").alias("op"), F.lit(2).alias("lsn"))
    t.merge_into(bad, batch_id="bad")

    env = os.environ | {"PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "4"}
    hist = subprocess.run(
        [sys.executable, "-m", "data_sync_tool_spark", "history",
         "--table", path, "--keys", "k", "--last", "10"],
        capture_output=True, text=True, timeout=120, env=env, cwd=REPO,
    )
    assert hist.returncode == 0, hist.stderr[-2000:]
    recs = [json.loads(l) for l in hist.stdout.strip().splitlines()]
    assert [r["batch_id"] for r in recs] == ["good", "bad"]

    got = _run("rollback", "--table", path, "--keys", "k", "--version", "1")
    assert got == {"rolled_back_to": 1, "new_version": 3,
                   "batch_id": "rollback-v1"}
    restored = LakeTable(spark, path, ["k"])
    assert restored.read().agg(F.min("v")).first()[0] == 0  # bad batch undone


@pytest.mark.slow
def test_cli_purge_subcommand(tmp_path, spark):
    import pyspark.sql.functions as F

    from data_sync_tool_spark.sources.lake import LakeTable

    path = str(tmp_path / "t")
    t = LakeTable(spark, path, ["k"], n_buckets=4)
    rows = spark.range(50).select(
        F.col("id").alias("k"), F.concat(F.lit("text-"), F.col("id")).alias("v"),
        F.lit("insert").alias("op"), F.lit(1).alias("lsn"))
    t.merge_into(rows, batch_id="b0")

    got = _run("purge", "--table", path, "--keys", "k", "--values", "7,13")
    assert got["committed"] and got["rows_purged"] == 2  # int coercion worked
    after = LakeTable(spark, path, ["k"]).read()
    assert after.count() == 48
    assert after.filter(F.col("k").isin(7, 13)).count() == 0


@pytest.mark.slow
def test_cli_export_and_maintain_subcommands(tmp_path, spark):
    import pyspark.sql.functions as F

    from data_sync_tool_spark.sources.lake import LakeTable

    path = str(tmp_path / "t")
    t = LakeTable(spark, path, ["k"], n_buckets=2, merge_mode="mor")
    rows = spark.range(30).select(
        F.col("id").alias("k"), F.col("id").alias("v"),
        F.lit("insert").alias("op"), F.lit(1).alias("lsn"))
    t.merge_into(rows, batch_id="b0")
    t.merge_into(rows.withColumn("v", F.col("v") * 10).withColumn("lsn", F.lit(2)), "b1")

    dest = str(tmp_path / "pub")
    got = _run("export", "--table", path, "--keys", "k", "--dest", dest)
    assert got["rows"] == 30
    assert spark.read.parquet(dest).agg(F.max("v")).first()[0] == 290

    got = _run("maintain", "--table", path, "--keys", "k",
               "--compact", "--vacuum-keep-last", "1")
    assert got["compact"]["applied"] and got["vacuum"]["removed_manifests"] >= 1
    assert LakeTable(spark, path, ["k"]).delta_ratio() == 0.0


@pytest.mark.slow
def test_cli_refresh_view_subcommand(tmp_path, spark):
    import pyspark.sql.functions as F

    from data_sync_tool_spark.sources.lake import LakeTable

    src_path, view_path = str(tmp_path / "src"), str(tmp_path / "view")
    src = LakeTable(spark, src_path, ["k", "i"], n_buckets=2)
    rows = spark.createDataFrame(
        [(f"g{i % 3}", i, i * 1.0, i, "upsert") for i in range(30)],
        "k string, i int, v double, lsn long, op string")
    src.merge_into(rows, "b0")

    got = _run("refresh-view", "--src", src_path, "--src-keys", "k,i",
               "--view", view_path, "--name", "stats",
               "--aggs", "n=count(1); total=sum(v)", "--where", "i >= 3")
    assert got["applied"] and got["watermark"] == 29
    view = LakeTable(spark, view_path, ["k"])
    out = {(r.k, r.n, r.total) for r in view.read().collect()}
    want = {(r.k, r.n, r.total) for r in
            src.read().filter(F.col("i") >= 3).groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")).collect()}
    assert out == want and len(out) == 3
    # second run with nothing new: no-op, watermark unchanged
    got2 = _run("refresh-view", "--src", src_path, "--src-keys", "k,i",
                "--view", view_path, "--name", "stats",
                "--aggs", "n=count(1); total=sum(v)", "--where", "i >= 3")
    assert not got2["applied"] and got2["watermark"] == 29

def test_cli_sync_subcommand(tmp_path, spark):
    import pyspark.sql.functions as F

    from data_sync_tool_spark.sources.lake import LakeTable

    src_path, dst_path = str(tmp_path / "src"), str(tmp_path / "dst")
    src = LakeTable(spark, src_path, ["k", "i"], n_buckets=2, merge_mode="mor")
    rows = spark.createDataFrame(
        [(f"g{i % 3}", i, f"t{i}", i, "upsert") for i in range(30)],
        "k string, i int, text string, lsn long, op string")
    src.merge_into(rows, "b0")

    # bounded first catch-up, filtered replica (only group g1)
    got = _run("sync", "--src", src_path, "--dst", dst_path, "--keys", "k,i",
               "--dst-buckets", "4", "--where", "k = 'g1'", "--max-lsn", "20")
    assert got["steps"] == 1 and got["watermark"] == 20
    dst = LakeTable(spark, dst_path, ["k", "i"], merge_mode="mor")
    assert {r.i for r in dst.read().collect()} == {
        i for i in range(21) if i % 3 == 1
    }
    # drain the rest; second run is a no-op
    got2 = _run("sync", "--src", src_path, "--dst", dst_path, "--keys", "k,i",
                "--where", "k = 'g1'")
    assert got2["steps"] == 1 and got2["watermark"] == 29
    got3 = _run("sync", "--src", src_path, "--dst", dst_path, "--keys", "k,i",
                "--where", "k = 'g1'")
    assert got3["steps"] == 0 and got3["watermark"] == 29
    assert dst.read().count() == sum(1 for i in range(30) if i % 3 == 1)
