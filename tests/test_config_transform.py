"""M1: config system + transform/enrich layer (reference test/core/test_config.py
shapes: alias generation, sink→source propagation, TMPL/lambda parsing,
dtype casts, enrichment)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_sync_tool_spark.config import (
    Config,
    DynamicValue,
    EnrichmentConfig,
    FieldConfig,
    PipelineConfig,
    generate_alias,
    parse_sandboxed_lambda,
)
from data_sync_tool_spark.operators.enrich import (
    enrich_with_service,
    enrich_with_table,
)
from data_sync_tool_spark.operators.transform import apply_transform, template_to_column

YAML = """
datastores:
  - name: src1
    type: parquet
    path: /root/testdata/sf0.001
  - name: snk1
    type: lake
    path: /tmp/snk1
pipelines:
  - name: p1
    source:
      datastore: src1
      table: {table: events}
    sink:
      datastore: snk1
      table: {table: events_out}
      fields:
        - {column: event_id, dtype: int}
        - {column: tag, source_column: 'TMPL({{ event_type }}-{{ event_id }})', dtype: str}
        - {column: value2, source_column: 'lambda r: r["value"] * 2', dtype: float}
        - {column: u.name, source_column: event_type}
    merge_strategy: {strategy: upsert, allow_delete: true}
    reconciliation:
      - name: full
        strategy: md5sum_hash
        partition_column: event_id
        initial_partition_interval: '10*1000'
        max_block_size: 100
"""


@pytest.fixture(scope="module")
def cfg(tmp_path_factory) -> Config:
    p = tmp_path_factory.mktemp("cfg") / "config.yaml"
    p.write_text(YAML)
    return Config.load(str(p))


def test_alias_generation():
    assert generate_alias("u.name") == "u__name"
    fc = FieldConfig(column="o.total")
    assert fc.alias == "o__total"


def test_sandboxed_lambda_allows_expressions():
    fn = parse_sandboxed_lambda("lambda r: r['a'] + 1")
    assert fn({"a": 41}) == 42
    fn0 = parse_sandboxed_lambda("lambda: 7 * 6")
    assert fn0() == 42


@pytest.mark.parametrize(
    "bad",
    [
        "lambda r: __import__('os').system('x')",
        "lambda r: open('/etc/passwd')",
        "lambda r: r.__class__",
        "lambda r: [x for x in r]",
    ],
)
def test_sandboxed_lambda_rejects_dangerous(bad):
    with pytest.raises((ValueError, NameError)):
        fn = parse_sandboxed_lambda(bad)
        fn({"a": 1})  # NameError for open() at call time


def test_dynamic_value_kinds():
    assert DynamicValue("plain").kind == "literal"
    assert DynamicValue("TMPL({{ a }}-x)").kind == "template"
    assert DynamicValue("lambda: 1").kind == "zero_arg"
    assert DynamicValue("lambda r: r['a']").kind == "row_lambda"


def test_config_loads_and_interval_arithmetic(cfg):
    p = cfg.pipeline("p1")
    assert p.reconciliation[0].initial_partition_interval == 10_000
    assert cfg.datastore("src1").path == "/root/testdata/sf0.001"


def test_sink_to_source_field_propagation(cfg):
    p = cfg.pipeline("p1")
    src_cols = [f.column for f in p.source.fields]
    # plain columns + template variables propagate; lambda refs don't
    assert "event_id" in src_cols and "event_type" in src_cols


def test_env_override(cfg, monkeypatch):
    monkeypatch.setenv("SRC1_HOST", "otherhost")
    assert cfg.datastore("src1").options["host"] == "otherhost"


def test_apply_transform_vectorized(spark, cfg, sf_small):
    p = cfg.pipeline("p1")
    ev = spark.read.parquet(f"{sf_small}/events.parquet").limit(100)
    out = apply_transform(ev, p.sink.fields)
    assert out.columns == ["event_id", "tag", "value2", "u__name"]
    row = out.orderBy("event_id").first()
    assert row["tag"] == "error-0"
    assert abs(row["value2"] - 2 * 185.22) < 1e-9
    assert out.schema["event_id"].dataType.simpleString() == "bigint"
    assert out.schema["value2"].dataType.simpleString() == "double"


def test_template_to_column_literal_only(spark):
    df = spark.range(1)
    assert df.select(template_to_column("no vars").alias("t")).first()["t"] == "no vars"


def test_enrich_broadcast_table(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "user_id int, x string")
    kv = spark.createDataFrame(
        [("user:1", "gold"), ("user:2", "silver")], "key string, value string"
    )
    conf = EnrichmentConfig(name="tier", type="redis", key_template="user:{{ user_id }}",
                            output_field="tier")
    out = enrich_with_table(df, conf, kv)
    got = {r.user_id: r.tier for r in out.collect()}
    assert got == {1: "gold", 2: "silver", 3: None}
    # plan uses a broadcast join, not per-row lookups
    assert "Broadcast" in out._jdf.queryExecution().executedPlan().toString()


def test_enrich_service_batched(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "user_id int")
    n_calls = spark.sparkContext.accumulator(0)  # visible across worker procs

    def fake_service(keys: list[str]) -> dict[str, str]:
        n_calls.add(1)
        return {k: f"score-{k}" for k in keys}

    conf = EnrichmentConfig(name="score", type="http", key_template="{{ user_id }}",
                            output_field="score")
    out = enrich_with_service(df.coalesce(1), conf, fake_service).collect()
    assert all(r.score == f"score-{r.user_id}" for r in out)
    # one bulk call per Arrow batch, not one per row
    assert 1 <= n_calls.value < 10


def test_enrichment_config_loads_with_the_retired_output_mapper():
    """``output`` (a ``'lambda v: {...}'`` mapper) was read by nothing and is
    gone; a config that still sets it loads, the key ignored."""
    conf = EnrichmentConfig(name="tier", output_field="tier", output="lambda v: {'t': v}")
    assert conf.output_field == "tier" and not hasattr(conf, "output")


# --------------------------------------------------- native lambda compilation
def test_row_lambda_native_compilation_matches_udf(spark):
    """Simple lambdas compile to native Columns; results must match plain
    Python evaluation of the same lambda on non-null data (the semantics the
    pandas-UDF fallback implements)."""
    from data_sync_tool_spark.config import parse_sandboxed_lambda
    from data_sync_tool_spark.operators.transform import row_lambda_to_column

    df = spark.createDataFrame(
        [(1, 2.5, "ab", "CD", True), (7, -1.25, "x", "yz", False)],
        "a long, b double, s string, t string, flag boolean",
    )
    cases = [
        "lambda r: r['a'] + 1",
        "lambda r: r['a'] * 2 - r['b']",
        "lambda r: r['a'] / 4",
        "lambda r: r['s'] + r['t']",
        "lambda r: r['s'].upper() + '-' + r['t'].lower()",
        "lambda r: 'big' if r['a'] > 3 else 'small'",
        "lambda r: r['a'] > 3 and not r['flag']",
        "lambda r: str(r['a']) + ':' + r['s']",
        "lambda r: f\"{r['s']}#{r['a']}\"",
        "lambda r: len(r['s']) + abs(r['b'])",
        "lambda r: r.get('s') in ['ab', 'zz']",
        "lambda r: r['a'] > 0.5",  # int col vs float literal: numeric widening
        "lambda r: r['a'] + 1 if r['flag'] else None",  # None branch = SQL NULL
        "lambda r: -r['a'] * 2",
        "lambda r: r['a'] in [1, 7]",
    ]
    rows = [r.asDict() for r in df.orderBy("a").collect()]
    for code in cases:
        native = row_lambda_to_column(df, code)
        assert native is not None, code
        fn = parse_sandboxed_lambda(code)
        got = [r["n"] for r in df.select("a", native.alias("n")).orderBy("a").collect()]
        expect = [fn(row) for row in rows]
        for g, e in zip(got, expect):
            if isinstance(e, float) or isinstance(g, float):
                assert abs(float(g) - float(e)) < 1e-9, (code, g, e)
            else:
                assert g == e, (code, g, e)


def test_row_lambda_unsafe_shapes_fall_back(spark):
    """Type- or semantics-hazardous shapes return None (→ pandas UDF path):
    % and // (sign semantics), mixed-type +, math.* calls, comprehensions."""
    from data_sync_tool_spark.operators.transform import row_lambda_to_column

    df = spark.createDataFrame([(1, "x", 2.5, True)], "a long, s string, b double, flag boolean")
    for code in [
        "lambda r: r['a'] % 3",
        "lambda r: r['a'] // 2",
        "lambda r: r['a'] ** 2",
        "lambda r: r['s'] + r['a']",
        "lambda r: math.floor(r['a'])",
        "lambda r: r['missing'] + 1",
        "lambda r: round(r['a'], 2)",
        # str() beyond int/str: Python 'True'/'None'/'1e+20' vs Spark
        # 'true'/NULL/'1.0E20' — must fall back, not silently drift
        "lambda r: str(r['flag'])",
        "lambda r: str(r['b'])",
        # f-string operands follow the same rule: float/bool interpolation
        # renders differently in Spark than Python — UDF path only
        "lambda r: f\"{r['b']}\"",
        "lambda r: f\"v={r['flag']}\"",
        # branch types disagree (int vs str): Spark would coerce, Python won't
        "lambda r: 'x' if r['flag'] else r['a']",
        # membership across types relies on implicit casts
        "lambda r: r['s'] in [1, 2]",
        "lambda r: r['a'] in ['1', '2']",
    ]:
        assert row_lambda_to_column(df, code) is None, code


def test_transform_pipeline_uses_native_path(spark, cfg):
    """End-to-end: the configured 'lambda r: r[value] * 2' field plans with
    NO BatchEvalPython/ArrowEvalPython node."""
    from data_sync_tool_spark.operators.transform import apply_transform

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    fields = cfg.pipelines[0].sink.fields
    out = apply_transform(events, fields)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    row = out.orderBy("event_id").first()
    assert row["value2"] is not None


def test_decimal_dtype_roundtrip(spark):
    from data_sync_tool_spark.config import FieldConfig
    from data_sync_tool_spark.operators.transform import apply_transform

    df = spark.createDataFrame([(1, "12.345")], "id long, amount string")
    out = apply_transform(df, [
        FieldConfig(column="id", dtype="int"),
        FieldConfig(column="amount", dtype="decimal(10,2)"),
    ])
    assert out.schema["amount"].dataType.simpleString() == "decimal(10,2)"
    assert str(out.first()["amount"]) == "12.35"
    with pytest.raises(Exception, match="dtype"):
        FieldConfig(column="x", dtype="bogus")
