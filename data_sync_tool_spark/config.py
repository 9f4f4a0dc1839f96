"""Pipeline configuration system — pydantic models mirroring the reference's
YAML surface (``/root/reference/core/config.py``), compiled to Spark plans.

Parity map:
- ``TMPL(...)`` templated values         ↔ ``core/config.py:50-57`` — compiled
  to a VECTORIZED column expression (concat of literals and columns), never
  per-row Jinja (``engine/transform.py:6-7`` renders per row).
- ``lambda r: ...`` sandboxed row lambda ↔ ``core/config.py:17-48`` — same
  AST whitelist (expression-only, datetime/math builtins), executed over
  Arrow batches via pandas UDF (the documented general/slow path).
- ``lambda: ...`` zero-arg dynamic value ↔ ``core/config.py:238-239`` +
  ``utils/utils_fn.py:6-10`` — evaluated at plan time on the driver.
- field alias generation ``.``→``__``    ↔ ``utils/utils_fn.py:12-16``.
- sink→source field back-propagation     ↔ ``core/config.py:187-207`` —
  config-time column pruning; Catalyst then prunes the scan.
- merge strategy / allow_delete          ↔ ``core/config.py:158-160``.
- reconciliation knobs                   ↔ ``core/config.py:231-247``.
- env-var overrides ``{PEER}_{KEY}``     ↔ ``utils/config_loader.py:7-32``.
"""

from __future__ import annotations

import ast
import os
import re
from typing import Any, Literal, Optional

import yaml
from pydantic import BaseModel, field_validator, model_validator

TMPL_RE = re.compile(r"^TMPL\((.*)\)$", re.DOTALL)
VAR_RE = re.compile(r"\{\{\s*([A-Za-z_][A-Za-z0-9_.]*)\s*\}\}")

# AST node whitelist for sandboxed lambdas — reference core/config.py:17-48
_ALLOWED_NODES = (
    ast.Expression, ast.Lambda, ast.arguments, ast.arg, ast.Name, ast.Load,
    ast.Attribute, ast.Subscript, ast.Index, ast.Slice, ast.Constant,
    ast.BinOp, ast.UnaryOp, ast.BoolOp, ast.Compare, ast.IfExp, ast.Call,
    ast.Add, ast.Sub, ast.Mult, ast.Div, ast.FloorDiv, ast.Mod, ast.Pow,
    ast.USub, ast.UAdd, ast.Not, ast.And, ast.Or,
    ast.Eq, ast.NotEq, ast.Lt, ast.LtE, ast.Gt, ast.GtE, ast.In, ast.NotIn,
    ast.Is, ast.IsNot, ast.Tuple, ast.List, ast.Dict, ast.Set,
    ast.keyword, ast.FormattedValue, ast.JoinedStr,
)

_SAFE_GLOBALS: dict[str, Any] = {}


def _safe_globals() -> dict[str, Any]:
    if not _SAFE_GLOBALS:
        import datetime
        import math

        _SAFE_GLOBALS.update(
            {"__builtins__": {}, "datetime": datetime, "math": math,
             "str": str, "int": int, "float": float, "len": len,
             "min": min, "max": max, "abs": abs, "round": round}
        )
    return _SAFE_GLOBALS


def parse_sandboxed_lambda(code: str):
    """Validate and compile a ``lambda ...`` string with the reference's AST
    whitelist (expression-only; no imports, comprehensions, or dunder access)."""
    tree = ast.parse(code.strip(), mode="eval")
    for node in ast.walk(tree):
        if not isinstance(node, _ALLOWED_NODES):
            raise ValueError(f"disallowed construct in lambda: {type(node).__name__}")
        if isinstance(node, ast.Attribute) and node.attr.startswith("__"):
            raise ValueError("dunder attribute access is not allowed")
        if isinstance(node, ast.Name) and node.id.startswith("__"):
            raise ValueError("dunder name access is not allowed")
    if not isinstance(tree.body, ast.Lambda):
        raise ValueError("expected a lambda expression")
    return eval(compile(tree, "<config-lambda>", "eval"), _safe_globals())  # noqa: S307


def generate_alias(column: str) -> str:
    """``u.name`` → ``u__name`` (``utils/utils_fn.py:12-16``)."""
    return column.replace(".", "__")


class DynamicValue:
    """A config value that is one of: literal, TMPL template, or lambda."""

    __slots__ = ("raw", "kind", "template", "fn")

    def __init__(self, raw: Any):
        self.raw = raw
        self.kind = "literal"
        self.template = None
        self.fn = None
        if isinstance(raw, str):
            m = TMPL_RE.match(raw.strip())
            if m:
                self.kind = "template"
                self.template = m.group(1)
            elif raw.strip().startswith("lambda"):
                self.fn = parse_sandboxed_lambda(raw)
                self.kind = "zero_arg" if self.fn.__code__.co_argcount == 0 else "row_lambda"

    def value(self) -> Any:
        """Plan-time value (zero-arg lambdas evaluated on the driver —
        reference ``get_value``, ``utils/utils_fn.py:6-10``)."""
        return self.fn() if self.kind == "zero_arg" else self.raw


class FilterConfig(BaseModel):
    column: str
    operator: str = "="
    value: Any = None


class JoinConfig(BaseModel):
    table: str
    alias: Optional[str] = None
    on: str
    type: Literal["inner", "left", "right", "full"] = "inner"


class FieldConfig(BaseModel):
    """A sink (or source) field. ``source_column`` may be a plain column,
    a dotted path, a ``TMPL(...)`` template, or a ``lambda r:`` row function
    (``core/config.py:142-156``, ``config.yaml:116-121``)."""

    column: str
    alias: Optional[str] = None
    # int | float | datetime | str | date | decimal | decimal(p,s)
    # (reference type map core/config.py:17-26 + DECIMAL(10,2) in test DDL)
    dtype: Optional[str] = None

    @field_validator("dtype")
    @classmethod
    def check_dtype(cls, v):
        if v is None:
            return v
        from .operators.transform import _spark_type

        try:
            _spark_type(v)
        except KeyError:
            raise ValueError(f"unknown dtype: {v!r}")
        return v
    source_column: Optional[str] = None

    @model_validator(mode="before")
    @classmethod
    def populate_alias(cls, v):
        if isinstance(v, dict) and not v.get("alias"):
            v["alias"] = generate_alias(v["column"])
        return v

    def dynamic(self) -> DynamicValue:
        return DynamicValue(self.source_column or self.column)


class StoreMeta(BaseModel):
    partition_column: Optional[str] = None
    hash_column: Optional[str] = None
    order_column: Optional[str] = None
    unique_columns: Optional[list[str]] = None


class TableConfig(BaseModel):
    table: str
    alias: Optional[str] = None
    dbschema: Optional[str] = None


class EndpointConfig(BaseModel):
    """Source or sink (``core/config.py:174-220``)."""

    datastore: str
    table: TableConfig
    fields: list[FieldConfig] = []
    filters: list[FilterConfig] = []
    joins: list[JoinConfig] = []
    meta_columns: StoreMeta = StoreMeta()
    batch_size: int = 1000


class MergeStrategyConfig(BaseModel):
    strategy: Literal["delete_insert", "upsert", "collapse"] = "upsert"
    allow_delete: bool = False


class EnrichmentConfig(BaseModel):
    """``core/config.py:250-263`` + README "Data Enrichment"."""

    name: str
    type: Literal["redis", "http", "table"] = "table"
    externalstore: Optional[str] = None
    key_template: Optional[str] = None
    output_field: Optional[str] = None
    path: Optional[str] = None
    params: dict[str, str] = {}


class ReconciliationConfigModel(BaseModel):
    name: str
    strategy: Literal["md5sum_hash", "hash_md5_hash", "updated_at"] = "md5sum_hash"
    partition_column: str
    # str/uuid reconcile over the key's hash image (reference declares but
    # raises on these, core/config.py:237 / adapters/postgres.py:52-53)
    partition_column_type: Literal["int", "datetime", "str", "uuid"] = "int"
    start: Optional[Any] = None
    end: Optional[Any] = None
    initial_partition_interval: Optional[int] = None
    interval_reduction_factor: int = 10
    max_block_size: int = 1000

    @field_validator("initial_partition_interval", mode="before")
    @classmethod
    def eval_interval(cls, v):
        # config allows arithmetic like '1*365*24*60*60' (README:162)
        if isinstance(v, str):
            node = ast.parse(v, mode="eval")
            for n in ast.walk(node):
                if not isinstance(n, (ast.Expression, ast.BinOp, ast.Constant,
                                      ast.Mult, ast.Add, ast.Sub, ast.Div, ast.FloorDiv)):
                    raise ValueError("interval must be a constant arithmetic expression")
            return int(eval(compile(node, "<interval>", "eval"), {"__builtins__": {}}))  # noqa: S307
        return v

    def bounds(self) -> tuple[Any, Any]:
        return DynamicValue(self.start).value(), DynamicValue(self.end).value()


class DatastoreConfig(BaseModel):
    """Named connection. The Spark engine reads/writes parquet dirs and lake
    tables; jdbc/nats/webhook types from the reference map onto Spark
    connectors when their drivers are present (``core/config.py:87-113``)."""

    name: str
    # open string, not a Literal: custom adapter types are first-class
    # (reference custom adapters, utils/utils_fn.py:19-32)
    type: str = "parquet"
    path: Optional[str] = None
    options: dict[str, str] = {}

    def env_overridden(self) -> "DatastoreConfig":
        """``{NAME}_{KEY}`` env vars override options
        (``utils/config_loader.py:7-32``)."""
        opts = dict(self.options)
        prefix = f"{self.name.upper()}_"
        for k, v in os.environ.items():
            if k.startswith(prefix):
                opts[k[len(prefix):].lower()] = v
        return self.model_copy(update={"options": opts})


class PipelineConfig(BaseModel):
    """``core/config.py:266-286``."""

    name: str
    source: EndpointConfig
    sink: EndpointConfig
    merge_strategy: MergeStrategyConfig = MergeStrategyConfig()
    reconciliation: list[ReconciliationConfigModel] = []
    enrichment: list[EnrichmentConfig] = []

    @model_validator(mode="after")
    def provide_sink_to_source(self):
        """Sink fields back-propagate into the source projection — config-time
        column pruning (``core/config.py:187-207``). Only plain column refs
        propagate; templates/lambdas keep their referenced variables."""
        if self.sink.fields and not self.source.fields:
            needed: list[str] = []
            for f in self.sink.fields:
                dv = f.dynamic()
                if dv.kind == "literal" and isinstance(dv.raw, str):
                    needed.append(dv.raw)
                elif dv.kind == "template":
                    needed.extend(VAR_RE.findall(dv.template))
            self.source.fields = [
                FieldConfig(column=c) for c in dict.fromkeys(needed)
            ]
        return self


class Config(BaseModel):
    datastores: list[DatastoreConfig] = []
    pipelines: list[PipelineConfig] = []

    @classmethod
    def load(cls, path: str) -> "Config":
        with open(path) as f:
            raw = yaml.safe_load(f)
        return cls.model_validate(raw)

    def pipeline(self, name: str) -> PipelineConfig:
        for p in self.pipelines:
            if p.name == name:
                return p
        raise KeyError(name)

    def datastore(self, name: str) -> DatastoreConfig:
        for d in self.datastores:
            if d.name == name:
                return d.env_overridden()
        raise KeyError(name)
