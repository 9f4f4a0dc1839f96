"""Reachability guard: every top-level function and class of the package,
and every method of those classes, is reached from the program's traffic.

The roots are the query contract (``__spark_entry__.py``), the CLI
(``__main__.py``), the benchmark (``perfbench/``), the bench scripts and the
module-level code of every package module. From the roots the scan follows
names through the bodies of the definitions it reaches, until nothing new
turns up. A name is ``foo`` or ``x.foo``, an identifier inside a string
(``__all__`` entries, ``"module:attr"`` paths, docstrings) or a name a root
file imports. Matching is by bare name, so a name shared by two definitions
keeps both: the scan can miss an orphan, never invent one. Tests are not
roots: a definition that only a test calls is dead code.

A method is reached when its class is and its name turns up. Dunders (the
language calls them) and methods registered by a decorator that takes
arguments (pydantic validators) count as part of the class body.

Pure ``ast`` work; no Spark session.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "data_sync_tool_spark"
ROOT_FILES = [
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    REPO / "bench_extra.py",
    REPO / "bench_scale10.py",
    PACKAGE / "__main__.py",
    *sorted((REPO / "perfbench").glob("*.py")),
]

# Unreached but kept: ``module:name``, or a module path for a whole module.
ALLOWED = {
    "operators/pq.py:pq_topk_indexed": "the only reader of the index `index --kind pq` writes",
    "operators/pq.py:pq_topk_refined": "pinned by the top-k kernel equality and plan tests",
    "streaming/cdc.py:MetricsBridgeListener": "where per-phase records are to be emitted",
    "sources/adapters.py": "the reference's adapter factory, JDBC and sink surface",
    "sources/lake.py:LakeTable.build_blooms":
        "the only way to index files written before bloom_filters=True",
    "streaming/cdc.py:CdcPipeline.resume_catchup_lsn":
        "a restarted process regains bootstrap()'s catch-up filter from lineage",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _names(node: ast.AST, imports: bool = False) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(_IDENT.findall(n.value))
        elif imports and isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
    return out


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _exempt(fn: ast.AST) -> bool:
    """Called by the language (dunders) or by the framework a decorator
    registered it with (``@field_validator("x")``, ``@model_validator(...)``)."""
    dunder = fn.name.startswith("__") and fn.name.endswith("__")
    return dunder or any(isinstance(d, ast.Call) for d in fn.decorator_list)


def _class_names(cls: ast.ClassDef) -> set[str]:
    """The names a class reaches by being reached: its bases, decorators,
    class attributes and exempt methods — not its other methods' bodies."""
    out: set[str] = set()
    for node in [*cls.bases, *cls.keywords, *cls.decorator_list]:
        out |= _names(node)
    for stmt in cls.body:
        if not (isinstance(stmt, _FUNCS) and not _exempt(stmt)):
            out |= _names(stmt)
    return out


@functools.cache
def _scan() -> tuple[dict[str, int], set[str]]:
    """(``module:name`` or ``module:Class.method`` → line of each package
    definition, the set of those the roots reach)."""
    # key → (bare name, owner class key or None, names its body reaches)
    defs: dict[str, tuple[str, str | None, set[str]]] = {}
    lines: dict[str, int] = {}
    frontier: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for stmt in ast.parse(path.read_text(encoding="utf-8")).body:
            key = f"{rel}:{getattr(stmt, 'name', '')}"
            if isinstance(stmt, _FUNCS):
                defs[key] = (stmt.name, None, _names(stmt))
            elif isinstance(stmt, ast.ClassDef):
                defs[key] = (stmt.name, None, _class_names(stmt))
                for fn in stmt.body:
                    if isinstance(fn, _FUNCS) and not _exempt(fn):
                        defs[f"{key}.{fn.name}"] = (fn.name, key, _names(fn))
                        lines[f"{key}.{fn.name}"] = fn.lineno
            else:
                frontier |= _names(stmt)
                continue
            lines[key] = stmt.lineno
    for path in ROOT_FILES:
        frontier |= _names(ast.parse(path.read_text(encoding="utf-8")), imports=True)

    reached: set[str] = set()
    seen: set[str] = set()
    while True:
        seen |= frontier
        new = [k for k, (name, owner, _) in defs.items()
               if k not in reached and name in seen and (owner is None or owner in reached)]
        if not new:
            return lines, reached
        reached.update(new)
        frontier = set().union(*(defs[k][2] for k in new)) - seen


def _allowed(key: str) -> bool:
    module, _, name = key.partition(":")
    return key in ALLOWED or module in ALLOWED or f"{module}:{name.partition('.')[0]}" in ALLOWED


def test_every_definition_is_reached():
    defs, reached = _scan()
    orphans = sorted(f"{k} (line {defs[k]})" for k in defs if k not in reached and not _allowed(k))
    assert not orphans, "unreached from the roots: " + ", ".join(orphans)


def test_allowlist_holds_only_unreached_definitions():
    defs, reached = _scan()
    unreached = {k for k in defs if k not in reached}
    stale = sorted(
        a for a in ALLOWED
        if a not in unreached and not any(k.partition(":")[0] == a for k in unreached)
    )
    assert not stale, "allowlist entries that are gone or now reached: " + ", ".join(stale)
