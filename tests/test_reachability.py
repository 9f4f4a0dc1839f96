"""Reachability guard: every top-level function and class of the package is
reached from the program's traffic.

The roots are the query contract (``__spark_entry__.py``), the CLI
(``__main__.py``), the benchmark (``perfbench/``), the bench scripts and the
module-level code of every package module. From the roots the scan follows
names through the bodies of the definitions it reaches, until nothing new
turns up. A name is ``foo`` or ``x.foo``, an identifier inside a string
(``__all__`` entries, ``"module:attr"`` paths, docstrings) or a name a root
file imports. Matching is by bare name, so a name shared by two definitions
keeps both: the scan can miss an orphan, never invent one. Tests are not
roots: a definition that only a test calls is dead code.

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


@functools.cache
def _scan() -> tuple[dict[str, int], set[str]]:
    """(``module:name`` → line of each top-level package definition, the set
    of those the roots reach)."""
    defs: dict[str, ast.AST] = {}
    frontier: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for stmt in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{rel}:{stmt.name}"] = stmt
            else:
                frontier |= _names(stmt)
    for path in ROOT_FILES:
        frontier |= _names(ast.parse(path.read_text(encoding="utf-8")), imports=True)

    reached: set[str] = set()
    seen: set[str] = set()
    while frontier:
        seen |= frontier
        new = [k for k, node in defs.items() if k not in reached and node.name in frontier]
        reached.update(new)
        frontier = set().union(*(_names(defs[k]) for k in new)) - seen
    return {k: node.lineno for k, node in defs.items()}, reached


def _allowed(key: str) -> bool:
    return key in ALLOWED or key.partition(":")[0] in ALLOWED


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
