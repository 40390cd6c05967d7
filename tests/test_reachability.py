"""Every top-level ``def``/``class`` of the package is reached from code
that runs outside the tests, or is kept by a stated decision.

Pure AST, no Spark. A *root* is any code outside ``tests/``: the
module-level statements of every package module (decorators such as
``@register(...)`` included, so a registered query is reached), and all
of ``__spark_entry__.py``, ``bench.py``, ``tools/`` and ``perfbench/``.
A package definition is *live* when a live scope refers to its name
(``name`` or ``mod.name``); the body of a live definition is itself
scanned, to a fixed point. Names resolve package-wide, so a reference
to ``read`` keeps every definition called ``read``: the scan can miss
dead code, and would flag live code only if a string (``getattr``)
reached it, which nothing here does. Imports, ``__all__`` and
docstrings are not references: a re-export or a mention keeps nothing.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

# Unreached by design: each stays with the reason it stays. A name here
# that the scan finds live fails the test too, so the list cannot rot.
ALLOWED = {
    # Exported streaming API (`dbtransfer_spark.streaming`): the
    # file-granular and observable syncs build on the streaming sync.
    "incremental_sync": "exported streaming API: the checkpointed file sync",
    "windowed_stream": "exported streaming API: watermarked tumbling windows",
    "sessionized_stream": "exported streaming API: gap-based sessions",
    "read_event_stream": "exported streaming API: the file event source",
    "minhash_signatures": "the reference the stored-signature tests compare against",
    "read_jsonl": "schema-on-read scale path for JSON-lines inputs",
    "read_csv": "schema-on-read scale path for CSV inputs",
    "compact_small_files": "maintenance operation that file-level versions will use",
    # plans/checks test support: the plan helpers the plan tests assert
    # with, and the declared input-expectation suites they run.
    "pushed_filters": "plan-test helper: a scan's pushed filters",
    "read_schema_columns": "plan-test helper: a scan's read schema",
    "has_operator": "plan-test helper: an operator in the plan",
    "has_broadcast_join": "plan-test helper: a broadcast join in the plan",
    "count_exchanges": "plan-test helper: the shuffle count",
    "asof_single_scan_input_expectations": "input contract of the single-scan as-of rewrite",
    "gap_fill_forward_input_expectations": "input contract of the gap-fill rewrite",
}


def _refs(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def scan():
    """(definition name -> its 'module:line' sites, live names, the
    definitions by name)."""
    defs: dict[str, list[ast.AST]] = {}
    sites: dict[str, list[str]] = {}
    roots: set[str] = set()
    for path in sorted((REPO / "dbtransfer_spark").rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append(stmt)
                sites.setdefault(stmt.name, []).append(
                    f"{path.relative_to(REPO)}:{stmt.lineno}")
                for deco in stmt.decorator_list:
                    roots |= _refs(deco)
                    if "register" in _refs(deco):
                        roots.add(stmt.name)
                if isinstance(stmt, ast.ClassDef):
                    for base in stmt.bases:
                        roots |= _refs(base)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots |= _refs(stmt)
    outside = [REPO / "__spark_entry__.py", REPO / "bench.py",
               *(REPO / "tools").rglob("*.py"), *(REPO / "perfbench").rglob("*.py")]
    for path in outside:
        if path.exists() and "tests" not in path.relative_to(REPO).parts:
            roots |= _refs(ast.parse(path.read_text(), str(path)))
    return sites, _closure(roots & defs.keys(), defs), defs


def _closure(seeds: set[str], defs: dict[str, list[ast.AST]]) -> set[str]:
    """The seeds plus every definition their bodies refer to, transitively."""
    reached: set[str] = set()
    todo = set(seeds)
    while todo:
        name = todo.pop()
        reached.add(name)
        for node in defs[name]:
            todo |= (_refs(node) & defs.keys()) - reached
    return reached


def test_every_package_definition_is_reached():
    sites, live, defs = scan()
    kept = _closure(ALLOWED.keys() & defs.keys(), defs)
    dead = {n: s for n, s in sites.items() if n not in live | kept}
    assert not dead, "unreached outside tests/: " + ", ".join(
        f"{n} ({', '.join(s)})" for n, s in sorted(dead.items()))
    stale = sorted(n for n in ALLOWED if n in live or n not in sites)
    assert not stale, f"allowlisted but live or gone: {stale}"


def test_registering_a_name_twice_raises():
    from dbtransfer_spark.registry import QUERIES, register

    name = next(iter(QUERIES))
    with pytest.raises(ValueError, match=name):
        register(name)(lambda spark, sf: None)
