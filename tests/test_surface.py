"""Library surface without an entry point.

The top-level definitions in ``csv_etl_spark/`` that nothing the project
runs can reach must be exactly the names in COVERAGE.md's table "Library
surface without an entry point", each with its recorded decision.  A new
helper that only tests call fails here until it gets a row; so does a row
whose name became reachable or was removed.

Reach is a closure over names in the AST.  It starts from every name the
entry points use (the dashboard API, the CLI, the driver's query
registry, ``bench.py``, ``perfbench/`` and ``scripts/``) and from the
import-time statements of the package's modules, then adds the names
used in the body of each definition it reaches.  It matches bare names,
not modules, so it can only over-report reach; docstrings and comments
hold no names, so a mention in prose reaches nothing.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "csv_etl_spark"
ENTRY_POINTS = [PKG / "api.py", PKG / "cli.py", PKG / "__main__.py",
                ROOT / "__spark_entry__.py", ROOT / "bench.py",
                *sorted((ROOT / "perfbench").glob("*.py")),
                *sorted((ROOT / "scripts").glob("*.py"))]
TABLE = "## Library surface without an entry point"
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    return {n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(node) if isinstance(n, (ast.Name, ast.Attribute))}


def unreached() -> set[str]:
    """``<module>.<name>`` (module dotted under the package) of every
    top-level definition no entry point reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, DEFS):
                defs.setdefault(node.name, []).append((module, node))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= _names(node)
    for path in ENTRY_POINTS:
        roots |= _names(ast.parse(path.read_text()))
    reached, todo = set(), sorted(roots & defs.keys())
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for _, node in defs[name]:
                todo += sorted((_names(node) & defs.keys()) - reached)
    return {f"{module}.{name}" for name, found in defs.items() if name not in reached
            for module, _ in found if module not in ("api", "cli")}


def recorded() -> set[str]:
    """The first-column names of COVERAGE.md's table."""
    text = (ROOT / "COVERAGE.md").read_text()
    assert TABLE in text, f"COVERAGE.md has no '{TABLE}' section"
    section = text.split(TABLE, 1)[1].split("\n## ", 1)[0]
    return set(re.findall(r"^\| `([\w.]+)` \|", section, re.MULTILINE))


def test_every_unreached_definition_has_one_recorded_decision():
    found, rows = unreached(), recorded()
    assert not found - rows, f"unreached, with no COVERAGE.md row: {sorted(found - rows)}"
    assert not rows - found, f"COVERAGE.md rows for reached or removed names: {sorted(rows - found)}"
