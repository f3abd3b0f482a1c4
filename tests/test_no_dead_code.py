"""Dead-code guard: every top-level function and class in the package is
used somewhere in the repo's Python files.

A name counts as used when it appears outside its own definition as a
variable (``ast.Name``), an attribute (``ast.Attribute.attr``) or an import
alias. Names reached only through strings (``getattr``, SQL, docs) do not
count, so such a helper needs a real reference or has to go. A package
``__init__.py`` re-export is not a use either: it only names the function
again, so a re-exported helper still needs a caller.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "safe_zone_spark"


def _python_files() -> list[Path]:
    dirs = ("safe_zone_spark", "tests", "jobs", "scripts", "perfbench")
    return sorted(
        [p for d in dirs for p in (ROOT / d).rglob("*.py")] + list(ROOT.glob("*.py"))
    )


def _used_names(tree: ast.AST, aliases: bool):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.alias) and aliases:
            yield node.name.rpartition(".")[2], node.lineno


def unreferenced_definitions() -> list[str]:
    uses: dict[str, list[tuple[Path, int]]] = {}
    defs: list[tuple[Path, ast.stmt]] = []
    for path in _python_files():
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        in_package = path.is_relative_to(PACKAGE)
        for name, line in _used_names(tree, not (in_package and path.name == "__init__.py")):
            uses.setdefault(name, []).append((path, line))
        if in_package:
            defs += [
                (path, node) for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            ]
    return [
        f"{path.relative_to(ROOT)}:{node.lineno} {node.name}"
        for path, node in defs
        if all(
            p == path and node.lineno <= line <= node.end_lineno
            for p, line in uses.get(node.name, ())
        )
    ]


def test_every_package_definition_is_referenced():
    dead = unreferenced_definitions()
    assert not dead, "referenced nowhere: " + ", ".join(dead)
