"""One-crossing guard: the package and the entry module cross into Python
only through ``safe_zone_spark/crossing.py`` (Arrow in, Arrow out).

The walk fails on any ``mapInPandas``, ``pandas_udf`` or ``applyInPandas``
used as an attribute, a name, an import or a decorator in
``safe_zone_spark/`` or ``__spark_entry__.py``. The one exception is
``applyInPandasWithState`` in ``streaming/scrub_stream.py``: Spark has no
Arrow-typed form of it with the same state API.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PANDAS_CROSSINGS = {"mapInPandas", "pandas_udf", "applyInPandas", "applyInPandasWithState"}
ALLOWED = {("safe_zone_spark/streaming/scrub_stream.py", "applyInPandasWithState")}


def pandas_crossings() -> list[str]:
    found = []
    for path in sorted([*(ROOT / "safe_zone_spark").rglob("*.py"), ROOT / "__spark_entry__.py"]):
        rel = str(path.relative_to(ROOT))
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"), filename=rel)):
            if isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.alias):
                name = node.name.rpartition(".")[2]
            else:
                continue
            if name in PANDAS_CROSSINGS and (rel, name) not in ALLOWED:
                found.append(f"{rel}:{node.lineno} {name}")
    return found


def test_python_crossings_go_through_arrow():
    found = pandas_crossings()
    assert not found, f"{len(found)} pandas crossings: " + ", ".join(found)
