"""Dead-code guard: every top-level def/class of the package is referenced.

Pure-Python, no Spark. Parses the package, the entry points
(`bench.py`, `__spark_entry__.py`), `scripts/`, `tests/` and `perfbench/`,
and collects every `Name`, `Attribute` and import-alias identifier. A
top-level definition counts as used only when its name appears OUTSIDE its
own body (recursion is not a caller). A name that nothing references is
dead: delete it, or add it to ALLOWED with a one-line reason.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "setsm_postprocessing_python_spark"
SOURCES = [PKG, REPO / "bench.py", REPO / "__spark_entry__.py",
           REPO / "scripts", REPO / "tests", REPO / "perfbench"]

# name -> one-line reason it stays without a caller
ALLOWED: dict[str, str] = {}


def _files():
    for src in SOURCES:
        yield from ([src] if src.is_file() else sorted(src.rglob("*.py")))


def _refs(node: ast.AST) -> Counter:
    names = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names[n.id] += 1
        elif isinstance(n, ast.Attribute):
            names[n.attr] += 1
        elif isinstance(n, ast.alias):
            names[n.name.rsplit(".", 1)[-1]] += 1
            if n.asname:
                names[n.asname] += 1
    return names


def test_every_package_definition_has_a_reference():
    defined: dict[str, Path] = {}
    total, own = Counter(), Counter()
    for path in _files():
        tree = ast.parse(path.read_text(), filename=str(path))
        total += _refs(tree)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                own[node.name] += _refs(node)[node.name]
                if PKG in path.parents:
                    defined[node.name] = path.relative_to(REPO)
    dead = sorted(f"{path}:{name}" for name, path in defined.items()
                  if total[name] - own[name] == 0 and name not in ALLOWED)
    assert not dead, f"unreferenced top-level definitions: {dead}"
