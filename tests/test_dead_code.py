"""Dead-code guard: every module-level function in the package must be
referenced somewhere outside its own ``def`` line.

Pure AST + text scan, no Spark session.  A reference is any
word-boundary occurrence of the name in the package, ``scripts/``,
``tests/``, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py`` —
calls, imports, ``__all__`` entries and docstring mentions all count.
Decorated functions are exempt: a decorator such as ``@register`` or
``@q`` is itself the reference that wires them in.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "ensembl_datacheck_spark"
SEARCH_ROOTS = ("ensembl_datacheck_spark", "scripts", "tests", "perfbench")
SEARCH_FILES = ("bench.py", "__spark_entry__.py")

_WORD = re.compile(r"\w+")


def _search_files() -> list[Path]:
    files = [p for root in SEARCH_ROOTS for p in (REPO / root).rglob("*.py")]
    return files + [REPO / f for f in SEARCH_FILES if (REPO / f).exists()]


def unreferenced_functions() -> list[str]:
    """``module:name`` of every undecorated module-level ``def`` in the
    package with no word-boundary reference outside its ``def`` line."""
    words: Counter[str] = Counter()
    for path in _search_files():
        words.update(_WORD.findall(path.read_text(encoding="utf-8")))
    orphans = []
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text(encoding="utf-8")
        lines = src.splitlines()
        for node in ast.parse(src).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.decorator_list:
                continue
            on_def_line = _WORD.findall(lines[node.lineno - 1]).count(node.name)
            if words[node.name] <= on_def_line:
                rel = path.relative_to(REPO).with_suffix("")
                orphans.append(f"{'.'.join(rel.parts)}:{node.name}")
    return orphans


def test_no_unreferenced_module_functions():
    orphans = unreferenced_functions()
    assert orphans == [], (
        "module-level functions with no reference outside their def "
        f"line (delete them, or call them): {orphans}"
    )
