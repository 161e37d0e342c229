"""Static dead-code guard: every undecorated top-level function or class
in the package must be referenced by name somewhere outside its own
definition — in the package, the tests, the tools, the benchmark, or the
two entry scripts. Decorated definitions are exempt: registry ``q_*``
functions are reached through ``@register``, not by name.

Pure AST pass (no Spark), well under a second."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "sna_pyspark_graphframes_spark"
SEARCH = [PACKAGE, ROOT / "tests", ROOT / "tools", ROOT / "perfbench"]
SCRIPTS = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _sources() -> list[Path]:
    files = [p for d in SEARCH if d.is_dir() for p in sorted(d.rglob("*.py"))]
    return files + [p for p in SCRIPTS if p.is_file()]


def _references(tree: ast.Module) -> list[tuple[str, str | None]]:
    """``(name, owner)`` for every identifier use in ``tree``: names,
    attribute accesses, imported names and identifier-shaped string
    constants (``getattr`` / ``__all__``). ``owner`` is the top-level
    definition the use sits in, or ``None`` at module level."""
    refs: list[tuple[str, str | None]] = []
    for top in tree.body:
        owner = (
            top.name
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            else None
        )
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                refs.append((node.id, owner))
            elif isinstance(node, ast.Attribute):
                refs.append((node.attr, owner))
            elif isinstance(node, ast.alias):
                refs.append((node.name.rsplit(".", 1)[-1], owner))
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.isidentifier()
            ):
                refs.append((node.value, owner))
    return refs


def dead_helpers() -> list[str]:
    """``module.name`` of every undecorated top-level def in the package
    that nothing references outside its own body."""
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in _sources()}
    total: Counter[str] = Counter()  # uses of a name anywhere
    own: Counter[tuple[Path, str]] = Counter()  # uses inside its own def
    for path, tree in trees.items():
        for name, owner in _references(tree):
            total[name] += 1
            if owner == name:
                own[path, name] += 1
    dead = []
    for path, tree in trees.items():
        if PACKAGE not in path.parents:
            continue
        for top in tree.body:
            if not isinstance(
                top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or top.decorator_list:
                continue
            if total[top.name] == own[path, top.name]:
                mod = path.relative_to(PACKAGE).with_suffix("")
                dead.append(f"{'.'.join(mod.parts)}.{top.name}")
    return sorted(dead)


def test_no_unreferenced_top_level_helpers():
    assert dead_helpers() == []
