"""Unreachable code stays out: a pure-AST pass over the repo, no Spark.

(a) No module in the package, `__spark_entry__.py`, `bench_extra.py` or
    `scripts/` imports a name it never uses. Package `__init__.py`
    re-exports and import lines marked `# noqa` are exempt.
(b) Every top-level `def` and `class` of the package is used by name
    somewhere in the repo outside its own definition. Being imported is
    not a use.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "horseman_article_parser_spark"


@pytest.fixture(scope="module")
def trees() -> dict[Path, ast.Module]:
    """Every .py file of the repo, parsed once for both tests."""
    return {
        p: ast.parse(p.read_text(encoding="utf-8"), filename=str(p))
        for p in sorted(ROOT.rglob("*.py"))
        if not {"__pycache__", ".claude"} & set(p.relative_to(ROOT).parts)
    }


def _uses(node: ast.AST) -> Counter:
    """Identifiers read under `node`: names and attribute names. Import
    aliases are not nodes of either kind, so importing is not a use."""
    return Counter(
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    )


def _unused_imports(path: Path, tree: ast.Module) -> list[str]:
    lines = path.read_text(encoding="utf-8").splitlines()
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        for alias in node.names:
            if any("# noqa" in lines[i - 1] for i in {node.lineno, alias.lineno}):
                continue
            bound = alias.asname or alias.name.split(".")[0]
            if bound != "*" and bound not in used:
                out.append(f"{path.relative_to(ROOT)}:{alias.lineno} {bound}")
    return out


def test_no_unused_imports(trees):
    files = [p for p in trees
             if PACKAGE in p.parents and p.name != "__init__.py"
             or p.parent == ROOT / "scripts"
             or p in (ROOT / "__spark_entry__.py", ROOT / "bench_extra.py")]
    unused = [u for p in files for u in _unused_imports(p, trees[p])]
    assert not unused, "imported but never used:\n" + "\n".join(unused)


def test_every_package_definition_is_used(trees):
    uses = {p: _uses(tree) for p, tree in trees.items()}
    dead = []
    for path, tree in trees.items():
        if PACKAGE not in path.parents:
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            name = node.name
            elsewhere = any(c[name] for p, c in uses.items() if p != path)
            # in its own file, a use inside its own body (recursion) is not one
            if not elsewhere and uses[path][name] <= _uses(node)[name]:
                dead.append(f"{path.relative_to(ROOT)}:{node.lineno} {name}")
    assert not dead, "defined but never used:\n" + "\n".join(dead)
