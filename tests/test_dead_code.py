"""Unreachable code stays out: a pure-AST pass over the repo, no Spark.

(a) No module in the package, `__spark_entry__.py` or `scripts/`
    imports a name it never uses. Package `__init__.py`
    re-exports and import lines marked `# noqa` are exempt.
(b) Every top-level `def` and `class` of the package is used by name
    somewhere in the repo outside its own definition. Being imported is
    not a use.
(c) Every defaulted parameter of the package and `__spark_entry__.py`
    is set by some call in the repo, and every `CrawlConfig` field by
    some caller outside the scheduler.
(d) No defaulted parameter of the package and `__spark_entry__.py` is
    pinned: one that every call outside the tests passes the same fixed
    value (or leaves at its default) is a module constant instead.
"""

from __future__ import annotations

import ast
import re
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
             or p == ROOT / "__spark_entry__.py"]
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


def _embedded_scripts(tree: ast.Module):
    """Python programs held in `str.format` templates (a script run in a
    child interpreter), parsed with each `{field}` replaced by 0."""
    for n in ast.walk(tree):
        if (isinstance(n, ast.Constant) and isinstance(n.value, str)
                and re.search(r"^(import|from) \w", n.value, re.M)):
            src = re.sub(r"\{\w+(![rs])?\}", "0", n.value)
            try:
                yield ast.parse(src.replace("{{", "{").replace("}}", "}"))
            except SyntaxError:
                continue


@pytest.fixture(scope="module")
def calls(trees) -> list[tuple[Path, str, ast.Call]]:
    """(file, callee name, call) for every call in the repo, including
    those of embedded scripts. The callee name is a `Name`'s id or an
    `Attribute`'s attr."""
    out = []
    for path, tree in trees.items():
        for mod in (tree, *_embedded_scripts(tree)):
            for n in ast.walk(mod):
                if isinstance(n, ast.Call) and isinstance(n.func, (ast.Name, ast.Attribute)):
                    name = n.func.id if isinstance(n.func, ast.Name) else n.func.attr
                    out.append((path, name, n))
    return out


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef, method: bool):
    """(name, call position or None) of each parameter with a default.
    The position is the one a call passes it at, `self`/`cls` not
    counted; keyword-only parameters have none."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if method and pos and pos[0].arg in ("self", "cls") else 0
    out = [(p.arg, i - skip) for i, p in enumerate(pos)
           if i >= len(pos) - len(a.defaults)]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def _defs(tree: ast.Module):
    """(def, is_method) for every function of a module, nested ones too."""
    for n in ast.walk(tree):
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                          ast.AsyncFunctionDef)):
            for d in n.body:
                if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    yield d, isinstance(n, ast.ClassDef)


# fetch_page(n_hosts) stays unset: CrawlConfig.n_hosts is to be wired
# into the crawl's fetch, so seeds and rendered links share one host pool.
UNSET_EXEMPT = {"fetch_page(n_hosts)"}


def test_every_defaulted_parameter_is_set_by_some_call(trees, calls):
    """(c) Every parameter with a default, of every non-dunder `def` in
    the package and `__spark_entry__.py`, is set by at least one call
    in the repo (tests count): by keyword, by position, or through `*`
    (from its position on) or `**` unpacking. A parameter no call sets
    is a configuration nothing runs; its default is the code."""
    keywords: dict[str, set] = {}
    positions: dict[str, int] = {}  # most positional arguments passed
    for _, name, c in calls:
        kws = keywords.setdefault(name, set())
        kws |= {k.arg for k in c.keywords}  # None: `**` unpacking
        star = any(isinstance(a, ast.Starred) for a in c.args)
        positions[name] = max(positions.get(name, 0), 1 << 30 if star else len(c.args))
    unset = []
    for path, tree in trees.items():
        if PACKAGE not in path.parents and path != ROOT / "__spark_entry__.py":
            continue
        for fn, method in _defs(tree):
            if fn.name.startswith("__") and fn.name.endswith("__"):
                continue
            kws = keywords.get(fn.name, set())
            for arg, pos in _defaulted(fn, method):
                key = f"{fn.name}({arg})"
                if (arg in kws or None in kws or key in UNSET_EXEMPT
                        or pos is not None and pos < positions.get(fn.name, 0)):
                    continue
                unset.append(f"{path.relative_to(ROOT)}:{fn.lineno} {key}")
    assert not unset, "parameters no call sets:\n" + "\n".join(unset)


def test_every_crawl_config_field_is_set_outside_the_scheduler(trees, calls):
    """(c) Every CrawlConfig field is set by some caller outside
    `plans/crawl.py`: by keyword to `CrawlConfig(...)` or `replace(...)`,
    or as a key of a module-level `dict(...)` unpacked into
    `CrawlConfig(**...)`."""
    crawl = PACKAGE / "plans" / "crawl.py"
    cls = next(n for n in trees[crawl].body
               if isinstance(n, ast.ClassDef) and n.name == "CrawlConfig")
    fields = {s.target.id for s in cls.body if isinstance(s, ast.AnnAssign)}
    set_ = set()
    for path, name, c in calls:
        if path == crawl or name not in ("CrawlConfig", "replace"):
            continue
        set_ |= {k.arg for k in c.keywords}
        unpacked = {n.id for k in c.keywords if k.arg is None
                    for n in ast.walk(k.value) if isinstance(n, ast.Name)}
        for a in trees[path].body:
            if (isinstance(a, ast.Assign) and isinstance(a.value, ast.Call)
                    and getattr(a.value.func, "id", None) == "dict"
                    and any(getattr(t, "id", None) in unpacked for t in a.targets)):
                set_ |= {k.arg for k in a.value.keywords}
    assert fields <= set_, f"CrawlConfig fields no caller sets: {sorted(fields - set_)}"


def _is_test(path: Path) -> bool:
    rel = path.relative_to(ROOT)
    return (rel.parts[0] == "tests" or path.name == "conftest.py"
            or rel.parts[0] == "perfbench" and path.name.startswith("test_"))


def _fixed(e: ast.expr) -> bool:
    """A value no caller computes: a literal (a signed number, or a
    tuple, list, set, dict or frozenset of literals) or an UPPER_CASE
    module constant, bare or as a module attribute."""
    if isinstance(e, ast.Constant):
        return True
    if isinstance(e, ast.UnaryOp) and isinstance(e.operand, ast.Constant):
        return True
    if isinstance(e, (ast.Tuple, ast.List, ast.Set)):
        return all(map(_fixed, e.elts))
    if isinstance(e, ast.Dict):
        return None not in e.keys and all(map(_fixed, e.keys + e.values))
    if isinstance(e, ast.Call) and getattr(e.func, "id", None) == "frozenset":
        return not e.keywords and all(map(_fixed, e.args))
    name = e.id if isinstance(e, ast.Name) else getattr(e, "attr", None)
    return name is not None and name.isupper()


# Parameters that every non-test call pins, kept on purpose, and why.
PINNED_EXEMPT = {
    "sim_wave0(unique_hosts)": "the reference scheduler mirrors "
                               "CrawlConfig; tests replay the engine on it",
    "sim_crawl(default_host_budget)": "as sim_wave0(unique_hosts)",
    "sim_crawl(max_depth)": "as sim_wave0(unique_hosts)",
    "sim_crawl(streamed_seeds)": "as sim_wave0(unique_hosts)",
    "fetch_page(n_hosts)": "CrawlConfig.n_hosts is to be wired into the "
                           "crawl's fetch (ROADMAP item 2)",
    "build_images_table(partitions)": "tests set it low so small inputs "
                                      "reach the layout large ones have",
    "embedding_near_dups(max_bucket)": "tests set it low so small inputs "
                                       "reach the bucket cap",
    "start(max_files_per_trigger)": "matched by name only (writeStream's "
                                    "start()); tests ask for 1-file batches",
}


def test_no_defaulted_parameter_is_pinned(trees, calls):
    """(d) A defaulted parameter of a non-dunder `def` in the package or
    `__spark_entry__.py` is pinned when the calls of its name outside
    `tests/`, `perfbench/test_*.py` and `conftest.py` (there must be one)
    all pass it the same fixed value, by keyword or by position, or all
    leave it at a fixed default. Only tests could then reach another
    value: the parameter is a module constant, or a literal at its one
    use. A call through `*` or `**` unpacking passes an unknown value."""
    by_name: dict[str, list[ast.Call]] = {}
    for path, name, c in calls:
        if not _is_test(path):
            by_name.setdefault(name, []).append(c)
    pinned = []
    for path, tree in trees.items():
        if PACKAGE not in path.parents and path != ROOT / "__spark_entry__.py":
            continue
        for fn, method in _defs(tree):
            if fn.name.startswith("__") and fn.name.endswith("__"):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            defaults = dict(zip([p.arg for p in pos[len(pos) - len(a.defaults):]],
                                a.defaults))
            defaults |= {p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults)
                         if d is not None}
            cs = by_name.get(fn.name, [])
            for arg, at in _defaulted(fn, method):
                values = set()
                for c in cs:
                    if (any(k.arg is None for k in c.keywords)
                            or any(isinstance(x, ast.Starred) for x in c.args)):
                        values.add(None)
                        continue
                    kw = [k.value for k in c.keywords if k.arg == arg]
                    e = (kw[0] if kw else c.args[at]
                         if at is not None and at < len(c.args) else defaults[arg])
                    values.add(ast.dump(e) if _fixed(e) else None)
                if len(values) == 1 and None not in values:
                    pinned.append(f"{path.relative_to(ROOT)}:{fn.lineno} "
                                  f"{fn.name}({arg})")
    keys = {p.split(" ", 1)[1] for p in pinned}
    assert not set(PINNED_EXEMPT) - keys, (
        f"exempt but no longer pinned: {sorted(set(PINNED_EXEMPT) - keys)}")
    pinned = [p for p in pinned if p.split(" ", 1)[1] not in PINNED_EXEMPT]
    assert not pinned, ("parameters every non-test call pins to one value:\n"
                        + "\n".join(pinned))
