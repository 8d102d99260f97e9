"""Schema inference stays in its readers: a pure-AST pass, no Spark.

`spark.read.parquet(path)` without a schema runs Spark's schema
inference, a one-task job that reads a footer, on every call. The
package and `__spark_entry__.py` read parquet through readers that run
it once per table and then pass the known schema
(`spark.read.schema(s).parquet(...)`). A plain `.read.parquet(` call
anywhere else would bring the per-read job back.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "horseman_article_parser_spark"

# (file, enclosing function) allowed to infer: each runs it once per table
INFERRING_READERS = {
    ("__spark_entry__.py", "_read_table"),
    ("horseman_article_parser_spark/plans/checkpoint.py", "CrawlStore.read"),
}


def _inferring_reads(path: Path) -> list[tuple[str, int]]:
    """(enclosing qualified name, line) of every `<x>.read.parquet(...)`."""
    found = []

    def visit(node: ast.AST, scope: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                visit(child, f"{scope}.{child.name}" if scope else child.name)
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "parquet"
                    and isinstance(child.func.value, ast.Attribute)
                    and child.func.value.attr == "read"):
                found.append((scope, child.lineno))
            visit(child, scope)

    visit(ast.parse(path.read_text(encoding="utf-8"), filename=str(path)), "")
    return found


def test_only_the_schema_readers_infer():
    files = [ROOT / "__spark_entry__.py", *sorted(PACKAGE.rglob("*.py"))]
    stray = [
        f"{rel}:{line} in {scope or '<module>'}"
        for path in files
        if "__pycache__" not in path.parts
        for rel in [path.relative_to(ROOT).as_posix()]
        for scope, line in _inferring_reads(path)
        if (rel, scope) not in INFERRING_READERS
    ]
    assert not stray, (
        "spark.read.parquet without a schema outside the schema readers "
        "(starts an inference job per call):\n" + "\n".join(stray))


def test_the_guard_sees_a_plain_read(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "def f(spark, p, s):\n"
        "    a = spark.read.parquet(p)\n"
        "    b = spark.read.schema(s).parquet(p)\n"
        "    return self.spark.read.parquet(p, p)\n")
    assert _inferring_reads(probe) == [("f", 2), ("f", 4)]
