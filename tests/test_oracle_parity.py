"""Every driver query against its DuckDB oracle, inside pytest.

`test_oracle_parity` runs each `__spark_entry__.queries()` entry at
sf0.001 and compares it with `oracle_sql()` through
scripts/oracle_parity.py's `mismatch` (oracle column types, columns,
row count, order-insensitive values). The langid oracle alone takes
minutes to plan, so it runs once per session, here.

`test_perfbench_oracle_cache_is_current` keeps perfbench's cached
oracle answers keyed to the current oracle SQL.

`test_adversarial_parity` reruns the kernels whose Column-algebra twins
are gone (sentiment, keywords_topk) over an sf dir whose documents table
gains one extra row group of adversarial texts: empty and
whitespace-only rows (also as the last row of every partition),
NBSP, astral and non-Latin scripts, keyword edge cases and 300 seeded
lexicon-dense texts.
"""

import hashlib
import json
import os
import random
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entry

ROOT = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(ROOT / "scripts"), str(ROOT / "tests")]
import oracle_parity  # noqa: E402
from test_textstats import ADVERSARIAL_TEXTS  # noqa: E402

SF = "/root/testdata/sf0.001"
ORACLES = entry.oracle_sql()

KEYWORD_TEXTS = [
    "alpha beta alpha Gamma beta alpha of the to in",
    "x",
    "tie tie toe toe moon moon",
    "quickly running speeded feeling ceiling seed",
    "the market the report a summit of data",
    "storm Storm STORM sTorm storm",
    "ab cd ab cd ab cd",
    "solo",
    "budget report",
    "three word doc",
    "the runner was running quickly past the tower while the "
    "tower meeting heard Paris said nothing about the tower",
    "economic growth economic growth running quickly "
    "budget meeting budget meeting",
    "WWF rapport pollution G7 Paris climat "
    "ECONOMIE ECONOMIE ECONOMIE mesures concretes",
    "zebra apple zebra apple mango",
    "annual budget report annual budget report annual budget "
    "report city council city council",
]

TRAILING_BLANKS = ("", "   ", "\t")


def _lexicon_dense_texts(n: int = 300, seed: int = 45054) -> list[str]:
    """Seeded random texts drawn mostly from the sentiment lexicon."""
    rng = random.Random(seed)
    vocab = ["good", "bad", "fast", "slow", "great", "error", "dup",
             "merge", "big", "small", "filler", "words", ""]
    return [" ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 30)))
            for _ in range(n)]


def _run(spark, con, name: str, sf_dir: str) -> str | None:
    sdf = entry.queries()[name](spark, sf_dir)
    rows = [tuple(r) for r in sdf.collect()]
    return oracle_parity.mismatch(sdf.columns, rows, con.sql(ORACLES[name]))


@pytest.fixture(scope="module")
def duck():
    con = oracle_parity.duckdb_views(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(entry.queries()))
def test_oracle_parity(spark, duck, name):
    problem = _run(spark, duck, name, SF)
    assert problem is None, f"{name}: {problem}"


def test_perfbench_oracle_cache_is_current():
    """perfbench/oracle_rows.json keys each cached DuckDB answer by the
    sha1 of the query's oracle SQL; a stale key makes every analytics
    bench run re-run that oracle (the langid one alone for minutes)."""
    cache = json.loads((ROOT / "perfbench" / "oracle_rows.json").read_text())
    stale = [q for q, hit in cache["queries"].items()
             if hashlib.sha1(ORACLES[q].encode()).hexdigest() != hit["sql"]]
    assert cache["queries"] and stale == []


@pytest.fixture(scope="session")
def adversarial_sf(spark, tmp_path_factory):
    """sf0.001 with adversarial documents appended as one row group;
    every partition `_load` makes of it ends with a blank row."""
    out = tmp_path_factory.mktemp("adversarial_sf")
    for t in entry.TABLES:
        if t != "documents":
            os.symlink(f"{SF}/{t}.parquet", out / f"{t}.parquet")
    base = pq.read_table(f"{SF}/documents.parquet")
    texts = ([t for _, t in ADVERSARIAL_TEXTS] + KEYWORD_TEXTS
             + _lexicon_dense_texts() + ["astral 𝔘𝔫𝔦 😀 end"])
    next_id = max(base["doc_id"].to_pylist()) + 1
    ids = list(range(next_id, next_id + len(texts)))
    # blank rows go last, at least one per hash partition of the spread
    n_parts = spark.sparkContext.defaultParallelism
    start = next_id + len(texts)
    cand = spark.range(start, start + 64 * n_parts).select(
        "id", F.expr(f"pmod(hash(id), {n_parts})").alias("p")).collect()
    for p in range(n_parts):
        hits = sorted(r.id for r in cand if r.p == p)[:len(TRAILING_BLANKS)]
        assert len(hits) == len(TRAILING_BLANKS), p
        ids += hits
        texts += TRAILING_BLANKS
    extra = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": ["en"] * len(ids),
        "source": ["adversarial"] * len(ids),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }).select(base.column_names).cast(base.schema)
    with pq.ParquetWriter(out / "documents.parquet", base.schema) as w:
        w.write_table(base)
        w.write_table(extra)
    d = str(out)
    assert pq.ParquetFile(f"{d}/documents.parquet").num_row_groups == 2

    placed = entry._load(spark, d, "documents").select(
        "text", F.spark_partition_id().alias("p"),
        F.monotonically_increasing_id().alias("o"),
    ).collect()
    last: dict[int, tuple[int, str]] = {}
    for r in placed:
        if r.p not in last or r.o > last[r.p][0]:
            last[r.p] = (r.o, r.text)
    assert len(last) > 1
    assert all(t.strip() == "" for _, t in last.values()), last
    return d


@pytest.fixture(scope="module")
def adversarial_duck(adversarial_sf):
    con = oracle_parity.duckdb_views(adversarial_sf)
    yield con
    con.close()


@pytest.mark.parametrize("name", ["sentiment", "keywords_topk"])
def test_adversarial_parity(spark, adversarial_sf, adversarial_duck, name):
    problem = _run(spark, adversarial_duck, name, adversarial_sf)
    assert problem is None, f"{name}: {problem}"
