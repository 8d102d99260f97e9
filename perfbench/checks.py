"""Output checks, run outside the timed window.

Crawl rounds are checked against the scheduler's invariants by reading
the committed checkpoint tables straight from parquet. Analytics results
are compared with ``__spark_entry__.oracle_sql()`` run on DuckDB, using
``scripts/oracle_parity.py``'s normalisation.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from collections import Counter

import pyarrow.dataset as ds
import pyarrow.parquet as pq


def row_count(store_root: str, kind: str, round_no: int) -> int:
    """Rows of one committed table, from the parquet footers."""
    return ds.dataset(os.path.join(store_root, kind, f"round={round_no}")).count_rows()


def read_round(store_root: str, kind: str, round_no: int, columns: list[str]) -> list[dict]:
    path = os.path.join(store_root, kind, f"round={round_no}")
    return pq.read_table(path, columns=columns).to_pylist()


def wave_violations(wave: list[dict], results: list[dict], earlier: set[str],
                    host_budget: int) -> list[str]:
    """Broken invariants of one committed round (empty when it is sound).

    ``wave`` rows carry url, pos, priority, seq, host; ``results`` rows
    url and pos; ``earlier`` holds every URL of the earlier waves."""
    out = []
    wave = sorted(wave, key=lambda r: r["pos"])
    urls = [r["url"] for r in wave]
    if len(set(urls)) != len(urls):
        out.append("a URL appears twice in the wave")
    again = earlier.intersection(urls)
    if again:
        out.append(f"{len(again)} URLs were scheduled in an earlier wave")
    if [r["pos"] for r in wave] != list(range(len(wave))):
        out.append("wave positions are not 0..n-1")
    keys = [(r["priority"], r["seq"]) for r in wave]
    if keys != sorted(keys):
        out.append("wave is not ordered by (priority, seq)")
    over = {h: n for h, n in Counter(r["host"] for r in wave).items() if n > host_budget}
    if over:
        out.append(f"{len(over)} hosts exceed the budget of {host_budget}")
    if sorted((r["url"], r["pos"]) for r in results) != sorted(
            (r["url"], r["pos"]) for r in wave):
        out.append("results rows do not match the wave")
    return out


def check_crawl(store_root: str, rounds: list[int], host_budget: int,
                committed: dict[int, int]) -> dict[int, list[str]]:
    """Violations per round; ``committed[r]`` is the manifest's
    ``last_round`` read right after round ``r`` returned."""
    earlier: set[str] = set()
    out = {}
    for r in rounds:
        wave = read_round(store_root, "waves", r, ["url", "pos", "priority", "seq", "host"])
        results = read_round(store_root, "results", r, ["url", "pos"])
        bad = wave_violations(wave, results, earlier, host_budget)
        if committed.get(r) != r:
            bad.append(f"manifest last_round is {committed.get(r)}, not {r}")
        out[r] = bad
        earlier.update(row["url"] for row in wave)
    return out


ORACLE_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_rows.json")


def _sha(data: bytes) -> str:
    return hashlib.sha1(data).hexdigest()


def data_digest(data_dir: str, tables: list[str]) -> str:
    h = hashlib.sha1()
    for t in sorted(tables):
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class Oracle:
    """DuckDB over the workload's tables.

    Rows are compared as digests of ``oracle_parity.df_rows``. DuckDB
    answers come from ``oracle_rows.json`` when it was made from the same
    tables and the same oracle SQL (the langid oracle alone runs for
    minutes); otherwise DuckDB runs the query."""

    def __init__(self, data_dir: str, tables: list[str]):
        import duckdb

        sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
        from oracle_parity import df_rows

        import __spark_entry__ as entry

        self._df_rows = df_rows
        self._sql = entry.oracle_sql()
        self.cached = {}
        if os.path.exists(ORACLE_CACHE):
            with open(ORACLE_CACHE) as fh:
                cache = json.load(fh)
            if cache["data"] == data_digest(data_dir, tables):
                self.cached = cache["queries"]
        self.con = duckdb.connect()
        for t in tables:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def digest(self, cols: list[str], rows: list[tuple]) -> str:
        return _sha(repr(self._df_rows([c.lower() for c in cols], rows)).encode())

    def expected(self, name: str) -> str:
        sql = self._sql[name]
        hit = self.cached.get(name)
        if hit and hit["sql"] == _sha(sql.encode()):
            return hit["rows"]
        rel = self.con.sql(sql)
        return self.digest(rel.columns, rel.fetchall())


def write_oracle_cache(work_dir: str) -> None:
    """Run every headline oracle on DuckDB over the analytics tables and
    store the row digests in ``oracle_rows.json``."""
    import tables
    import workloads

    data = os.path.join(work_dir, "tables")
    tables.write_tables(data, workloads.ANALYTICS_DATA_SEED, workloads.ANALYTICS_SCALE)
    oracle = Oracle(data, list(tables.ROWS))
    oracle.cached = {}
    out = {"data": data_digest(data, list(tables.ROWS)), "queries": {}}
    for name in workloads.headline():
        out["queries"][name] = {"sql": _sha(oracle._sql[name].encode()),
                                "rows": oracle.expected(name)}
    with open(ORACLE_CACHE, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    # python3 perfbench/checks.py — refresh oracle_rows.json (minutes)
    import shutil
    import tempfile

    sys.path[:0] = [os.getcwd(), os.path.dirname(os.path.abspath(__file__))]
    tmp = tempfile.mkdtemp(dir=os.getcwd(), prefix=".perfbench_oracle_")
    try:
        write_oracle_cache(tmp)
    finally:
        shutil.rmtree(tmp)
