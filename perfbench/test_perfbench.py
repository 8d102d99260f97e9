"""Tests of the benchmark's own code.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402
import tables  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from horseman_article_parser_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]")
    yield s
    s.stop()


def test_crawl_config_matches_reference_simulator(spark, tmp_path):
    """A small run of the crawl config schedules the waves that
    ``reference_sim.sim_crawl`` schedules, and passes the benchmark's
    invariant checks.

    What the simulator cannot mirror: ``sim_crawl`` always applies
    uniqueByHost to wave 0, while the workload turns it off, so the seed
    list here has one URL per host, where the two agree. The wave, the
    host budget and the host count are shrunk for the pure-Python
    simulator; every other field is the workload's."""
    from horseman_article_parser_spark.datagen.frontier import SEED_SCHEMA, seed_urls
    from horseman_article_parser_spark.plans.crawl import CrawlScheduler
    from horseman_article_parser_spark.plans.reference_sim import sim_crawl, sim_wave0

    budget, n_hosts = 3, 30
    cfg = dataclasses.replace(workloads.crawl_config(), wave_size=40, round0_limit=40,
                              default_host_budget=budget, n_hosts=n_hosts)
    seeds = sim_wave0(seed_urls(300, n_hosts=n_hosts, seed=5), 10**6, unique_hosts=True)
    rounds = 3
    store = str(tmp_path / "store")
    sched = CrawlScheduler(spark, store, cfg)
    sched.init_from_seeds(spark.createDataFrame(
        [(u, i) for i, u in enumerate(seeds)], SEED_SCHEMA))
    for r in range(rounds):
        sched.run_round(r)

    got = [[row["url"] for row in sorted(
        checks.read_round(store, "waves", r, ["url", "pos"]), key=lambda row: row["pos"])]
        for r in range(rounds)]
    want = sim_crawl(seeds, rounds, cfg.wave_size, cfg.round0_limit,
                     cfg.default_host_budget, cfg.max_depth)
    assert got == want and all(got)
    violations = checks.check_crawl(store, list(range(rounds)), budget,
                                    {r: r for r in range(rounds)})
    assert violations == {r: [] for r in range(rounds)}


def _wave(urls, hosts):
    return [{"url": u, "pos": i, "priority": 0.0, "seq": i, "host": h}
            for i, (u, h) in enumerate(zip(urls, hosts))]


def test_wave_violations_flags_each_invariant():
    wave = _wave(["a", "b", "c"], ["h1", "h2", "h1"])
    results = [{"url": r["url"], "pos": r["pos"]} for r in wave]
    assert checks.wave_violations(wave, results, set(), 2) == []

    assert checks.wave_violations(wave, results, {"b"}, 2) == [
        "1 URLs were scheduled in an earlier wave"]
    assert checks.wave_violations(wave, results, set(), 1) == [
        "1 hosts exceed the budget of 1"]
    assert checks.wave_violations(wave, results[:2], set(), 2) == [
        "results rows do not match the wave"]
    unordered = [dict(r, seq=-r["seq"]) for r in wave]
    assert checks.wave_violations(unordered, results, set(), 2) == [
        "wave is not ordered by (priority, seq)"]


def _span(sid, name, start, end, thread=1, parent=0):
    return spans.Span(sid, name, parent, 0, thread, start, end)


def test_attribute_splits_the_root_exactly():
    root = _span(0, "round", 0.0, 10.0, parent=None)
    kids = [_span(1, "a", 1.0, 3.0), _span(2, "pool", 2.0, 6.0, thread=2),
            _span(3, "c", 7.0, 8.0)]
    parts = spans.attribute(root, [root, *kids], lambda s: s.name)
    # the root's own thread wins while it is in a span; the pool span
    # gets the time the root's thread spends waiting on it
    assert parts == {"idle": 4.0, "a": 2.0, "pool": 3.0, "c": 1.0}


def _loop(durations, seconds=0.0, min_timed=2, failed_at=None):
    durations = iter(durations)
    done = []

    def step():
        u = workloads.Unit("u", next(durations), failed=len(done) == failed_at)
        done.append(u)
        return [u]

    workloads.closed_loop(step, seconds, min_timed)
    return [u.timed for u in done]


def test_closed_loop_times_min_timed_units_after_a_fixed_warm_up():
    # the warm-up does not grow when a later unit is slower or faster
    assert _loop([5.0, 3.4, 2.9, 2.8, 2.8]) == [False, True, True]
    assert _loop([5.0, 9.0, 2.0, 2.0, 2.0], min_timed=3) == [False, True, True, True]


def test_closed_loop_times_the_last_unit_when_the_warm_up_fails():
    assert _loop([5.0, 3.0, 3.0], failed_at=0) == [True]
    assert _loop([5.0, 3.0, 3.0], failed_at=1) == [False, True]


def test_query_medians_leave_out_a_slow_pass():
    units = [workloads.Unit(q, t, timed=p > 0)
             for p, took in enumerate([(9.0, 9.0), (1.0, 2.0), (5.0, 6.0), (1.2, 2.2)])
             for q, t in zip("ab", took)]
    assert workloads.query_medians(units) == {"a": 1.2, "b": 2.2}


def test_tables_are_a_function_of_the_seed(tmp_path):
    digests = []
    for i, seed in enumerate([3, 3, 4]):
        d = str(tmp_path / str(i))
        tables.write_tables(d, seed, 0.1)
        digests.append(checks.data_digest(d, list(tables.ROWS)))
    assert digests[0] == digests[1] != digests[2]


def test_oracle_cache_matches_tables_and_sql(tmp_path):
    """``oracle_rows.json`` was made from today's analytics tables and
    today's oracle SQL; refresh it with ``python3 perfbench/checks.py``."""
    import __spark_entry__ as entry

    d = str(tmp_path)
    tables.write_tables(d, workloads.ANALYTICS_DATA_SEED, workloads.ANALYTICS_SCALE)
    with open(checks.ORACLE_CACHE) as fh:
        cache = json.load(fh)
    assert cache["data"] == checks.data_digest(d, list(tables.ROWS))
    sql = entry.oracle_sql()
    assert sorted(cache["queries"]) == sorted(workloads.headline())
    for name, hit in cache["queries"].items():
        assert hit["sql"] == checks._sha(sql[name].encode()), name


def test_benchmark_json_lists_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = {m["name"] for m in spec["per_layer"]}
    made = {*layers.PHASES, *layers.SPARK.values(), *layers.EXTRACT.values(),
            *workloads.kernel_timings(1, 1, n_pages=3, repeats=1),
            "session.start_s", "trace.unattributed_execs", "run.peak_rss_mb",
            *(f"q.{q}.{m}" for q in workloads.headline() for m in ("run_s", "py_run_s"))}
    assert made <= names
    assert [w["name"] for w in spec["workloads"]] == ["crawl_links", "analytics"]
