"""The two workloads: ``crawl_links`` and ``analytics``.

Each is a closed loop run from one driver thread: the next crawl round
or query starts only when the previous one has returned. A workload
returns its units, the time its first timed unit began and the outcome
of its output checks; ``run.py`` turns them into metrics.

Set-up is input prep, done once, followed by one untimed warm-up unit.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

# Only the CrawlConfig fields that define a workload are set; everything
# else (bloom seen filter, 32 shards, 16 salts, lineage counts) stays at
# the default users run. On 4 cores a round takes 7-10 s at this wave
# size, most of it per-round cost that does not grow with the wave; a
# wave of 8000 takes 10-13 s. The smaller wave lets a run time MIN_TIMED
# rounds after its warm-up in about a minute.
CRAWL = dict(n_seeds=4000, wave_size=2000, round0_limit=2000, unique_hosts_round0=False,
             default_host_budget=50, n_hosts=200, fetch_scale=1, max_depth=8)
# The first unit (round or pass) is the warm-up in every run, so every
# run times the same units. On 4 cores the first round takes 10-13 s and
# the later ones 6.6-9.8 s. The first analytics pass takes 22-30 s, and
# the later ones keep falling as the JVM compiles (passes 2, 3, 4 took
# 11.0-12.3, 10.0-10.9 and 9.0-9.8 s): flat would need more passes than
# a run of about a minute has. A rule that adds warm-up units while unit
# time still falls times passes 2-3 in some runs and 3-4 in others,
# 10-15% apart. Timed units go on until ``seconds`` have
# passed since the first of them began and at least MIN_TIMED have run:
# three passes, so that each query's median leaves out its slowest
# execution, and two rounds. A third round would add 8-10 s to a run,
# more than the 4 + 22 runs per workload can spare in an hour, and in
# ten runs it did not narrow the spread of the median round.
WARMUP = 1
MIN_TIMED = {"crawl_links": 2, "analytics": 3}

ANALYTICS_DATA_SEED = 7
ANALYTICS_SCALE = 0.5


@dataclass
class Unit:
    name: str
    seconds: float
    items: int = 1
    failed: bool = False
    timed: bool = False
    span: object = None
    info: dict = field(default_factory=dict)


@dataclass
class Outcome:
    units: list[Unit]  # warm-up units first, then timed ones
    prep_s: float
    timed_start: float  # time.monotonic() when the first timed unit began
    sizes: dict
    problems: list[str] = field(default_factory=list)
    store: str = ""  # a crawl's checkpoint store

    @property
    def timed(self) -> list[Unit]:
        return [u for u in self.units if u.timed]


def closed_loop(step, seconds: float, min_timed: int, can_continue=lambda: True) -> float:
    """Run ``step()``, which runs units one at a time and returns them:
    WARMUP units, then timed ones for ``seconds`` and at least
    ``min_timed`` of them. Mark the timed units and return the
    ``time.monotonic()`` at which the first of them began. A failed unit, or ``can_continue()`` turning false, ends the
    loop early; the last unit run is then timed, warm-up or not."""
    starts, runs = [], []
    while True:
        starts.append(time.monotonic())
        runs.append(step())
        if (any(u.failed for u in runs[-1]) or not can_continue()
                or (len(runs) - WARMUP >= min_timed
                    and time.monotonic() - starts[WARMUP] >= seconds)):
            break
    k = min(WARMUP, len(runs) - 1)
    for units in runs[k:]:
        for u in units:
            u.timed = True
    return starts[k]


def crawl_config():
    from horseman_article_parser_spark.plans.crawl import CrawlConfig

    return CrawlConfig(**{k: v for k, v in CRAWL.items() if k != "n_seeds"})


def run_crawl(spark, seed: int, seconds: int, work_dir: str, tracer=None) -> Outcome:
    from horseman_article_parser_spark.datagen.frontier import build_seed_frontier
    from horseman_article_parser_spark.plans.crawl import CrawlScheduler

    from checks import check_crawl, row_count

    cfg = crawl_config()
    t0 = time.monotonic()
    store = os.path.join(work_dir, "store")
    sched = CrawlScheduler(spark, store, cfg)
    sched.init_from_seeds(build_seed_frontier(spark, CRAWL["n_seeds"], n_hosts=cfg.n_hosts,
                                              seed=seed))
    prep_s = time.monotonic() - t0

    committed: dict[int, int] = {}
    units: list[Unit] = []
    problems: list[str] = []

    def one_round() -> list[Unit]:
        r = len(units)
        t0 = time.monotonic()
        ctx = tracer.span("plans.crawl.run_round", round=r) if tracer else None
        span = ctx.__enter__() if ctx else None
        try:
            stats = sched.run_round(r)
            u = Unit(f"round{r}", time.monotonic() - t0, stats["scheduled"],
                     span=span, info={"round": r, **stats})
        except Exception as e:  # a round that raises is a failed unit
            problems.append(f"round {r} raised {type(e).__name__}: {e}")
            u = Unit(f"round{r}", time.monotonic() - t0, 0, True, span=span, info={"round": r})
        finally:
            if ctx:
                ctx.__exit__(None, None, None)
        committed[r] = sched.store.last_round()
        units.append(u)
        return [u]

    # stop early rather than run a round the frontier cannot fill
    timed_start = closed_loop(one_round, seconds, MIN_TIMED["crawl_links"], lambda: row_count(
        store, "pending", len(units) - 1) >= cfg.wave_size)

    ok = [u.info["round"] for u in units if not u.failed]
    violations = check_crawl(store, ok, cfg.default_host_budget, committed)
    for u in units:
        bad = violations.get(u.info["round"], [])
        if bad:
            u.failed = True
            problems.extend(f"{u.name}: {b}" for b in bad)
    sizes = {**CRAWL, "warmup_rounds": sum(not u.timed for u in units)}
    return Outcome(units, prep_s, timed_start, sizes, problems, store)


def headline() -> list[str]:
    import bench

    return list(bench.HEADLINE)


def run_analytics(spark, seed: int, seconds: int, work_dir: str,
                  tracer=None) -> Outcome:
    """Passes over the headline queries. Each query's rows are collected
    to the driver, as a caller of the query would, and compared with
    the DuckDB oracle outside its time; the first pass warms up."""
    import __spark_entry__ as entry
    from horseman_article_parser_spark.operators.dedup import release_cached

    import tables
    from checks import Oracle

    names = headline()
    t0 = time.monotonic()
    data = os.path.join(work_dir, "tables")
    rows = tables.write_tables(data, ANALYTICS_DATA_SEED, ANALYTICS_SCALE)
    oracle = Oracle(data, list(tables.ROWS))
    prep_s = time.monotonic() - t0
    queries = entry.queries()
    expected = {name: oracle.expected(name) for name in names}
    problems: list[str] = []
    units: list[Unit] = []
    rng = random.Random(seed)

    def one_query(name: str, n_pass: int) -> Unit:
        ctx = tracer.span(f"q.{name}", query=name) if tracer else None
        span = ctx.__enter__() if ctx else None
        t0 = time.monotonic()
        try:
            df = queries[name](spark, data)
            got = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as e:
            got = None
            problems.append(f"{name} raised {type(e).__name__}: {e}")
        finally:
            dt = time.monotonic() - t0
            if ctx:
                ctx.__exit__(None, None, None)
        release_cached()
        failed = got is None or oracle.digest(*got) != expected[name]
        if got is not None and failed:
            problems.append(f"{name} (pass {n_pass}): rows differ from the DuckDB oracle")
        u = Unit(name, dt, 1, failed, span=span, info={"pass": n_pass})
        units.append(u)
        return u

    def one_pass() -> list[Unit]:
        n_pass = len(units) // len(names)
        order = names[:]
        rng.shuffle(order)
        return [one_query(n, n_pass) for n in order]

    timed_start = closed_loop(one_pass, seconds, MIN_TIMED["analytics"])
    timed = [u for u in units if u.timed]
    sizes = {"tables": rows, "data_seed": ANALYTICS_DATA_SEED, "queries": len(names),
             "timed_passes": len({u.info["pass"] for u in timed}),
             "queries_matching_oracle": len(set(names) - {u.name for u in units if u.failed})}
    return Outcome(units, prep_s, timed_start, sizes, problems)


def query_medians(units: list[Unit]) -> dict[str, float]:
    """Each query's median time over its timed executions."""
    per: dict[str, list[float]] = {}
    for u in units:
        if u.timed:
            per.setdefault(u.name, []).append(u.seconds)
    return {name: statistics.median(took) for name, took in per.items()}


# ------------------------------------------------------- direct kernel calls

def _per_call_us(fn, args: list, repeats: int) -> float:
    """Median over ``repeats`` passes of the mean time per call, in µs."""
    per = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for a in args:
            fn(*a)
        per.append((time.perf_counter() - t0) / len(args) * 1e6)
    return statistics.median(per)


def kernel_timings(seed: int, scale: int, n_pages: int = 60, repeats: int = 3) -> dict[str, float]:
    """Time the per-page functions a crawl round runs in its Python
    workers, called directly on a fixed page sample: page synthesis
    (``synthweb.fetch_page``, the stand-in for the network),
    ``htmldom.parse_html``, ``extract.extract_article`` and
    ``urls.canonicalize_url`` on every extracted link."""
    from horseman_article_parser_spark.datagen.frontier import seed_urls
    from horseman_article_parser_spark.datagen.synthweb import fetch_page
    from horseman_article_parser_spark.functions.htmldom import parse_html
    from horseman_article_parser_spark.functions.urls import canonicalize_url
    from horseman_article_parser_spark.operators.extract import extract_article

    urls = seed_urls(n_pages, n_hosts=200, seed=seed)
    ok = [(u, html) for u in urls for status, html in [fetch_page(u, scale=scale)]
          if status == 200 and html]
    links = [(link["href"],) for u, html in ok
             for link in extract_article(u, html)["links"] or []]
    render = _per_call_us(lambda u: fetch_page(u, scale=scale), [(u,) for u in urls], repeats)
    extract = _per_call_us(extract_article, ok, repeats)
    return {
        "datagen.synthweb.render_us_per_page": render,
        "datagen.synthweb.render_share": render / (render + extract),
        "functions.htmldom.parse_us_per_page": _per_call_us(
            parse_html, [(html,) for _, html in ok], repeats),
        "operators.extract.us_per_page": extract,
        "functions.urls.canonicalize_us_per_url": _per_call_us(canonicalize_url, links, repeats),
    }
