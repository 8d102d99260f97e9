#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries from __spark_entry__.queries() at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "frontier_urls_per_sec": ..., "crawl": {...}}

Each query is forced to full materialization with the `noop` datasource
(count() would let Catalyst prune the projection and under-report).

The crawl-throughput section runs the actual CrawlScheduler (bloom
seen-filter, politeness budgets, priority waves, checkpointed store)
over a synthetic seed frontier and reports frontier URLs scheduled/sec —
the BASELINE.json headline metric. Scaling-efficiency evidence
(local[8] vs local[32]) is produced by scripts/scaling_bench.py and
recorded in BENCH.md.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Representative slice of the operator surface: frontier scheduling,
# URL functions, extraction, dedup/similarity, text analytics, relational.
HEADLINE = [
    "frontier_wave0",
    "seen_antijoin",
    "politeness_budget",
    "robots_filter",
    "url_transforms",
    "round_robin_interleave",
    "extract_title",
    "extract_links",
    "extract_images",
    "minhash_lsh",
    "simhash",
    "ngram_jaccard",
    "knn_bruteforce",
    "langid",
    "text_quality",
    "sentiment",
    "keywords_topk",
    "sessionize",
    "pricing_summary",
    "top_orders_per_customer",
]

# crawl-throughput workload knobs: identical total work at any
# parallelism level so local[8] vs local[32] measures scaling.
CRAWL_SEEDS = int(os.environ.get("SPARK_GRAFT_BENCH_SEEDS", "16000"))
CRAWL_ROUNDS = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))
CRAWL_WAVE = int(os.environ.get("SPARK_GRAFT_BENCH_WAVE", "8000"))


def _force(df) -> int:
    """Materialize every column of every row; return row count."""
    df.write.format("noop").mode("overwrite").save()
    # noop doesn't give a count; a cheap count after the timed write
    # would double work, so count during: use accumulator-free approach
    return -1


def bench_queries_once(spark, queries):
    from horseman_article_parser_spark.operators.dedup import release_cached

    times = {}
    for name in HEADLINE:
        fn = queries.get(name)
        if fn is None:
            continue
        df = fn(spark, SF_DIR)
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        times[name] = round(time.monotonic() - t0, 3)
        # drop operator-cached intermediates so queries stay independent
        release_cached()
    return times


def bench_queries(spark, queries, n_runs: int = 2):
    """Best-of-N per query (VERDICT r3 next-round #6): this VM has
    documented multi-second steal phases, so a single run makes
    round-over-round deltas unattributable. Keep the min per query
    (steal only ever adds time); report every run alongside."""
    runs = [bench_queries_once(spark, queries) for _ in range(n_runs)]
    best = {
        name: min(run[name] for run in runs if name in run)
        for name in runs[0]
    }
    return best, runs


def _crawl_cfg(wave: int):
    from horseman_article_parser_spark.plans.crawl import CrawlConfig

    return CrawlConfig(
        wave_size=wave,
        round0_limit=wave,
        unique_hosts_round0=False,
        default_host_budget=max(wave // 40, 4),
        n_salts=CPUS,
        total_bloom_bits=1 << 24,
        n_hosts=200,
    )


def _run_crawl(spark, seeds_n: int, wave: int, rounds: int, cfg=None) -> dict:
    from horseman_article_parser_spark.datagen.frontier import build_seed_frontier
    from horseman_article_parser_spark.plans.crawl import CrawlScheduler

    store = tempfile.mkdtemp(prefix="bench_crawl_")
    try:
        sched = CrawlScheduler(spark, store, cfg or _crawl_cfg(wave))
        seeds = build_seed_frontier(spark, n=seeds_n, n_hosts=200)
        sched.init_from_seeds(seeds)
        t0 = time.monotonic()
        scheduled = 0
        per_round = []
        per_round_scheduled = []
        for r in range(rounds):
            metrics = sched.run_round(r)
            scheduled += metrics.get("scheduled", 0)
            per_round.append(round(metrics["seconds"], 3))
            per_round_scheduled.append(metrics.get("scheduled", 0))
        dt = time.monotonic() - t0
        # steady-state figure: exclude round 0, which pays residual JIT
        # even after the warm-up rounds (round_sec history: r3 recorded
        # [39.7, 15.5, 8.9] for identical per-round work). Uses the
        # EXACT scheduled count of rounds 1..n (round 0's wave can be
        # limited by round0_limit, so a uniform rounds-1/rounds scaling
        # would skew the figure).
        steady_sec = sum(per_round[1:])
        steady_urls = sum(per_round_scheduled[1:])
        return {
            "rounds": rounds,
            "urls_scheduled": scheduled,
            "sec": round(dt, 3),
            "round_sec": per_round,
            "round_scheduled": per_round_scheduled,
            "urls_per_sec": round(scheduled / dt, 1) if dt > 0 else None,
            "steady_urls_per_sec": (
                round(steady_urls / steady_sec, 1) if steady_sec > 0 else None
            ),
        }
    finally:
        shutil.rmtree(store, ignore_errors=True)


def bench_crawl(spark) -> dict:
    """Frontier URLs scheduled/sec over CRAWL_ROUNDS scheduler rounds.

    Two untimed warm-up rounds first amortize one-time JVM codegen +
    Python-worker/Arrow startup (~45 s; measured: the first timed round
    after a 200-URL warm-up still pays ~35 s of JIT) out of the
    throughput number — on a long-lived cluster that cost is paid once
    per executor, not per round."""
    _run_crawl(spark, seeds_n=2000, wave=1000, rounds=2)  # warm-up
    return _run_crawl(spark, CRAWL_SEEDS, CRAWL_WAVE, CRAWL_ROUNDS)


def main():
    from horseman_article_parser_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark("bench", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warm-up (untimed)
    E.queries()["frontier_slice"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()

    qtimes, qruns = bench_queries(spark, E.queries())

    # Hard cost pins (VERDICT r4 #2): breadth growth must not ship a
    # wall-time regression. best-of-2 min is steal-robust; a genuine
    # regression fails the bench loudly instead of being footnoted.
    # The pin is calibrated for the recorded sf0.1 protocol — scale
    # runs (sf1 evidence) are exempt, their check is linearity.
    # pin ≈ 3-4× the r5 recorded best-of-2 (BENCH_sf01_r05_final.json) —
    # generous for this VM's steal phases, tight enough that the r4/r5
    # failure classes (interpreted-HOF counting, re-inlined
    # subexpressions, the robots window chain) cannot silently return.
    COST_PINS_SEC = {
        "langid": 5.8,          # r4 pin, kept (best 0.80 at 187 langs)
        "robots_filter": 8.0,   # window-chain regression hit 15.9
        "sentiment": 6.0,       # HOF/4-copy regression hit ~8+
        "text_quality": 5.0,
        "url_transforms": 7.0,
        "simhash": 6.0,
    }
    if "sf0.1" in SF_DIR:
        for qname, pin in COST_PINS_SEC.items():
            if qtimes.get(qname, 0) > pin:
                raise AssertionError(
                    f"{qname} cost pin violated: best-of-2 "
                    f"{qtimes[qname]}s > {pin}s — fix the plan shape "
                    "before shipping (see BENCH.md r5 notes)"
                )

    # auxiliary scale runs (e.g. the sf1 evidence run) time the query
    # suite only; the crawl section is sf-independent and covered by
    # the primary sf0.1 run
    if os.environ.get("SPARK_GRAFT_SKIP_CRAWL") == "1":
        crawl = {"urls_per_sec": None, "steady_urls_per_sec": None,
                 "skipped": True}
    else:
        crawl = bench_crawl(spark)

    m = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(qtimes.values()), 3),
        "unit": "sec",
        "queries": qtimes,
        "query_runs": qruns,
        "sf": sf,
        "cpus": CPUS,
        "frontier_urls_per_sec": crawl["urls_per_sec"],
        "steady_urls_per_sec": crawl.get("steady_urls_per_sec"),
        "crawl": crawl,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
