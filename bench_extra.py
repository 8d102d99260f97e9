#!/usr/bin/env python
"""Extra benchmarks for the optimization round (bench.py is FROZEN).

Per-query isolation with the noop sink (guide §1.4), repeated runs, and
optional .explain("formatted") capture into plans/r06/.

Usage:
  python bench_extra.py [query ...]            # all headline queries if none
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 \
  BENCH_EXTRA_RUNS=3 BENCH_EXTRA_PLANS=plans/r06 BENCH_EXTRA_SUFFIX=before \
      python bench_extra.py extract_title sessionize

Prints one JSON line: {"queries": {name: [run_sec...]}, "best": {...}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
RUNS = int(os.environ.get("BENCH_EXTRA_RUNS", "2"))
PLANS_DIR = os.environ.get("BENCH_EXTRA_PLANS", "")
SUFFIX = os.environ.get("BENCH_EXTRA_SUFFIX", "plan")


def main():
    from horseman_article_parser_spark.session import get_spark
    from horseman_article_parser_spark.operators.dedup import release_cached

    import __spark_entry__ as E

    names = sys.argv[1:] or HEADLINE
    spark = get_spark("bench_extra", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    # warm-up (untimed): JVM codegen + Python worker pool
    qs["frontier_slice"](spark, SF_DIR).write.format("noop").mode(
        "overwrite").save()

    times: dict[str, list[float]] = {n: [] for n in names}
    for run in range(RUNS):
        for name in names:
            df = qs[name](spark, SF_DIR)
            if PLANS_DIR and run == 0:
                os.makedirs(PLANS_DIR, exist_ok=True)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                with open(os.path.join(
                        PLANS_DIR, f"{name}_{SUFFIX}.txt"), "w") as fh:
                    fh.write(plan)
            spark.sparkContext.setJobDescription(f"bench_extra:{name}:{run}")
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            times[name].append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            release_cached()
    best = {n: min(v) for n, v in times.items()}
    print(json.dumps({
        "sf_dir": SF_DIR, "cpus": CPUS,
        "queries": times, "best": best,
        "best_total": round(sum(best.values()), 3),
    }))


if __name__ == "__main__":
    main()
