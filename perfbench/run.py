#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload crawl_links --seed 1 --seconds 10 --trace 0

Run it from the repository root. The run starts Spark at
``local[<nproc>]`` (``nproc`` without ``OMP_NUM_THREADS``), prepares the
workload's inputs from ``--seed``, warms up, then runs rounds or queries
one at a time for ``--seconds`` and checks every output. All files it
writes go under ``.perfbench_run/`` in the current directory and are
removed at the end; every process it starts has ended when it exits.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` enables Spark's event log, wraps the package's public
calls in spans (``spans.py``) and reports the per-layer metrics instead,
after printing a per-phase or per-query table.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("crawl_links", "analytics")
NEEDED = ("horseman_article_parser_spark/session.py", "__spark_entry__.py",
          "bench.py", "scripts/oracle_parity.py", "BENCHMARK.json")


def process_start() -> float:
    """``time.monotonic()`` at the moment this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.monotonic() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def nproc() -> int:
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    return int(subprocess.run(["nproc"], env=env, capture_output=True, text=True,
                              check=True).stdout)


def source_id() -> str:
    """The git commit when run in a clone, else (in an exported tree,
    which has no ``.git``) a hash of the package sources."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, cwd=ROOT)
        if out.returncode == 0:
            return out.stdout.strip()
    h = hashlib.sha1()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "horseman_article_parser_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:12]


def install_wraps(tracer) -> None:
    """Spans around the package's public calls used by the workloads."""
    from pyspark.sql.classic.dataframe import DataFrame

    from horseman_article_parser_spark.operators.seen_filter import BloomSeenFilter
    from horseman_article_parser_spark.plans.checkpoint import CrawlStore
    from horseman_article_parser_spark.plans.crawl import CrawlScheduler

    tracer.wrap(CrawlScheduler, "init_from_seeds", lambda *a, **k: "plans.crawl.init_from_seeds")
    tracer.wrap(CrawlStore, "write", lambda self, df, kind, r: f"plans.checkpoint.write.{kind}")
    tracer.wrap(CrawlStore, "read", lambda self, spark, kind, r: f"plans.checkpoint.read.{kind}")
    tracer.wrap(BloomSeenFilter, "claim_unseen",
                lambda *a, **k: "operators.seen_filter.claim_unseen")
    tracer.wrap(DataFrame, "count", lambda *a: "count")


def end_to_end(workload: str, outcome, setup_s: float) -> dict:
    from workloads import query_medians

    timed = outcome.timed
    if workload == "analytics":
        # a pass as the sum of each query's median: a slow pass, or one
        # slow execution of a query, is left out
        per_query = query_medians(timed)
        iteration_s = sum(per_query.values())
        items_per_s = len(per_query) / iteration_s
    else:
        items_per_s = statistics.median(u.items / u.seconds for u in timed)
        iteration_s = statistics.median(u.seconds for u in timed)
    return {"items_per_s": items_per_s, "iteration_s": iteration_s, "setup_s": setup_s}


def print_table(title: str, rows: list[dict], cols: list[str]) -> None:
    print(title)
    print("  " + " ".join(f"{c:>14}" for c in cols))
    for r in rows:
        print("  " + " ".join(
            f"{r[c]:>14.4g}" if isinstance(r[c], float) else f"{r[c]!s:>14}" for c in cols))


def per_layer(workload: str, outcome, tracer, log, start_s: float, scale: int,
              seed: int) -> dict:
    import layers
    from workloads import headline, kernel_timings

    if workload == "analytics":
        values, rows = layers.analytics_layers(outcome, tracer, log, headline())
        print_table("per-query medians over timed passes", rows,
                    ["query", "run_s", "py_run_s", "scan_s", "shuffle_bytes", "execs"])
    else:
        values, rows = layers.crawl_layers(outcome, tracer, log)
        mean_wall = sum(r["wall_s"] for r in rows) / len(rows)
        print("per-round phase self times (mean over timed rounds), which add up to the round")
        for p in layers.PHASES:
            print(f"  {p:<36} {values[p]:8.3f} s  {values[p] / mean_wall:6.1%}")
        print(f"  {'sum':<36} {sum(values[p] for p in layers.PHASES):8.3f} s")
        print(f"  {'round wall time':<36} {mean_wall:8.3f} s")
    kernels = kernel_timings(seed, scale)
    print("direct calls on a fixed page sample (fetch_scale=%d): %s" % (
        scale, json.dumps({k: round(v, 3) for k, v in kernels.items()})))
    values.update(kernels)
    values["session.start_s"] = start_s
    values["trace.unattributed_execs"] = log.unattributed_execs
    return values


def units_of(name: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[name]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print("run.py: run this from the repository root; missing " + ", ".join(missing),
              file=sys.stderr)
        return 2

    t_proc = process_start()
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    try:
        return run(args, t_proc, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))


def run(args, t_proc: float, work: str) -> int:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the package zip, Spark's scratch space and the Python workers'
    # temp files all stay inside the run directory
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]

    import procs
    import workloads
    from spans import SparkLog, Tracer, read_event_log

    cpus = nproc()
    conf = {"spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false"})
    rss = procs.RssSampler(os.getpid())
    rss.start()
    spark = None
    try:
        from horseman_article_parser_spark.session import get_spark

        t0 = time.monotonic()
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cpus}]",
                          extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        spark_ready = time.monotonic()
        start_s = spark_ready - t0
        tracer = Tracer(spark.sparkContext) if args.trace else None
        if tracer:
            install_wraps(tracer)
        if args.workload == "analytics":
            outcome = workloads.run_analytics(spark, args.seed, args.seconds, work, tracer)
            scale = 1
        else:
            outcome = workloads.run_crawl(spark, args.seed, args.seconds, work, tracer)
            scale = outcome.sizes["fetch_scale"]
    finally:
        if spark is not None:
            procs.stop_spark(spark)
        rss.stop()
    if tracer:
        tracer.unwrap()
    if not outcome.timed:
        raise RuntimeError("no timed unit ran: " + "; ".join(outcome.problems))
    # process start → Spark ready → input prep → the warm-up units
    setup_s = outcome.timed_start - t_proc
    e2e = end_to_end(args.workload, outcome, setup_s)
    record = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
              "seconds": args.seconds, "trace": args.trace, "source": source_id(),
              "sizes": outcome.sizes, "prep_s": outcome.prep_s,
              "spark_start_s": start_s,
              "units": [[u.name, round(u.seconds, 4), u.items, u.failed, u.timed]
                        for u in outcome.units],
              "problems": outcome.problems, "peak_rss_mb": rss.peak / 2**20,
              "end_to_end": e2e}
    print(json.dumps({"record": record}, default=str))
    if args.trace:
        print(json.dumps({"spans": tracer.records()}))
        log = SparkLog(read_event_log(log_dir))
        values = per_layer(args.workload, outcome, tracer, log, start_s, scale, args.seed)
        values["run.peak_rss_mb"] = rss.peak / 2**20
        units = units_of("per_layer")
        unknown = set(values) - set(units)
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
    else:
        units = units_of("end_to_end")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    failed = sum(u.failed for u in outcome.units)
    print(json.dumps({"correct": not outcome.problems, "attempted": len(outcome.units),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
