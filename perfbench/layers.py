"""Per-layer metrics of a traced run.

Crawl workloads report per-round means over the timed rounds; the phase
times (``PHASES``) are self times from ``spans.attribute`` and add up to
the mean round wall time. Analytics reports per-pass means over the
timed passes, plus per-query medians. A layer a workload does not run
reads 0.
"""

from __future__ import annotations

import glob
import os
import statistics
from collections import Counter

import pyarrow.compute as pc
import pyarrow.parquet as pq

from checks import row_count
from spans import SparkLog, Tracer, attribute

# the ordinal of a DataFrame.count inside run_round names its phase
COUNT_PHASES = ("plans.crawl.wave_select_s", "plans.crawl.link_count_s",
                "plans.crawl.new_count_s")
WRITE_KINDS = ("waves", "results", "pending", "metrics")
PHASES = (*COUNT_PHASES, "operators.seen_filter.claim_s", "plans.checkpoint.read_s",
          *(f"plans.checkpoint.write_s.{k}" for k in WRITE_KINDS),
          "plans.crawl.driver_idle_s")
# Spark instruments summed per unit → metric name
SPARK = {k: f"spark.{k}" for k in (
    "scan_s", "shuffle_write_s", "fetch_wait_s", "shuffle_bytes", "py_bytes_in",
    "py_bytes_out", "py_init_s", "py_run_s", "gc_s", "tasks", "task_failures")}
EXTRACT = {"exec_s": "operators.extract.exec_s", "py_run_s": "operators.extract.py_run_s",
           "py_bytes_in": "operators.extract.py_bytes_in",
           "py_bytes_out": "operators.extract.py_bytes_out"}


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _phase_namer(round_span, spans):
    counts = sorted((s for s in spans if s.name == "count" and s.thread == round_span.thread),
                    key=lambda s: s.start)
    ordinal = {s.id: i for i, s in enumerate(counts)}

    def phase_of(s) -> str:
        if s.name == "count":
            return COUNT_PHASES[min(ordinal.get(s.id, 0), len(COUNT_PHASES) - 1)]
        if s.name.startswith("plans.checkpoint.write."):
            return "plans.checkpoint.write_s." + s.name.rsplit(".", 1)[1]
        if s.name.startswith("plans.checkpoint.read."):
            return "plans.checkpoint.read_s"
        if s.name == "operators.seen_filter.claim_unseen":
            return "operators.seen_filter.claim_s"
        return s.name

    return phase_of


def _written(store: str, r: int) -> tuple[int, int, int]:
    """(bytes, files, bloom bytes) a round wrote: its four tables and its
    bloom shards (round r's claim commits seen-filter version r + 1)."""
    files = [p for k in WRITE_KINDS
             for p in glob.glob(os.path.join(store, k, f"round={r}", "**"), recursive=True)
             if os.path.isfile(p)]
    bloom = glob.glob(os.path.join(store, "bloom", "data", f"v{r + 1}_shard_*.bin"))
    size = sum(os.path.getsize(p) for p in files)
    bloom_size = sum(os.path.getsize(p) for p in bloom)
    return size + bloom_size, len(files) + len(bloom), bloom_size


def _raw_links(store: str, r: int) -> int:
    t = pq.read_table(os.path.join(store, "results", f"round={r}"), columns=["status", "article"])
    ok = t.filter(pc.equal(t["status"], 200))
    links = pc.list_value_length(pc.struct_field(ok["article"], "links"))
    return int(pc.sum(links).as_py() or 0)


def crawl_layers(outcome, tracer: Tracer, log: SparkLog) -> tuple[dict, list[dict]]:
    """Per-layer metrics and one phase row per timed round."""
    store = outcome.store
    rows = []
    for u in outcome.timed:
        root = u.span
        sub = tracer.descendants(root)
        phase_of = _phase_namer(root, sub)
        parts = Counter({p: 0.0 for p in PHASES})
        parts.update(attribute(root, sub, phase_of))
        parts["plans.crawl.driver_idle_s"] += parts.pop("idle", 0.0)
        by_phase: dict[str, Counter] = {}
        for s in sub:
            by_phase.setdefault(phase_of(s), Counter()).update(log.per_span.get(s.id, Counter()))
        spark = log.total([root.id, *(s.id for s in sub)])
        res = by_phase.get("plans.checkpoint.write_s.results", Counter())
        claim = by_phase.get("operators.seen_filter.claim_s", Counter())
        links, new = u.info["links_extracted"], u.info["new_urls"]
        raw = _raw_links(store, u.info["round"])
        nbytes, nfiles, bloom_bytes = _written(store, u.info["round"])
        row = dict(parts)
        row.update({
            "round": u.info["round"], "wall_s": root.end - root.start,
            "plans.crawl.round_execs": spark["execs"],
            "plans.crawl.round_jobs": spark["jobs"],
            "plans.crawl.round_tasks": spark["tasks"],
            "plans.crawl.pending_rows": row_count(store, "pending", u.info["round"]),
            "plans.crawl.new_per_link": new / links if links > 0 else 0.0,
            "operators.politeness.shuffle_bytes":
                by_phase.get(COUNT_PHASES[0], Counter())["shuffle_bytes"],
            "operators.seen_filter.urls_in": links,
            "operators.seen_filter.urls_new": new,
            "operators.seen_filter.shuffle_bytes": claim["shuffle_bytes"],
            "operators.seen_filter.tasks": claim["tasks"],
            "operators.seen_filter.state_bytes_written": bloom_bytes,
            "functions.urls.links_kept_per_extracted": links / raw if raw else 0.0,
            "plans.checkpoint.bytes_written": nbytes,
            "plans.checkpoint.files_written": nfiles,
            **{m: res[k] for k, m in EXTRACT.items()},
            **{m: spark[k] for k, m in SPARK.items()},
        })
        rows.append(row)
    keys = [k for k in rows[0] if k not in ("round", "wall_s")] if rows else []
    return {k: _mean(r[k] for r in rows) for k in keys}, rows


def analytics_layers(outcome, tracer: Tracer, log: SparkLog,
                     queries: list[str]) -> tuple[dict, list[dict]]:
    """Per-layer metrics and one row per query."""
    timed = outcome.timed
    passes = sorted({u.info["pass"] for u in timed})
    per_pass = {p: Counter() for p in passes}
    for u in timed:
        c = log.total([u.span.id, *(s.id for s in tracer.descendants(u.span))])
        per_pass[u.info["pass"]].update({m: c[k] for k, m in SPARK.items()})
        if u.name.startswith("extract_"):
            per_pass[u.info["pass"]].update({m: c[k] for k, m in EXTRACT.items()})
        u.info["spark"] = c
    out = {m: _mean(per_pass[p][m] for p in passes) for m in (*SPARK.values(), *EXTRACT.values())}
    rows = []
    for name in queries:
        mine = [u for u in timed if u.name == name]
        row = {"query": name,
               "run_s": statistics.median(u.seconds for u in mine),
               "py_run_s": statistics.median(u.info["spark"]["py_run_s"] for u in mine),
               "scan_s": statistics.median(u.info["spark"]["scan_s"] for u in mine),
               "shuffle_bytes": statistics.median(u.info["spark"]["shuffle_bytes"] for u in mine),
               "execs": statistics.median(u.info["spark"]["execs"] for u in mine)}
        out[f"q.{name}.run_s"] = row["run_s"]
        out[f"q.{name}.py_run_s"] = row["py_run_s"]
        rows.append(row)
    return out, rows
