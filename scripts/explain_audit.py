#!/usr/bin/env python
"""Plan-hygiene audit: .explain("formatted") for key operators, with
assertions on the physical properties that matter at 100 TB —
predicate pushdown reaching the parquet scan, broadcast-hash joins for
dimension/config tables, whole-stage codegen coverage, and absence of
needless exchanges.

Usage: python scripts/explain_audit.py [sf_dir]  (prints each failed
expectation; exits non-zero on any). tests/test_explain_audit.py runs
`audit` at sf0.001 inside pytest.
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

import __spark_entry__ as E  # noqa: E402
from horseman_article_parser_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# query -> list of (must_contain, why)
EXPECTATIONS = {
    # frontier slice must push seq bounds into the scan... the frontier
    # is synthesized from documents, so the filter lands on the project;
    # the scan must at least prune to the two referenced columns.
    # (codegen ids are not visible in pre-execution AQE formatted plans,
    # so codegen coverage is asserted structurally: pure-projection
    # queries must be exchange-free — see FORBIDDEN.)
    # seen anti-join: the seen side is small -> broadcast, not SMJ
    "seen_antijoin": [
        ("BroadcastHashJoin", "small seen-table must broadcast"),
    ],
    # domain rules: config table must broadcast; the suffix match is a
    # theta join, so the legal physical forms are BroadcastHashJoin
    # (equi part) or BroadcastNestedLoopJoin (tiny build side)
    "domain_rules_join": [
        ("Broadcast", "rules table must broadcast, never shuffle the frontier"),
    ],
    # sentiment: per-doc lexicon sum is per-row work — one Arrow kernel
    # pass (r6; the oracle keeps the explode→lexicon-join form)
    "sentiment": [
        ("MapInPandas", "per-doc lexicon sum runs in the Arrow kernel"),
    ],
    "text_quality": [
        ("MapInPandas", "per-doc stats run in the Arrow kernel"),
    ],
    # keywords/keyphrases: the Arrow kernel path — per-doc TF top-k is
    # per-row work, so the plan must be one MapInPandas over the scan
    # (MAX_EXCHANGES bounds its exchanges to the input fan-out)
    "keywords_topk": [
        ("MapInPandas", "per-doc top-k runs in the Arrow kernel"),
    ],
    # minhash (folded into minhash_lsh): per-doc signatures are per-row
    # work — one Arrow kernel pass, no explode/aggregate (r6; the
    # declarative plan stays parity-pinned in test_dedup)
    "minhash_lsh": [
        ("MapInPandas", "per-doc signatures run in the Arrow kernel"),
    ],
    # extraction: the per-page kernel is an Arrow UDF; a UDF that lost
    # useArrow=True would plan BatchEvalPython (pickled rows)
    "extract_title": [
        ("ArrowEvalPython", "per-page extraction runs as an Arrow UDF"),
    ],
    "extract_links": [
        ("ArrowEvalPython", "per-page extraction runs as an Arrow UDF"),
    ],
    "extract_images": [
        ("ArrowEvalPython", "per-page extraction runs as an Arrow UDF"),
    ],
    # pricing summary: partial agg + single shuffle
    "pricing_summary": [
        ("HashAggregate", "hash aggregation with map-side partials"),
        ("partial_", "map-side partial aggregation"),
    ],
    # top-k per customer: window after a single shuffle
    "top_orders_per_customer": [
        ("Window", "ranking window"),
    ],
}

FORBIDDEN = {
    "extract_title": [
        ("SortMergeJoin", "tiny synth join must broadcast, not SMJ"),
    ],
    # robots resolution is a broadcast join + higher-order functions:
    # the frontier side must never exchange (the old plan re-shuffled
    # candidates x rules through a per-url window every round). The one
    # allowed Exchange is the tiny rules-side groupBy(host) — asserted
    # separately in main().
    # robots: the driver query now includes the robots.txt PARSE chain,
    # whose host-keyed windows/joins are correct at scale (robots bodies
    # are per-host; broadcasting host-cardinality state would be wrong).
    # The evaluation-side expectations are asserted separately in main()
    # on an isolated robots_filter plan with pre-parsed rules.
    # positional slice must TakeOrdered, never rank the whole frontier
    # through one task
    "frontier_slice": [
        ("Window", "no partition-less window over the frontier"),
    ],
}

# Per-row plans: the ONLY exchange allowed is _load's input fan-out for
# degenerate single-row-group test parquet (absent at production
# layouts). r6: the fan-out spreads by HASHING the table's natural
# unique key (guide §2.5 — deterministic spread key, no
# sort-before-repartition), so each plan gets an exchange COUNT bound
# and every exchange in it must be hashpartitioning on exactly that
# key: a second exchange, or one keyed on anything else (round-robin,
# a per-token or per-gram key), is the regression.
# name -> (allowed exchange count, spread key: the table's _SPREAD_KEYS
# or the query's declared `key=`). url_filters unions two independent
# scan branches, so it carries one fan-out per branch.
MAX_EXCHANGES = {
    "url_filters": (2, E._SPREAD_KEYS["documents"]),
    "url_transforms": (1, E._SPREAD_KEYS["documents"]),
    "keywords_topk": (1, E._SPREAD_KEYS["documents"]),
}


def _exchange_keys(plan: str) -> list[list[str] | None]:
    """Per Exchange in a formatted plan: its hashpartitioning columns
    (expression ids stripped), or None for any other partitioning."""
    out = []
    for m in re.finditer(r"\(\d+\) Exchange\b[\s\S]*?Arguments: (.*)", plan):
        h = re.match(r"hashpartitioning\((.*), \d+\)", m.group(1))
        out.append(None if h is None else
                   [re.sub(r"#\d+L?$", "", c) for c in h.group(1).split(", ")])
    return out


def _partitionless_windows(plan: str) -> list[str]:
    """Window operators whose partition spec is empty — the
    single-partition scale-killer. Formatted plans print windows as
    'Arguments: [exprs], [partition-cols], [order]'."""
    hits = []
    for m in re.finditer(r"\(\d+\) Window\b[\s\S]*?Arguments: (.*)", plan):
        args = m.group(1)
        if re.search(r"\], \[\], \[", args):
            hits.append(args[:120])
    return hits


def audit(spark, sf_dir: str) -> list[str]:
    """Run every plan expectation over the queries at `sf_dir`; returns
    one line per failed expectation (empty when the audit passes)."""
    queries = E.queries()
    failures: list[str] = []

    def check(ok: bool, what: str) -> None:
        if not ok:
            failures.append(what)

    for name, expects in EXPECTATIONS.items():
        plan = plan_of(queries[name](spark, sf_dir))
        for needle, why in expects:
            check(needle in plan, f"{name}: expect '{needle}' ({why})")
    for name, forbids in FORBIDDEN.items():
        plan = plan_of(queries[name](spark, sf_dir))
        for needle, why in forbids:
            check(needle not in plan, f"{name}: forbid '{needle}' ({why})")
    for name, (cap, key) in MAX_EXCHANGES.items():
        keys = _exchange_keys(plan_of(queries[name](spark, sf_dir)))
        check(len(keys) <= cap,
              f"{name}: at most {cap} exchange(s) (the input fan-out; "
              f"found {len(keys)})")
        check(all(k == key for k in keys),
              f"{name}: every exchange is hashpartitioning on {key} "
              f"(found {keys})")
    # robots EVALUATION in isolation (pre-parsed rules, the per-round
    # hot path): frontier side shuffle-free — the only Exchange allowed
    # is the tiny rules-side groupBy(host); no per-url window, no SMJ.
    from horseman_article_parser_spark.operators import politeness as PO

    cand = spark.createDataFrame(
        [(f"https://h{i % 7}.example/p/{i}", f"h{i % 7}.example")
         for i in range(200)],
        "url string, host string",
    )
    rules = spark.createDataFrame(
        [("h0.example", "disallow", "/p", 1000)],
        "host string, rule_type string, path_prefix string, crawl_delay_ms int",
    )
    plan = plan_of(PO.robots_filter(cand, rules))
    n_shuffle = len(re.findall(r"\(\d+\) Exchange\b", plan))
    check(n_shuffle <= 1 and "BroadcastHashJoin" in plan
          and "SortMergeJoin" not in plan
          and not _partitionless_windows(plan),
          f"robots_filter(eval): frontier side shuffle-free (shuffle "
          f"exchanges={n_shuffle}, rules-side only; no SMJ/window)")
    # full driver query (parse chain included): the frontier join must
    # still be a broadcast-hash join and no partition-less window may
    # appear anywhere (the parser's windows are host-keyed)
    plan = plan_of(queries["robots_filter"](spark, sf_dir))
    check("BroadcastHashJoin" in plan and not _partitionless_windows(plan),
          "robots_filter(full): parse chain keeps the frontier join "
          "broadcast + all windows host-keyed")
    # NO partition-less windows anywhere in the frontier/crawl queries:
    # row_number() over an un-partitioned window funnels the whole input
    # through one task — the textbook 10^10-row scale-killer.
    for name in ("frontier_uniq", "frontier_unique_by_host", "frontier_wave0",
                 "frontier_slice", "politeness_budget", "robots_filter",
                 "seen_antijoin", "round_robin_interleave"):
        hits = _partitionless_windows(plan_of(queries[name](spark, sf_dir)))
        check(not hits, f"{name}: no partition-less window"
              + (f" -> {hits[0]}" if hits else ""))
    # column pruning spot check: text_quality must read ONLY doc_id+text
    plan = plan_of(queries["text_quality"](spark, sf_dir))
    check("ReadSchema" in plan
          and "lang" not in plan.split("ReadSchema", 1)[1][:400],
          "text_quality: scan prunes unused columns")
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    failures = audit(spark, sf_dir)
    for f in failures:
        print(f"FAIL {f}")
    print(f"\n{len(failures)} failed expectations")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
