"""Politeness: robots.txt rule evaluation + per-host wave budgets
(SURVEY §2.9 T2, §4 custom component #2 — north-rule additions; the
reference's only politeness primitive is one-URL-per-host,
/root/reference/scripts/batch-sample-run.js:70-83).

Robots model (FIXTURES.md §5): a small policy table
  (host, rule_type 'allow'|'disallow', path_prefix, crawl_delay_ms)
broadcast-joined to candidates; the longest matching prefix wins
(standard robots longest-match semantics); no matching rule => allowed.

Per-host budget: at most `budget(host)` URLs scheduled per round, where
budget = WAVE_SECONDS*1000 / crawl_delay_ms (the caller's default
budget when no rule gives a delay). Enforced with a TWO-PHASE top-k to
survive hot-host skew:

  phase 1 (salted local cap): rank within (host, salt) where
      salt = pmod(xxhash64(url), n_salts); keep rank <= budget.
      Each shuffle key now carries at most 1/n_salts of a hot host's
      rows, so no single task owns the whole host.
  phase 2 (exact cap): rank within host over the <= n_salts*budget
      survivors; keep rank <= budget.

The exact pass sees a bounded row count per host regardless of how
skewed the pending frontier is — this is *semantic* skew handling that
AQE alone cannot provide (AQE splits data-size skew, but the politeness
invariant is per-key, SURVEY §4.2).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window


def robots_filter(candidates: DataFrame, robots: DataFrame | None) -> DataFrame:
    """Drop candidates disallowed by robots rules (longest-prefix match).

    `candidates` must have `url` and `host` columns. The rules table is tiny
    (policy config), so the join is an explicit broadcast-hash join —
    no shuffle of the frontier side.
    """
    if robots is None:
        return candidates
    path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
    cand = candidates.withColumn("_path", path)
    # SHUFFLE-FREE longest-prefix resolution: pre-aggregate the (tiny)
    # rules table into one array per host, broadcast it, and resolve the
    # winning rule per row with higher-order functions — the frontier
    # side never exchanges (a window over url would shuffle the full
    # candidates×rules product every round).
    rules_by_host = robots.groupBy("host").agg(
        F.collect_list(
            F.struct(
                F.col("path_prefix").alias("prefix"),
                F.col("rule_type").alias("rtype"),
            )
        ).alias("_rules")
    )
    joined = cand.join(F.broadcast(rules_by_host), on="host", how="left")
    matched = F.filter(
        F.col("_rules"), lambda r: F.col("_path").startswith(r["prefix"])
    )
    # longest matching prefix wins; on a length tie, allow wins
    # (struct max orders by (len, is_allow)); no match ⇒ allowed
    best = F.array_max(
        F.transform(
            matched,
            lambda r: F.struct(
                F.length(r["prefix"]).alias("len"),
                (r["rtype"] == F.lit("allow")).cast("int").alias("is_allow"),
            ),
        )
    )
    decided = joined.withColumn(
        "_allowed", best.isNull() | (best["is_allow"] == 1)
    ).filter(F.col("_allowed"))
    return decided.select(*candidates.columns)


# the time one wave spans, which a host's crawl delay divides into its
# per-wave budget
WAVE_SECONDS = 60.0
# the user-agent token whose robots.txt group applies to this crawler
ROBOTS_AGENT = "horseman"


def host_budgets(robots: DataFrame | None) -> DataFrame | None:
    """Per-host max URLs per WAVE_SECONDS wave from crawl_delay_ms (min
    across rules)."""
    if robots is None:
        return None
    return (
        robots.groupBy("host")
        .agg(F.min("crawl_delay_ms").alias("_delay_ms"))
        .select(
            "host",
            # EXPLICIT crawl_delay_ms <= 0 means "no delay" ⇒ unbounded
            # within the wave (int32-max cap avoids ANSI divide-by-zero).
            # A NULL delay (host listed in robots with only allow/disallow
            # rules) stays a NULL budget so enforce_host_budget coalesces
            # it to default_host_budget — a delay-less robots entry must
            # NOT grant an uncapped wave.
            F.when(F.col("_delay_ms").isNull(), F.lit(None).cast("long"))
            .when(
                F.col("_delay_ms") <= 0,
                F.lit(2147483647),
            )
            .otherwise(
                F.greatest(
                    F.lit(1),
                    F.floor(F.lit(WAVE_SECONDS * 1000.0) / F.col("_delay_ms")),
                )
            )
            .cast("int")
            .alias("_budget"),
        )
    )


def enforce_host_budget(
    candidates: DataFrame,
    budgets: DataFrame | None,
    default_budget: int,
    order_cols: list[str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase per-host top-k under (priority, seq) order (see module doc)."""
    df = candidates
    if budgets is not None:
        df = df.join(F.broadcast(budgets), on="host", how="left")
        df = df.withColumn("_budget", F.coalesce(F.col("_budget"), F.lit(default_budget)))
    else:
        df = df.withColumn("_budget", F.lit(default_budget))

    order = [F.col(c) for c in order_cols]
    # phase 1: salted local cap — bounds any single shuffle key
    df = df.withColumn("_salt", F.pmod(F.xxhash64(F.col("url")), F.lit(n_salts)))
    w1 = Window.partitionBy("host", "_salt").orderBy(*order)
    df = df.withColumn("_r1", F.row_number().over(w1)).filter(F.col("_r1") <= F.col("_budget"))
    # phase 2: exact cap over ≤ n_salts*budget survivors per host
    w2 = Window.partitionBy("host").orderBy(*order)
    df = df.withColumn("_r2", F.row_number().over(w2)).filter(F.col("_r2") <= F.col("_budget"))
    return df.drop("_budget", "_salt", "_r1", "_r2")


def parse_robots_txt(robots_files: DataFrame) -> DataFrame:
    """Parse raw (host, robots_txt) bodies into the rules table
    (host, rule_type, path_prefix, crawl_delay_ms) for ROBOTS_AGENT —
    the Arrow-kernel scale path. Robots parsing is per-body-local (lines of one host
    never interact with another host's), so the declarative chain's
    shape — explode → two host-keyed windows → three aggregates over a
    shared subtree — paid ~10 shuffle stages and re-ran the source per
    consumer for work a single map pass does: one mapInPandas, zero
    exchanges, embarrassingly parallel over hosts. (Measured: the
    window chain cost ~6 s warm on a 3-row config table — pure fixed
    stage overhead; the kernel is milliseconds, and at 10^8 hosts it
    scans once with no shuffle at all.)

    Semantics are the documented RFC-9309 subset, bit-identical to
    :func:`parse_robots_txt_plan` (the declarative twin kept for the
    oracle/audit surface) — pinned by
    tests/test_politeness.py::test_parse_robots_kernel_matches_plan.
    """
    import re as _re

    import pandas as pd

    agent_l = ROBOTS_AGENT.lower()
    _num = _re.compile(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?")
    _ends = _re.compile(r"^[\t ]+|[\t ]+$")

    def _parse_body(body: str | None) -> list:
        body = (body or "").replace("\r\n", "\n").replace("\r", "\n")
        # line-level normalize: strip comments, then space/tab ends
        # (exactly F.trim + the [\t ]-ends regexp of the plan form)
        kv = []
        for raw in body.split("\n"):
            line = _ends.sub("", raw.split("#", 1)[0])
            if not line:
                continue
            ci = line.find(":")
            if ci <= 0:
                # no colon, or empty key segment ('^([^:]+):' needs >=1
                # non-colon char before the first colon)
                continue
            key = _ends.sub("", line[:ci]).lower()
            if not key:
                continue
            kv.append((key, _ends.sub("", line[ci + 1:])))
        # group segmentation: consecutive user-agent lines stack into
        # one header; rows before the first header are dropped
        groups, cur, prev_ua = [], None, False
        for key, value in kv:
            is_ua = key == "user-agent"
            if is_ua and not prev_ua:
                cur = {"gid": len(groups) + 1, "agents": set(), "rules": []}
                groups.append(cur)
            prev_ua = is_ua
            if cur is None:
                continue
            cur["rules"].append((key, value))
            if is_ua:
                cur["agents"].add(value.lower())
        best = None
        for g in groups:
            rank = (0 if agent_l in g["agents"]
                    else 1 if "*" in g["agents"] else None)
            if rank is not None and (
                best is None or (rank, g["gid"]) < best[0]
            ):
                best = ((rank, g["gid"]), g)
        if best is None:
            return []
        delays, delay_seen, paths = [], False, []
        for key, value in best[1]["rules"]:
            if key == "crawl-delay":
                delay_seen = True
                if _num.fullmatch(value):
                    delays.append(float(value))
            elif key in ("allow", "disallow") and value != "":
                paths.append((key, value))
        # min(try_cast(value AS DOUBLE)) * 1000 cast LONG (trunc-to-zero)
        delay_ms = int(min(delays) * 1000.0) if delays else None
        if paths:
            return [(rt, pp, delay_ms) for rt, pp in paths]
        if delay_seen:
            return [("delay", None, delay_ms)]
        return []

    def kernel(batches):
        for pdf in batches:
            hs, rts, pps, dms = [], [], [], []
            for host, body in zip(pdf["host"], pdf["robots_txt"]):
                for rt, pp, dm in _parse_body(body):
                    hs.append(host); rts.append(rt)
                    pps.append(pp); dms.append(dm)
            yield pd.DataFrame({
                "host": pd.array(hs, dtype="string"),
                "rule_type": pd.array(rts, dtype="string"),
                "path_prefix": pd.array(pps, dtype="string"),
                "crawl_delay_ms": pd.array(dms, dtype="Int64"),
            })

    return robots_files.mapInPandas(
        kernel,
        "host string, rule_type string, path_prefix string, "
        "crawl_delay_ms long",
    )


def parse_robots_txt_plan(robots_files: DataFrame) -> DataFrame:
    """Declarative twin of :func:`parse_robots_txt` (the Arrow kernel is
    the default path — see its docstring for why). Kept because the
    window/aggregate chain is the relational reference the kernel is
    parity-pinned against, and it documents the host-keyed scale shape
    if anyone needs a pure-SQL rendering.

    Semantics (robotstxt.org / RFC 9309 subset):
    - consecutive `User-agent:` lines stack into one group header; the
      group's rules run until the next header
    - the group whose agents contain ROBOTS_AGENT (case-insensitive
      substring-free exact token match) wins over the `*` group; with
      neither, the host has no rules (allowed)
    - `Allow:` / `Disallow:` with empty paths are ignored (an empty
      Disallow means allow-all per the original spec)
    - `Crawl-delay:` seconds → crawl_delay_ms on every emitted rule row

    Scale shape: explode lines → two window passes keyed by host (group
    numbering via running sums, ordered by line position) → aggregate
    group headers → pick best group per host. Everything keys on host —
    robots bodies are per-host small, and hosts are high-cardinality."""
    w_host = Window.partitionBy("host").orderBy("line_no")
    lines = robots_files.select(
        F.col("host"),
        # normalize CRLF / lone CR before splitting — real-world robots.txt
        # is very often CRLF and a trailing \r would otherwise ride every
        # agent name and path prefix, silently disabling the host's rules
        F.posexplode(
            F.split(F.regexp_replace(F.col("robots_txt"), r"\r\n?", "\n"), "\n")
        ).alias("line_no", "raw"),
    ).select(
        "host", "line_no",
        # strip comments + whitespace (incl. tabs)
        F.regexp_replace(
            F.trim(F.regexp_replace("raw", r"#.*$", "")), r"^[\t ]+|[\t ]+$", ""
        ).alias("line"),
    ).filter(F.col("line") != "")
    _strip = lambda c: F.regexp_replace(c, r"^[\t ]+|[\t ]+$", "")  # noqa: E731
    kv = lines.select(
        "host", "line_no",
        F.lower(_strip(F.regexp_extract("line", r"^([^:]+):", 1))).alias("key"),
        _strip(F.regexp_extract("line", r"^[^:]+:(.*)$", 1)).alias("value"),
    ).filter(F.col("key") != "")
    is_ua = (F.col("key") == "user-agent").cast("int")
    prev_ua = F.lag(is_ua, 1, 0).over(w_host)
    # a UA line starts a new group only when the previous line was NOT
    # a UA line (consecutive UA lines stack into one header)
    starts = ((is_ua == 1) & (prev_ua == 0)).cast("int")
    grouped = kv.withColumn(
        "group_id",
        F.sum(starts).over(w_host.rowsBetween(Window.unboundedPreceding, 0)),
    ).filter(F.col("group_id") > 0)
    agents = (
        grouped.filter(F.col("key") == "user-agent")
        .groupBy("host", "group_id")
        .agg(F.collect_set(F.lower("value")).alias("agents"))
        .withColumn(
            "match_rank",
            F.when(F.array_contains("agents", ROBOTS_AGENT.lower()), 0)
            .when(F.array_contains("agents", "*"), 1)
            .otherwise(F.lit(None)),
        )
        .filter(F.col("match_rank").isNotNull())
    )
    w_best = Window.partitionBy("host").orderBy("match_rank", "group_id")
    best = (
        agents.withColumn("_rn", F.row_number().over(w_best))
        .filter(F.col("_rn") == 1)
        .select("host", "group_id")
    )
    rules = grouped.join(best, ["host", "group_id"])
    delay = (
        rules.filter(F.col("key") == "crawl-delay")
        .groupBy("host")
        .agg(
            (F.min(F.expr("try_cast(value AS DOUBLE)")) * 1000)
            .cast("long").alias("crawl_delay_ms")
        )
    )
    path_rules = (
        rules.filter(F.col("key").isin("allow", "disallow"))
        .filter(F.col("value") != "")
        .select(
            "host",
            F.col("key").alias("rule_type"),
            F.col("value").alias("path_prefix"),
        )
        .join(delay, "host", "left")
    )
    # a delay-only group ('User-agent: *\nCrawl-delay: 10' with no path
    # rules — common in the wild) must still surface its delay:
    # host_budgets reads crawl_delay_ms off rule rows, so emit a
    # path-less 'delay' row for hosts with a delay but no path rules
    # (robots_filter ignores NULL prefixes — startswith(NULL) is NULL)
    delay_only = (
        delay.join(path_rules.select("host").distinct(), "host", "left_anti")
        .select(
            "host",
            F.lit("delay").alias("rule_type"),
            F.lit(None).cast("string").alias("path_prefix"),
            "crawl_delay_ms",
        )
    )
    out = path_rules.unionByName(delay_only)
    return out.select("host", "rule_type", "path_prefix", "crawl_delay_ms")
