"""Politeness: robots longest-prefix evaluation, per-host budgets under
the two-phase salted top-k, hot-host skew (SURVEY §2.9 T2, north rule)."""

import pyspark.sql.functions as F

from horseman_article_parser_spark.operators.politeness import (
    enforce_host_budget,
    host_budgets,
    robots_filter,
)


def _cand(spark, rows):
    return spark.createDataFrame(rows, ["url", "seq", "host", "depth", "priority"])


def test_robots_longest_prefix(spark):
    cands = _cand(
        spark,
        [
            ("https://h1.x/private/a", 0, "h1.x", 0, 0.0),
            ("https://h1.x/private/open/b", 1, "h1.x", 0, 0.0),
            ("https://h1.x/public/c", 2, "h1.x", 0, 0.0),
            ("https://h2.x/private/d", 3, "h2.x", 0, 0.0),
        ],
    )
    robots = spark.createDataFrame(
        [
            ("h1.x", "disallow", "/private", 1000),
            ("h1.x", "allow", "/private/open", 1000),
        ],
        ["host", "rule_type", "path_prefix", "crawl_delay_ms"],
    )
    got = {r["url"] for r in robots_filter(cands, robots).collect()}
    assert got == {
        "https://h1.x/private/open/b",  # longer allow overrides disallow
        "https://h1.x/public/c",
        "https://h2.x/private/d",  # no rules for h2 → allowed
    }


def test_host_budgets_from_crawl_delay(spark):
    robots = spark.createDataFrame(
        [("h1.x", "disallow", "/x", 30000), ("h2.x", "allow", "/", 500)],
        ["host", "rule_type", "path_prefix", "crawl_delay_ms"],
    )
    got = {r["host"]: r["_budget"] for r in host_budgets(robots).collect()}
    assert got == {"h1.x": 2, "h2.x": 120}


def test_host_budgets_zero_delay_is_unbounded(spark):
    # EXPLICIT crawl_delay_ms = 0 must not divide by zero under ANSI
    # mode; it means "no delay" ⇒ no cap. A NULL delay (robots entry
    # with only allow/disallow rules) is NOT an uncapped grant: the
    # budget stays NULL so enforce_host_budget falls back to
    # default_host_budget.
    robots = spark.createDataFrame(
        [("h1.x", "disallow", "/", 0), ("h2.x", "allow", "/", None)],
        "host string, rule_type string, path_prefix string, crawl_delay_ms int",
    )
    got = {r["host"]: r["_budget"] for r in host_budgets(robots).collect()}
    assert got == {"h1.x": 2147483647, "h2.x": None}


def test_null_delay_host_gets_default_budget(spark):
    # end-to-end: the NULL-budget host is capped at default_budget
    rows = [(f"https://h2.x/p-{i}", i, "h2.x", 0, 0.0) for i in range(20)]
    cands = _cand(spark, rows)
    robots = spark.createDataFrame(
        [("h2.x", "allow", "/", None)],
        "host string, rule_type string, path_prefix string, crawl_delay_ms int",
    )
    out = enforce_host_budget(
        cands, host_budgets(robots), default_budget=3, order_cols=["seq"]
    )
    assert {r["seq"] for r in out.collect()} == {0, 1, 2}


def test_budget_enforced_with_hot_host_skew(spark):
    # hot host owns 85% of candidates (FIXTURES.md §5 hot_hosts)
    rows = [(f"https://hot.x/p-{i}", i, "hot.x", 0, 0.0) for i in range(850)]
    rows += [(f"https://h{i % 20}.x/p-{i}", 1000 + i, f"h{i % 20}.x", 0, 0.0) for i in range(150)]
    cands = _cand(spark, rows)
    out = enforce_host_budget(cands, None, default_budget=5, order_cols=["priority", "seq"])
    counts = {r["host"]: r["n"] for r in out.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert counts["hot.x"] == 5
    assert all(v <= 5 for v in counts.values())
    # exact top-budget rows in (priority, seq) order survive
    hot = {r["seq"] for r in out.filter(F.col("host") == "hot.x").collect()}
    assert hot == {0, 1, 2, 3, 4}


def test_token_buckets_accumulate_and_cap(spark, tmp_path):
    """T2: unused per-host budget carries across rounds up to
    BUCKET_CAP_ROUNDS * refill; consumed budget depletes the bucket."""
    import pyspark.sql.functions as F

    from horseman_article_parser_spark.plans.crawl import CrawlConfig, CrawlScheduler

    # host A: high priority (depth 0), host B: only 1 URL eligible early,
    # then many — B's unused tokens accumulate while A dominates.
    seeds = spark.createDataFrame(
        [(f"https://a.x/p{i}", i) for i in range(8)]
        + [(f"https://b.x/p{i}", 100 + i) for i in range(8)],
        "url string, seq long",
    )
    cfg = CrawlConfig(wave_size=2, round0_limit=100, unique_hosts_round0=False,
                      default_host_budget=2, n_shards=4, total_bloom_bits=1 << 16,
                      token_buckets=True)
    sched = CrawlScheduler(spark, str(tmp_path / "s"), cfg,
                           fetch_fn=lambda u: (200, "<html><body><p>x</p></body></html>"))
    sched.init_from_seeds(seeds)
    # round 0: wave_size=2 and A's seqs sort first -> A takes both slots,
    # B starves and banks its refill
    sched.run_round(0)
    w0 = {r.host for r in sched.store.read(spark, "waves", 0).collect()}
    assert w0 == {"a.x"}
    state0 = {r.host: r.tokens for r in sched.store.read(spark, "host_state", 0).collect()}
    assert state0["a.x"] == 0          # refill 2, used 2
    assert state0["b.x"] == 2          # refill 2, used 0 (banked)
    # round 1 with a larger wave: B's budget = min(cap 4, 2 + 2) = 4
    sched.config.wave_size = 12
    sched.run_round(1)
    w1 = sched.store.read(spark, "waves", 1).groupBy("host").count().collect()
    by_host = {r.host: r["count"] for r in w1}
    assert by_host["b.x"] == 4         # accumulated two rounds of refill
    assert by_host["a.x"] == 2         # steady refill only


def test_parse_robots_txt_groups_and_agent_precedence(spark):
    """robots.txt parsing: stacked User-agent headers, specific-agent
    group overriding *, comments/blank lines, empty Disallow ignored,
    Crawl-delay propagated."""
    from horseman_article_parser_spark.operators.politeness import (
        parse_robots_txt,
    )

    txt_a = (
        "# friendly crawlers welcome\n"
        "User-agent: googlebot\n"
        "User-agent: horseman\n"
        "Disallow: /private\n"
        "Allow: /private/press\n"
        "Crawl-delay: 2\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /\n"
    )
    txt_b = (
        "User-agent: *\n"
        "Disallow:\n"          # empty = allow all, ignored
        "Disallow: /tmp\n"
    )
    txt_c = "User-agent: otherbot\nDisallow: /\n"  # no matching group
    files = spark.createDataFrame(
        [("a.example", txt_a), ("b.example", txt_b), ("c.example", txt_c)],
        ["host", "robots_txt"],
    )
    rows = parse_robots_txt(files).collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    a = {(r.rule_type, r.path_prefix, r.crawl_delay_ms) for r in by_host["a.example"]}
    # the horseman group wins over *, so '/' disallow must NOT appear
    assert a == {("disallow", "/private", 2000), ("allow", "/private/press", 2000)}
    b = {(r.rule_type, r.path_prefix, r.crawl_delay_ms) for r in by_host["b.example"]}
    assert b == {("disallow", "/tmp", None)}
    assert "c.example" not in by_host


def test_parse_robots_feeds_robots_filter(spark):
    """End-to-end: raw robots.txt -> rules -> candidate filtering."""
    from horseman_article_parser_spark.operators.politeness import (
        parse_robots_txt,
        robots_filter,
    )

    files = spark.createDataFrame(
        [("h.example", "User-agent: *\nDisallow: /admin\n")],
        ["host", "robots_txt"],
    )
    cand = spark.createDataFrame(
        [("https://h.example/admin/x", "h.example"),
         ("https://h.example/story/y", "h.example")],
        ["url", "host"],
    )
    rules = parse_robots_txt(files)
    kept = [r.url for r in robots_filter(cand, rules).collect()]
    assert kept == ["https://h.example/story/y"]


def test_parse_robots_delay_only_group(spark):
    """A delay-only robots.txt (no path rules) must still surface its
    crawl delay to host_budgets; robots_filter must ignore the
    path-less row."""
    from horseman_article_parser_spark.operators.politeness import (
        host_budgets,
        parse_robots_txt,
        robots_filter,
    )

    files = spark.createDataFrame(
        [("slow.example", "User-agent: *\nCrawl-delay: 10\n")],
        ["host", "robots_txt"],
    )
    rules = parse_robots_txt(files)
    rows = rules.collect()
    assert len(rows) == 1
    assert rows[0].rule_type == "delay" and rows[0].path_prefix is None
    assert rows[0].crawl_delay_ms == 10000
    budgets = {r["host"]: r["_budget"] for r in host_budgets(rules).collect()}
    assert budgets["slow.example"] == 6  # 60s / 10s
    cand = spark.createDataFrame(
        [("https://slow.example/a", "slow.example")], ["url", "host"]
    )
    assert robots_filter(cand, rules).count() == 1  # nothing disallowed


def test_parse_robots_txt_crlf_and_tabs(spark):
    """CRLF robots.txt bodies (the common wild case) must parse exactly
    like LF ones: no trailing \\r on agent names or path prefixes, and
    tab-separated values are trimmed (ADVICE r3)."""
    from horseman_article_parser_spark.operators.politeness import (
        parse_robots_txt,
        robots_filter,
    )

    txt = (
        "User-agent: horseman\r\n"
        "Disallow:\t/admin\r\n"
        "Allow: /admin/public\r\n"
        "Crawl-delay: 3\r\n"
        "\r\n"
        "User-agent: *\r\n"
        "Disallow: /\r\n"
    )
    # lone-CR line endings (old-Mac style) must also normalize
    txt_cr = "User-agent: *\rDisallow: /private\r"
    files = spark.createDataFrame(
        [("crlf.example", txt), ("cr.example", txt_cr)],
        ["host", "robots_txt"],
    )
    rules = parse_robots_txt(files)
    by_host = {}
    for r in rules.collect():
        by_host.setdefault(r.host, []).append(r)
    got = {(r.rule_type, r.path_prefix, r.crawl_delay_ms)
           for r in by_host["crlf.example"]}
    assert got == {("disallow", "/admin", 3000), ("allow", "/admin/public", 3000)}
    got_cr = {(r.rule_type, r.path_prefix) for r in by_host["cr.example"]}
    assert got_cr == {("disallow", "/private")}
    cand = spark.createDataFrame(
        [("https://crlf.example/admin/x", "crlf.example"),
         ("https://crlf.example/admin/public/y", "crlf.example"),
         ("https://crlf.example/story", "crlf.example")],
        ["url", "host"],
    )
    kept = sorted(r.url for r in robots_filter(cand, rules).collect())
    assert kept == ["https://crlf.example/admin/public/y",
                    "https://crlf.example/story"]


def test_parse_robots_kernel_matches_plan(spark):
    """The Arrow-kernel parse (the default path) must be row-identical
    to the declarative window/aggregate twin on an adversarial corpus:
    stacked headers, agent-vs-* precedence, comments mid-line, keyless
    and colonless lines, empty paths, delay-only groups, unparseable
    and multiple delays, CRLF/CR endings, tab padding, empty and null
    bodies, rules before any header."""
    from horseman_article_parser_spark.operators.politeness import (
        parse_robots_txt,
        parse_robots_txt_plan,
    )

    corpus = [
        ("h01", "User-agent: *\nDisallow: /a\nAllow: /a/b\nCrawl-delay: 1\n"),
        ("h02", "User-agent: horseman\nDisallow: /h\n\nUser-agent: *\nDisallow: /\n"),
        ("h03", "User-agent: a\nUser-agent: horseman\nUser-agent: b\nDisallow: /stack\n"),
        ("h04", "Disallow: /orphan\nUser-agent: *\nDisallow: /real\n"),
        ("h05", "User-agent: *\nDisallow:\nAllow:\n"),
        ("h06", "User-agent: *\nCrawl-delay: 10\n"),
        ("h07", "User-agent: *\nCrawl-delay: nope\n"),
        ("h08", "User-agent: *\nCrawl-delay: 2\nCrawl-delay: 0.5\nDisallow: /d\n"),
        ("h09", "User-agent: *   # star\nDisallow: /c   # comment\n"),
        ("h10", "User-agent: otherbot\nDisallow: /\n"),
        ("h11", "User-agent: *\r\nDisallow:\t/crlf\t\r\nAllow: /crlf/ok\r\n"),
        ("h12", "User-agent: *\rDisallow: /cr\r"),
        ("h13", ":\nno colon here\n: onlycolon\nUser-agent: *\nDisallow: /x\n"),
        ("h14", ""),
        ("h15", None),
        ("h16", "USER-AGENT: HORSEMAN\nDISALLOW: /Case\n\nUser-agent: *\nDisallow: /star\n"),
        ("h17", "User-agent: *\nDisallow: /e\nUser-agent: late\nDisallow: /late\n"),
        ("h18", "\t User-agent \t: *\nDisallow: /pad \t\n"),
        ("h19", "User-agent: *\nAllow: /only-allow\n"),
        ("h20", "User-agent: horseman\nCrawl-delay: 1e1\nDisallow: /sci\n"),
    ]
    files = spark.createDataFrame(corpus, "host string, robots_txt string")
    key = lambda r: (r.host, r.rule_type, str(r.path_prefix),  # noqa: E731
                     str(r.crawl_delay_ms))
    got = sorted(parse_robots_txt(files).collect(), key=key)
    want = sorted(parse_robots_txt_plan(files).collect(),
                  key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(want) > 0
