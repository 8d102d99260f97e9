"""Randomized equivalence pins for the round-5 plan-shape rewrites.

Every rewrite this round swapped a physical shape while claiming
value-identity (kernel vs declarative chain, array_remove vs filter()
HOF, staged vs inline projections). The hand-written corpora pin the
cases we thought of; these tests pin a few hundred SEEDED random cases
so the equivalence claims survive inputs nobody thought of. Seeded
(not hypothesis-driven) because each comparison needs a Spark action —
one batched run over a generated corpus is ~100× cheaper than
per-example collects, and the fixed seed keeps failures reproducible.
"""

import random

import pyspark.sql.functions as F


def _robots_corpus(n: int, seed: int = 45054) -> list:
    """Grammar-ish random robots.txt bodies: random line types, agents,
    paths, junk, comments, padding, and line endings."""
    rng = random.Random(seed)
    agents = ["*", "horseman", "HORSEMAN", "googlebot", "other bot", ""]
    keys = ["User-agent", "Disallow", "Allow", "Crawl-delay", "Sitemap",
            "user-AGENT", "disallow", "crawl-delay", "Noindex"]
    paths = ["/", "/a", "/a/b", "", "/ admin", "/x?q=1", "*", "/\tpad"]
    delays = ["1", "0.5", "10", "0", "-2", "1e1", ".5", "nope", "",
              "2.5.1", " 3"]
    endings = ["\n", "\r\n", "\r"]

    def line(r):
        kind = r.randrange(8)
        if kind == 0:
            return f"User-agent: {r.choice(agents)}"
        if kind == 1:
            return f"{r.choice(['Disallow', 'Allow'])}: {r.choice(paths)}"
        if kind == 2:
            return f"Crawl-delay: {r.choice(delays)}"
        if kind == 3:
            return f"# comment {r.randrange(10)}"
        if kind == 4:
            return f"{r.choice(keys)}:{r.choice(paths)}  # trailing"
        if kind == 5:
            return r.choice(["", "   ", "\t", "no colon line", ":",
                             "::", " : ", "weird#inline"])
        if kind == 6:
            return f"\t {r.choice(keys)} \t: \t{r.choice(paths)} \t"
        return f"{r.choice(keys)}: {r.choice(paths)}"

    out = []
    for i in range(n):
        r = random.Random(rng.random())
        body = r.choice(endings).join(line(r) for _ in range(r.randrange(12)))
        out.append((f"h{i:03d}.example", body if r.random() > 0.05 else None))
    return out


def test_parse_robots_kernel_matches_plan_random(spark):
    """200 grammar-random robots bodies: the Arrow kernel and the
    declarative window chain must emit identical rule rows."""
    from horseman_article_parser_spark.operators.politeness import (
        parse_robots_txt,
        parse_robots_txt_plan,
    )

    files = spark.createDataFrame(
        _robots_corpus(200), "host string, robots_txt string"
    )
    key = lambda r: (r.host, r.rule_type, str(r.path_prefix),  # noqa: E731
                     str(r.crawl_delay_ms))
    got = sorted(parse_robots_txt(files).collect(), key=key)
    want = sorted(parse_robots_txt_plan(files).collect(),
                  key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(want) >= 30  # the grammar must actually produce rules


def test_occurrences_array_remove_matches_filter_random(spark):
    """occurrences_col's codegen shape (size - size(array_remove)) must
    equal the filter() HOF count on random token arrays — including
    empty texts, repeated and adjacent tokens, and unicode."""
    rng = random.Random(45054)
    vocab = ["good", "bad", "the", "a", "good.", "GOOD", "élan", "x",
             "good good", ""]
    rows = []
    for i in range(300):
        n = rng.randrange(0, 12)
        # join with random whitespace runs (tokens_col splits on \s+)
        text = "".join(
            rng.choice(vocab) + rng.choice([" ", "  ", "\t", "\n", " \t "])
            for _ in range(n)
        )
        rows.append((i, text))
    df = spark.createDataFrame(rows, "id long, text string")
    from horseman_article_parser_spark.functions.textstats import (
        occurrences_col,
        tokens_col,
    )

    df = df.withColumn("_toks", tokens_col("text"))

    def eq_word(w):
        # NB: the lambda must be unary — a two-parameter callable makes
        # F.filter bind the second parameter to the ELEMENT INDEX
        return lambda t: t == F.lit(w)

    checks = df.select(
        *[
            (
                occurrences_col("text", w, tokens=F.col("_toks"))
                == F.size(F.filter(F.col("_toks"), eq_word(w)))
            ).alias(f"ok_{j}")
            for j, w in enumerate(["good", "the", "élan", "missing"])
        ]
    ).collect()
    assert all(all(row) for row in checks)
