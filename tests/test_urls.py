"""URL predicate parity: the JVM column expressions must agree with the
pure-Python scalar functions (which define the semantics, mirroring
skipUrl / keepLikelyArticles / URL normalization in the reference)."""

import pyspark.sql.functions as F

from horseman_article_parser_spark.datagen.frontier import seed_urls
from horseman_article_parser_spark.functions.urls import (
    amp_candidates,
    canonicalize_url,
    canonicalize_url_udf,
    keep_likely_article,
    keep_likely_article_col,
    skip_col,
    skip_reason,
)

CORPUS = [
    "https://example.com/2024/05/city-council-vote-12",
    "http://EXAMPLE.com:80/a",
    "https://example.com:8443/x-y",
    "https://news.example.org/live/updates",
    "https://news.example.org/video/clip-1",
    "https://example.com/files/report.pdf",
    "https://example.com/files/archive.ZIP",
    "ftp://example.com/pub",
    "mailto:tips@example.com",
    "https://lists.ding.net/pipermail/x",
    "https://www.aljazeera.com/gallery/2024/photos",
    "https://example.com/",
    "https://example.com/news",
    "https://example.com/some-long-slug-here",
    "https://example.com/s",
    "https://example.com/a/b",
    "https://example.com/feed.xml",
    "https://example.com/2024/5/dated",
] + seed_urls(80, seed=7)


def test_canonicalize_scalar():
    assert canonicalize_url("HTTPS://Ex.COM:443/p?q=1#f") == "https://ex.com/p?q=1"
    assert canonicalize_url("http://ex.com:80/") == "http://ex.com/"
    assert canonicalize_url("http://ex.com:8080/x") == "http://ex.com:8080/x"
    assert canonicalize_url("http://ex.com") == "http://ex.com/"
    assert canonicalize_url("not a url") is None
    assert canonicalize_url(None) is None


def test_amp_candidates_shape():
    got = amp_candidates("https://ex.com/story?id=2")
    assert got == [
        "https://ex.com/story/amp",
        "https://ex.com/story/amp.html",
        "https://ex.com/story?id=2&amp=1",
        "https://ex.com/story?id=2&output=amp",
    ]


def test_skip_and_keep_column_parity(spark):
    df = spark.createDataFrame([(u,) for u in CORPUS], ["url"])
    rows = df.select(
        "url",
        skip_col(F.col("url")).alias("skip"),
        keep_likely_article_col(F.col("url")).alias("keep"),
        canonicalize_url_udf(F.col("url")).alias("canon"),
    ).collect()
    for r in rows:
        want_skip = skip_reason(r["url"]) is not None
        assert bool(r["skip"]) == want_skip, f"skip mismatch: {r['url']}"
        assert bool(r["keep"]) == keep_likely_article(r["url"]), f"keep mismatch: {r['url']}"
        assert r["canon"] == canonicalize_url(r["url"]), f"canon mismatch: {r['url']}"


def test_sanitize_data_url(spark):
    """F13 (utils.js:11-28 / utils.test.js): scripts stripped from
    base64 data: URLs (the crawler renders with JS disabled);
    percent-encoded payloads decode too."""
    import base64

    from horseman_article_parser_spark.functions.urls import (
        with_sanitized_data_url,
    )

    sample = "<html><body><script>evil()</script><p>Safe</p></body></html>"
    du = "data:text/html;base64," + base64.b64encode(sample.encode()).decode()
    pct = "data:text/html,%3Cp%3EHi%3C%2Fp%3E"
    df = spark.createDataFrame([(0, du), (1, pct)], ["i", "u"])
    df = with_sanitized_data_url(df, "u", "off", "nu")
    rows = df.orderBy("i").collect()
    assert rows[0].off == "<html><body><p>Safe</p></body></html>"
    assert base64.b64decode(rows[0].nu.split(",")[1]).decode() == rows[0].off
    assert rows[1].off == "<p>Hi</p>"


def test_sanitize_data_url_malformed_payloads_node_parity(spark):
    """Node's Buffer.from(payload, 'base64').toString('utf8') NEVER
    throws (utils.js:16-17): invalid base64 decodes leniently and
    invalid UTF-8 becomes U+FFFD, then the mojibake HTML is re-encoded.
    Only the percent branch (decodeURIComponent) can reach the
    ('', raw url) catch. Expected values computed with Python's
    equivalents of Node's exact semantics."""
    import base64

    from horseman_article_parser_spark.functions.urls import (
        with_sanitized_data_url,
    )

    def node_b64(payload: str) -> bytes:
        # Node also accepts the base64url alphabet: '-'/'_' -> '+'/'/'.
        cleaned = "".join(
            c for c in payload
            if c.isalnum() and c.isascii() or c in "+/=-_"
        ).translate(str.maketrans("-_", "+/")).split("=")[0]
        if len(cleaned) % 4 == 1:
            cleaned = cleaned[:-1]
        cleaned += "=" * (-len(cleaned) % 4)
        return base64.b64decode(cleaned)

    bad_utf8 = "data:text/html;base64,/w=="          # -> 0xFF -> U+FFFD
    not_b64 = "data:text/html;base64,!!!not-base64!!!"
    b64url = ("data:text/html;base64,"
              + base64.urlsafe_b64encode(b"<p>a?b></p>").decode())
    mixed = "data:text/html;base64,A-B_C"  # '-'/'_' decode, not stripped
    bad_pct = "data:text/html,%ZZbroken"
    good = ("data:text/html;base64,"
            + base64.b64encode(b"<p>fine</p>").decode())
    payloads = [bad_utf8, not_b64, b64url, mixed, bad_pct, good]
    df = spark.createDataFrame(list(enumerate(payloads)), ["i", "u"])
    rows = (with_sanitized_data_url(df, "u", "h", "nu")
            .orderBy("i").collect())
    for r in rows[:4]:  # base64 rows: lenient decode + U+FFFD, no catch
        payload = r.u.split(",", 1)[1]
        expect_html = node_b64(payload).decode("utf-8", errors="replace")
        assert r.h == expect_html, r
        expect_url = ("data:text/html;base64,"
                      + base64.b64encode(expect_html.encode()).decode())
        assert r.nu == expect_url, r
    assert rows[2].h == "<p>a?b></p>"  # base64url round-trips cleanly
    # percent branch: decodeURIComponent throws -> ('', raw url)
    assert rows[4].h == "" and rows[4].nu == bad_pct
    assert rows[5].h == "<p>fine</p>"
    assert rows[5].nu == good  # valid payload round-trips byte-identically


def test_b64_junk_positive_class_equivalence():
    """B64_JUNK_RE (positive complement, Spark-4.1-fast) must match
    exactly the characters of the original negated class."""
    import re

    from horseman_article_parser_spark.functions.urls import B64_JUNK_RE

    neg = re.compile(r"[^A-Za-z0-9+/=_-]")
    pos = re.compile(B64_JUNK_RE.replace("\\\\", "\\"))
    for i in range(0x10000):
        c = chr(i)
        assert bool(neg.match(c)) == bool(pos.match(c)), hex(i)
