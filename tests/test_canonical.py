"""S8 canonical re-fetch fallback (index.js:1243-1336)."""

import pyspark.sql.functions as F

from horseman_article_parser_spark.operators.canonical import (
    canonical_href,
    canonical_refetch,
    live_summary_html,
    rescue_thin_page,
    substantial_paragraphs,
)

RICH = ("<html><body><main>"
        + "".join(f"<p>Substantial paragraph number {i} with enough "
                  f"characters to clear the sixty floor easily.</p>"
                  for i in range(4))
        + "<p>tiny</p></main></body></html>")
THIN = ('<html><head><link rel="canonical" href="https://c.x/art/9"></head>'
        '<body><article><p>Too short.</p></article></body></html>')


def _fetch(url):
    if url.endswith("/9"):
        return 200, RICH
    return 404, ""


def test_substantial_paragraphs_scope_filter_cap():
    paras = substantial_paragraphs(RICH)
    assert len(paras) == 4        # tiny one filtered; under the 5 cap
    assert all(len(p) > 60 for p in paras)


def test_canonical_href_extraction():
    assert canonical_href(THIN) == "https://c.x/art/9"
    assert canonical_href("<html><body></body></html>") is None


def test_rescue_chain_thin_with_canonical():
    got = rescue_thin_page(THIN, _fetch)
    assert got["used"] is True and got["n_entries"] == 4
    assert got["synth_html"].startswith('<div class="live-summary">')


def test_rescue_chain_rich_page_untouched():
    got = rescue_thin_page(RICH, _fetch)
    assert got["used"] is False and got["synth_html"] is None


def test_rescue_chain_dead_canonical():
    thin_dead = THIN.replace("/art/9", "/art/404")
    got = rescue_thin_page(thin_dead, _fetch)
    assert got["used"] is False


def test_canonical_refetch_dataframe(spark):
    pages = spark.createDataFrame(
        [(1, RICH), (2, THIN)], ["doc_id", "html"]
    )
    rich = RICH  # close over VALUES: the test module isn't on executors

    def fetch(url, _rich=rich):
        return (200, _rich) if url.endswith("/9") else (404, "")

    out = {r["doc_id"]: r for r in canonical_refetch(pages, fetch).collect()}
    assert out[1]["used"] is False
    assert out[2]["used"] is True and out[2]["n_entries"] == 4


def test_crawl_round_with_canonical_rescue(spark, tmp_path):
    """Scheduler integration: thin pages with canonical links fetch the
    canonical in-kernel and report source='canonical'."""
    from horseman_article_parser_spark.datagen.frontier import build_seed_frontier
    from horseman_article_parser_spark.plans.crawl import CrawlConfig, CrawlScheduler

    def fetch(url):
        if "/canon/" in url:
            return 200, RICH
        return 200, ('<html><head><link rel="canonical" '
                     'href="https://c.x/canon/1"></head>'
                     '<body><p>meh.</p></body></html>')

    cfg = CrawlConfig(wave_size=10, round0_limit=10, canonical_rescue=True,
                      n_shards=2)
    sched = CrawlScheduler(spark, str(tmp_path / "s"), cfg, fetch_fn=fetch)
    sched.init_from_seeds(build_seed_frontier(spark, 10))
    sched.run_round(0)
    res = sched.store.read(spark, "results", 0)
    srcs = {r["source"] for r in res.select("source").distinct().collect()}
    assert srcs == {"canonical"}
