"""S5 HTTP probe (httpProbe, batch-sample-run.js:34-57)."""

import pyspark.sql.functions as F

from horseman_article_parser_spark.operators.probe import probe_ok, probe_urls


def test_probe_ok_rule():
    assert probe_ok(200) and probe_ok(301) and probe_ok(405)
    assert not probe_ok(404) and not probe_ok(500) and not probe_ok(0)


def test_probe_urls_dataframe(spark):
    fr = spark.createDataFrame(
        [(i, f"https://h.x/p/{i}") for i in range(12)], ["seq", "url"]
    )

    def probe(url):
        i = int(url.rsplit("/", 1)[-1])
        return 404 if i % 3 == 0 else 200

    out = {r["seq"]: (r["status"], r["ok"]) for r in probe_urls(fr, probe).collect()}
    assert out[0] == (404, False) and out[1] == (200, True)
    assert all((s == 404) != ok for s, ok in out.values())


def test_crawl_probe_first_skips_failing_pages(spark, tmp_path):
    from horseman_article_parser_spark.datagen.frontier import build_seed_frontier
    from horseman_article_parser_spark.plans.crawl import CrawlConfig, CrawlScheduler

    def probe(url):
        return 404 if url.endswith(("0", "2", "4", "6", "8")) else 200

    cfg = CrawlConfig(wave_size=10, round0_limit=10, probe_first=True,
                      n_shards=2)
    sched = CrawlScheduler(spark, str(tmp_path / "s"), cfg, probe_fn=probe)
    sched.init_from_seeds(build_seed_frontier(spark, 10))
    sched.run_round(0)
    res = sched.store.read(spark, "results", 0)
    rows = res.select("url", "status", "source").collect()
    probed_out = [r for r in rows if r["source"] == "probe"]
    fetched = [r for r in rows if r["source"] != "probe"]
    assert probed_out and fetched
    assert all(r["status"] == 404 for r in probed_out)
    assert all(r["url"].endswith(("0", "2", "4", "6", "8")) for r in probed_out)


def test_crawl_probe_first_without_probe_fn_fetches_once(spark, tmp_path):
    """With no HEAD-capable probe_fn the preflight is the full GET: its
    response is reused, so each wave URL is fetched exactly once, and a
    failing page lands in results as source='probe' with its status."""
    from collections import Counter

    from horseman_article_parser_spark.plans.crawl import CrawlConfig, CrawlScheduler

    log = tmp_path / "fetched.txt"
    failing = {3: 404, 5: 500, 8: 410}

    def fetch(url):
        with open(log, "a") as f:
            f.write(url + "\n")
        i = int(url.rsplit("-", 1)[-1])
        if i in failing:
            return failing[i], ""
        return 200, f"<html><head><title>{url}</title></head><body><p>x</p></body></html>"

    seeds = spark.createDataFrame(
        [(f"https://h{i}.x/page-{i}", i) for i in range(10)], "url string, seq long"
    )
    cfg = CrawlConfig(wave_size=10, round0_limit=10, probe_first=True,
                      n_shards=2, max_depth=0)
    sched = CrawlScheduler(spark, str(tmp_path / "s"), cfg, fetch_fn=fetch)
    sched.init_from_seeds(seeds)
    sched.run_round(0)

    wave = [r["url"] for r in sched.store.read(spark, "waves", 0).collect()]
    assert len(wave) == 10
    assert Counter(log.read_text().split()) == Counter(wave)
    res = sched.store.read(spark, "results", 0).select(
        "url", "status", "source", "article.title").collect()
    for r in res:
        i = int(r["url"].rsplit("-", 1)[-1])
        if i in failing:
            assert (r["source"], r["status"]) == ("probe", failing[i])
        else:
            assert (r["source"], r["status"], r["title"]) == ("dynamic", 200, r["url"])
