"""End-to-end crawl parity: the distributed scheduler's per-round
scheduled order must EXACTLY match the pure-Python reference simulator
under the same seed list + politeness budget (north rule), and resume
from checkpoint must continue identically."""

import threading
import time
from collections import Counter

import pyspark.sql.functions as F
import pytest

from horseman_article_parser_spark.datagen.frontier import build_seed_frontier, seed_urls
from horseman_article_parser_spark.functions.urls import canonicalize_url, skip_col
from horseman_article_parser_spark.plans.checkpoint import CrawlStore
from horseman_article_parser_spark.plans.crawl import (
    FRONTIER_COLS,
    CrawlConfig,
    CrawlScheduler,
    host_metrics,
)
from horseman_article_parser_spark.plans.reference_sim import sim_crawl

N_SEEDS = 120
ROUND0 = 40
WAVE = 30
BUDGET = 3
N_ROUNDS = 3


def _spark_waves(scheduler, spark, n_rounds):
    waves = []
    for r in range(n_rounds):
        wave = scheduler.store.read(spark, "waves", r)
        waves.append([x["url"] for x in wave.orderBy("pos").collect()])
    return waves


def _expected_waves():
    return sim_crawl(
        seed_urls(N_SEEDS),
        n_rounds=N_ROUNDS,
        wave_size=WAVE,
        round0_limit=ROUND0,
        default_host_budget=BUDGET,
    )


def test_multiround_crawl_order_matches_sim_exact_seen(spark, tmp_store):
    cfg = CrawlConfig(
        wave_size=WAVE,
        round0_limit=ROUND0,
        default_host_budget=BUDGET,
        seen_mode="exact",
    )
    sched = CrawlScheduler(spark, tmp_store, cfg)
    seeds = build_seed_frontier(spark, N_SEEDS)
    stats = sched.run(N_ROUNDS, seeds=seeds)
    assert len(stats) == N_ROUNDS
    got = _spark_waves(sched, spark, N_ROUNDS)
    expected = _expected_waves()
    for r in range(N_ROUNDS):
        assert got[r] == expected[r], f"round {r} order mismatch"


def test_crawl_resume_is_exact(spark, tmp_store):
    cfg = CrawlConfig(
        wave_size=WAVE,
        round0_limit=ROUND0,
        default_host_budget=BUDGET,
        seen_mode="exact",
    )
    sched1 = CrawlScheduler(spark, tmp_store, cfg)
    seeds = build_seed_frontier(spark, N_SEEDS)
    sched1.run(2, seeds=seeds)  # rounds 0-1, then "crash"

    sched2 = CrawlScheduler(spark, tmp_store, cfg)  # fresh process
    stats = sched2.run(N_ROUNDS)  # resumes at round 2
    assert [s["round"] for s in stats] == [2]
    got = _spark_waves(sched2, spark, N_ROUNDS)
    expected = _expected_waves()
    for r in range(N_ROUNDS):
        assert got[r] == expected[r], f"round {r} post-resume mismatch"


def _crash_cfg(seen_mode):
    return CrawlConfig(wave_size=WAVE, round0_limit=ROUND0, default_host_budget=BUDGET,
                       seen_mode=seen_mode, n_shards=8, total_bloom_bits=1 << 22)


def _assert_fresh_store_reads_what_was_written(spark, jobs_started, writer, fresh,
                                               round_no):
    """The store that wrote `pending` reads it with the schema it wrote,
    starting no job; a fresh store on the same dir remembers no schema,
    so it infers one, and both read the same rows and schema."""
    wrote, n_writer = jobs_started(lambda: writer.read(spark, "pending", round_no))
    read, n_fresh = jobs_started(lambda: fresh.read(spark, "pending", round_no))
    assert n_writer == 0
    assert n_fresh >= 1
    assert read.schema == wrote.schema
    assert read.columns == FRONTIER_COLS
    assert Counter(map(tuple, read.collect())) == Counter(map(tuple, wrote.collect()))


class _CrashingStore(CrawlStore):
    """Fails at the commit of one round, after all its tables and its
    seen-filter version are written."""

    def __init__(self, root, crash_round):
        super().__init__(root)
        self.crash_round = crash_round

    def commit_round(self, round_no, *args):
        if round_no == self.crash_round:
            raise OSError(f"crash at the commit of round {round_no}")
        super().commit_round(round_no, *args)


@pytest.mark.parametrize("crash_round", [1, -1])
@pytest.mark.parametrize("seen_mode", ["exact", "bloom", "cuckoo"])
def test_resume_after_a_crash_inside_a_round_is_exact(spark, tmp_store, jobs_started,
                                                      seen_mode, crash_round):
    """Resume restores the seen-filter version of the last commit, not
    the one the crashed round (or seeding, round -1) left on disk."""
    seeds = build_seed_frontier(spark, N_SEEDS)
    sched = CrawlScheduler(spark, tmp_store, _crash_cfg(seen_mode))
    sched.store = _CrashingStore(tmp_store, crash_round)
    with pytest.raises(OSError, match="crash at the commit"):
        sched.run(N_ROUNDS, seeds=seeds)
    resumed = CrawlScheduler(spark, tmp_store, _crash_cfg(seen_mode))  # fresh process
    _assert_fresh_store_reads_what_was_written(
        spark, jobs_started, sched.store, resumed.store, crash_round)
    resumed.run(N_ROUNDS, seeds=seeds)
    assert _spark_waves(resumed, spark, N_ROUNDS) == _expected_waves()


def test_resume_after_streamed_seeds_and_a_crash_is_exact(spark, tmp_store, jobs_started):
    """A seed batch claimed between rounds makes a seen-filter version of
    its own; a crash in the next round resumes from that version."""
    from horseman_article_parser_spark.streaming.frontier_stream import StreamingSeedIngest

    late = [f"https://streamed.example/late/{i}" for i in range(8)]
    seeds = build_seed_frontier(spark, N_SEEDS)
    sched = CrawlScheduler(spark, tmp_store, _crash_cfg("bloom"))
    sched.run(1, seeds=seeds)
    StreamingSeedIngest(sched).process_batch(
        spark.createDataFrame([(u,) for u in late], "url string"), 0)
    # the streamed rows are appended beside round 0's pending file
    _assert_fresh_store_reads_what_was_written(
        spark, jobs_started, sched.store, CrawlStore(tmp_store), 0)
    sched.store = _CrashingStore(tmp_store, 1)
    with pytest.raises(OSError, match="crash at the commit"):
        sched.run_round(1)
    resumed = CrawlScheduler(spark, tmp_store, _crash_cfg("bloom"))
    resumed.run(N_ROUNDS)
    expected = sim_crawl(seed_urls(N_SEEDS), n_rounds=N_ROUNDS, wave_size=WAVE,
                         round0_limit=ROUND0, default_host_budget=BUDGET,
                         streamed_seeds={0: late})
    assert any("streamed.example" in u for u in expected[1])
    assert _spark_waves(resumed, spark, N_ROUNDS) == expected


class _StreamCrashStore(CrawlStore):
    """Fails once while a streamed seed batch is applied: as its pending
    rows are written, just before the manifest records the batch, or
    just after."""

    def __init__(self, root, crash_at):
        super().__init__(root)
        self.crash_at = crash_at

    def path(self, kind, round_no):
        if self.crash_at == "pending_write" and kind == "pending":
            raise OSError("crash at the pending write")
        return super().path(kind, round_no)

    def commit_stream_batch(self, *args):
        if self.crash_at == "before_commit":
            raise OSError("crash before the commit")
        super().commit_stream_batch(*args)
        if self.crash_at == "after_commit":
            raise OSError("crash after the commit")


@pytest.mark.parametrize("crash_at", ["pending_write", "before_commit", "after_commit"])
def test_streamed_seed_batch_replayed_after_a_crash_lands_once(spark, tmp_store, crash_at):
    """Structured Streaming replays a batch whose foreachBatch crashed,
    with the same batch_id. The replay, in a fresh process, must leave
    the batch's URLs in pending exactly once and crawl as if no crash
    had happened."""
    from horseman_article_parser_spark.streaming.frontier_stream import StreamingSeedIngest

    late = [f"https://streamed.example/late/{i}" for i in range(8)]
    batch = spark.createDataFrame([(u,) for u in late], "url string")
    sched = CrawlScheduler(spark, tmp_store, _crash_cfg("bloom"))
    sched.run(1, seeds=build_seed_frontier(spark, N_SEEDS))
    sched.store = _StreamCrashStore(tmp_store, crash_at)
    with pytest.raises(OSError, match="crash"):
        StreamingSeedIngest(sched).process_batch(batch, 0)
    replay = CrawlScheduler(spark, tmp_store, _crash_cfg("bloom"))  # fresh process
    replay.resume()
    StreamingSeedIngest(replay).process_batch(batch, 0)
    pending = [r.url for r in replay.store.read(spark, "pending", 0).collect()]
    assert Counter(u for u in pending if "streamed.example" in u) == Counter(late)
    replay.run(2)
    expected = sim_crawl(seed_urls(N_SEEDS), n_rounds=2, wave_size=WAVE,
                         round0_limit=ROUND0, default_host_budget=BUDGET,
                         streamed_seeds={0: late})
    assert _spark_waves(replay, spark, 2) == expected


def test_unknown_seen_mode_is_rejected(spark, tmp_store):
    with pytest.raises(ValueError, match="seen_mode"):
        CrawlScheduler(spark, tmp_store, CrawlConfig(seen_mode="blom"))


def test_bloom_mode_matches_exact_at_low_load(spark, tmp_store):
    # with a roomy bloom filter, FP≈0 ⇒ identical schedule to exact mode
    cfg = CrawlConfig(
        wave_size=WAVE,
        round0_limit=ROUND0,
        default_host_budget=BUDGET,
        seen_mode="bloom",
        n_shards=8,
        total_bloom_bits=1 << 22,
    )
    sched = CrawlScheduler(spark, tmp_store, cfg)
    sched.run(N_ROUNDS, seeds=build_seed_frontier(spark, N_SEEDS))
    got = _spark_waves(sched, spark, N_ROUNDS)
    expected = _expected_waves()
    for r in range(N_ROUNDS):
        assert got[r] == expected[r], f"round {r} bloom mismatch"


def test_metrics_and_results_written(spark, tmp_store):
    cfg = CrawlConfig(
        wave_size=WAVE, round0_limit=ROUND0, default_host_budget=BUDGET, seen_mode="exact"
    )
    sched = CrawlScheduler(spark, tmp_store, cfg)
    [st] = sched.run(1, seeds=build_seed_frontier(spark, N_SEEDS))
    results = sched.store.read(spark, "results", 0)
    metrics = host_metrics(results)
    sums = metrics.agg(*[F.sum(c).alias(c) for c in ("scheduled", "ok", "err")]).first()
    assert sums["scheduled"] == WAVE
    # the round's observed counts are the per-host counts summed
    assert (st["scheduled"], st["ok"], st["err"]) == tuple(sums)
    ok = results.filter(F.col("status") == 200)
    assert ok.count() > 0
    # extracted structs are populated for 200s
    assert ok.filter(F.col("article.title").isNotNull()).count() == ok.count()


def _kept_links(spark, store, round_no, max_depth):
    """Links of the round's 200-status results that survive
    canonicalization, the skip rules and the depth cap."""
    rows = store.read(spark, "results", round_no).filter(
        F.col("status") == 200).select("depth", "article.links").collect()
    raw = [(r["depth"], link["href"]) for r in rows for link in (r["links"] or [])]
    targets = [canonicalize_url(href) for depth, href in raw if depth < max_depth]
    targets = [(t,) for t in targets if t is not None]
    kept = spark.createDataFrame(targets, "t string").filter(~skip_col(F.col("t"))).count()
    return kept, len(raw)


@pytest.mark.parametrize("seen_mode", ["bloom", "exact"])
def test_round_record_counts_match_the_checkpoint(spark, tmp_store, seen_mode):
    """links_extracted and new_urls, which come from observations, agree
    with the round's results and pending tables."""
    # round 1 schedules seeds and depth-1 links, so the depth cap bites
    cfg = CrawlConfig(wave_size=WAVE, round0_limit=ROUND0, default_host_budget=BUDGET,
                      seen_mode=seen_mode, max_depth=1)
    sched = CrawlScheduler(spark, tmp_store, cfg)
    stats = sched.run(2, seeds=build_seed_frontier(spark, N_SEEDS))
    store = sched.store
    for st in stats:
        r = st["round"]
        pending = store.read(spark, "pending", r).count()
        before = store.read(spark, "pending", r - 1).count()
        assert st["new_urls"] == pending - (before - st["scheduled"])
        kept, raw = _kept_links(spark, store, r, cfg.max_depth)
        assert st["links_extracted"] == kept and 0 < kept < raw
    depths = {r["depth"] for r in store.read(spark, "results", 1).filter(
        F.col("status") == 200).collect()}
    assert depths == {0, 1}


def test_round_with_an_empty_wave(spark, tmp_store):
    """A round with nothing to schedule still commits, and its
    observations still report (zero) counts."""
    seeds = spark.createDataFrame([(f"https://h{i}.x/p-{i}", i) for i in range(3)],
                                  "url string, seq long")
    cfg = CrawlConfig(wave_size=10, round0_limit=10, unique_hosts_round0=False)
    page = "<html><body><article><p>a page without links</p></article></body></html>"
    sched = CrawlScheduler(spark, tmp_store, cfg, fetch_fn=lambda u: (200, page))
    stats = sched.run(2, seeds=seeds)
    assert [(s["scheduled"], s["links_extracted"], s["new_urls"]) for s in stats] == [
        (3, 0, 0), (0, 0, 0)]
    assert sched.store.last_round() == 1
    assert sched.store.read(spark, "pending", 1).count() == 0


class _FailingResultsStore(CrawlStore):
    def write(self, df, kind, round_no):
        if kind == "results":
            raise OSError("results write failed")
        if kind == "waves":
            time.sleep(1.0)  # still writing when the results write fails
        super().write(df, kind, round_no)


def test_failed_write_leaves_no_round_thread_running(spark, tmp_store):
    cfg = CrawlConfig(wave_size=WAVE, round0_limit=ROUND0, default_host_budget=BUDGET,
                      seen_mode="exact")
    sched = CrawlScheduler(spark, tmp_store, cfg)
    sched.init_from_seeds(build_seed_frontier(spark, N_SEEDS))
    sched.store = _FailingResultsStore(tmp_store)
    before = set(threading.enumerate())
    with pytest.raises(OSError, match="results write failed"):
        sched.run_round(0)
    leaked = [t for t in threading.enumerate()
              if t not in before and t.name.startswith("ThreadPoolExecutor")]
    assert leaked == []
    assert sched.store.exists("waves", 0)
    assert sched.store.last_round() == -1


def test_retry_ladder_requeues_failed(spark, tmp_path):
    """T5: non-200 fetches re-enter with attempt+1 and linear round
    backoff, up to MAX_ATTEMPTS; parity schedule (retry off) unchanged
    is covered by the other tests."""
    from horseman_article_parser_spark.plans.crawl import CrawlConfig, CrawlScheduler
    import pyspark.sql.functions as F

    def flaky_fetch(url):
        # one URL fails always; the rest succeed with a trivial page
        if "bad" in url:
            return 500, "<html><body>err</body></html>"
        return 200, "<html><body><article><p>ok body</p></article></body></html>"

    seeds = spark.createDataFrame(
        [(f"https://h{i}.x/good-{i}", i) for i in range(4)]
        + [("https://h9.x/bad-page", 9)],
        "url string, seq long",
    )
    cfg = CrawlConfig(wave_size=10, round0_limit=10, unique_hosts_round0=False,
                      default_host_budget=5, n_shards=4, total_bloom_bits=1 << 16,
                      retry_failed=True)
    sched = CrawlScheduler(spark, str(tmp_path / "s"), cfg, fetch_fn=flaky_fetch)
    sched.init_from_seeds(seeds)

    appearances = []
    for r in range(5):
        sched.run_round(r)
        wave = sched.store.read(spark, "waves", r)
        if wave.filter(F.col("url").contains("bad")).count():
            row = wave.filter(F.col("url").contains("bad")).collect()[0]
            appearances.append((r, row.attempt))
    # attempt 0 at round 0; backoff not_before=1 -> round 1 (attempt 1);
    # then not_before = 2+1 = 3 -> round 3 (attempt 2); MAX_ATTEMPTS=3
    # stops further retries
    assert appearances == [(0, 0), (1, 1), (3, 2)]


def test_out_of_order_fetches_stay_aligned_with_wave_rows(spark, tmp_path):
    """The fetch pool finishes URLs out of order (earlier URLs sleep
    longer); every results row still carries its own URL's status and
    article."""
    from horseman_article_parser_spark.plans.crawl import CrawlConfig, CrawlScheduler

    n = 24
    done = tmp_path / "done.txt"

    def slow_fetch(url):
        i = int(url.rsplit("-", 1)[-1])
        time.sleep((n - i) * 0.02)
        with open(done, "a") as f:
            f.write(f"{i}\n")
        status = 200 if i % 3 else 500
        return status, f"<html><head><title>{url}</title></head><body><p>x</p></body></html>"

    seeds = spark.createDataFrame(
        [(f"https://h{i}.x/page-{i}", i) for i in range(n)], "url string, seq long"
    )
    cfg = CrawlConfig(wave_size=n, round0_limit=n, n_shards=2, max_depth=0)
    sched = CrawlScheduler(spark, str(tmp_path / "s"), cfg, fetch_fn=slow_fetch)
    sched.init_from_seeds(seeds)
    sched.run_round(0)

    finished = [int(x) for x in done.read_text().split()]
    assert sorted(finished) == list(range(n)) and finished != sorted(finished)
    rows = sched.store.read(spark, "results", 0).select(
        "url", "status", "article.title").collect()
    assert len(rows) == n
    for url, status, title in rows:
        i = int(url.rsplit("-", 1)[-1])
        assert (status, title) == (200 if i % 3 else 500, url)


def test_amp_static_first_race(spark, tmp_path):
    """S7: AMP candidate preferred when it yields >= AMP_MIN_CHARS;
    source column + A2 per-source metrics rollup."""
    from horseman_article_parser_spark.plans.crawl import CrawlConfig, CrawlScheduler
    import pyspark.sql.functions as F

    big = "<html><body><article><p>" + "amp content " * 150 + "</p></article></body></html>"

    def fetchy(url):
        if url.endswith("/amp"):
            # only host h0's amp variant exists
            return (200, big) if "h0.x" in url else (404, "")
        if "amp" in url:
            return 404, ""
        return 200, "<html><body><article><p>small dynamic page body</p></article></body></html>"

    seeds = spark.createDataFrame(
        [(f"https://h{i}.x/story-{i}", i) for i in range(4)], "url string, seq long"
    )
    cfg = CrawlConfig(wave_size=10, round0_limit=10, unique_hosts_round0=False,
                      default_host_budget=5, n_shards=4, total_bloom_bits=1 << 16,
                      amp_static_first=True)
    sched = CrawlScheduler(spark, str(tmp_path / "s"), cfg, fetch_fn=fetchy)
    sched.init_from_seeds(seeds)
    st = sched.run_round(0)
    res = sched.store.read(spark, "results", 0)
    by_host = {r.host: r.source for r in res.select("host", "source").collect()}
    assert by_host["h0.x"] == "amp"
    assert all(v == "dynamic" for h, v in by_host.items() if h != "h0.x")
    met = host_metrics(res)
    agg = met.agg(F.sum("amp").alias("a"), F.sum("dynamic").alias("d")).collect()[0]
    assert (agg.a, agg.d) == (1, 3)
    assert (st["amp"], st["dynamic"]) == (1, 3)


def test_sim_streamed_seeds_between_rounds():
    """Simulator twin of the streaming ingest (no Spark needed): a seed
    batch arriving after round 0 is canonicalized, claimed, url-ranked,
    and scheduled in round 1 under the per-host budget."""
    from horseman_article_parser_spark.datagen.frontier import seed_urls
    from horseman_article_parser_spark.plans.reference_sim import sim_crawl

    late = [f"https://streamed.example/late/{i}" for i in range(8)]
    waves = sim_crawl(seed_urls(120), 2, wave_size=30, round0_limit=30,
                      default_host_budget=2, streamed_seeds={0: late})
    assert not any("streamed.example" in u for u in waves[0])
    got = [u for u in waves[1] if "streamed.example" in u]
    # 8 arrive, budget 2 per host -> exactly the 2 lowest-url-rank ones
    assert got == ["https://streamed.example/late/0",
                   "https://streamed.example/late/1"]


# in-article hrefs that stress canonicalization and the skip rules
_ODD_LINKS = (
    '<a href="">empty</a><a href="   ">blank</a>'
    '<a href="HTTP://Host.EXAMPLE:80/a#frag">upper</a><a href="https://h:8443/x">port</a>'
    '<a href="mailto:someone@example.com">mail</a><a href="javascript:void(0)">js</a>'
    '<a href="relative/page">rel</a><a href="/rooted?q=1">root</a><a href="../up">up</a>'
    '<a href="https://files.example/doc.pdf">pdf</a>'
    '<a href="https://Trailing.Example./p">dot</a>'
    '<a href="http://host.example/a">same as upper</a>'
    '<a href="https://b.example/p1">a seed</a>'
)
_ODD_PAGES = {
    "https://a.example/p0": (200, _ODD_LINKS),
    "https://b.example/p1": (200, "<p>a page without links</p>"),
    "https://c.example/p2": (404, '<a href="https://c.example/never">not followed</a>'),
    "https://d.example/p3": (200, '<a href="https://h:8443/x">again</a>'
                                  '<a href="/d-only">d</a><a href="ftp://d.example/f">ftp</a>'),
}


def _odd_fetcher():
    # nested, so the closure pickles by value to the Python workers
    def fetch(url):
        status, body = _ODD_PAGES[url]
        return status, f"<html><body><article><p>text</p>{body}</article></body></html>"

    return fetch


def _expected_expansion(wave, fetch, max_depth):
    """links_extracted, new_urls and the pending rows of round 0, from
    extract_article, canonicalize_url and skip_reason in plain Python."""
    from urllib.parse import urlsplit

    from horseman_article_parser_spark.functions.urls import skip_reason
    from horseman_article_parser_spark.operators.extract import extract_article
    from horseman_article_parser_spark.plans.crawl import LINK_POS_STRIDE, SEQ_STRIDE

    kept, first = 0, {}
    for w in sorted(wave, key=lambda w: w["pos"]):
        status, html = fetch(w["url"])
        if status != 200 or w["depth"] >= max_depth:
            continue
        for pos, link in enumerate(extract_article(w["url"], html)["links"] or []):
            target = canonicalize_url(link["href"])
            if target is None or skip_reason(target) is not None:
                continue
            kept += 1
            if target not in _ODD_PAGES:  # the seeds are already seen
                first.setdefault(target, (w["pos"], pos, w["depth"] + 1))
    pending = {
        (url, SEQ_STRIDE + ppos * LINK_POS_STRIDE + pos, urlsplit(url).hostname, depth,
         depth + min(pos, 9) / 10.0, 0, 0)
        for url, (ppos, pos, depth) in first.items()
    }
    return kept, len(first), pending


@pytest.mark.parametrize("seen_mode", ["exact", "bloom"])
def test_link_expansion_matches_python_canonicalization(spark, tmp_store, seen_mode):
    """Links canonicalized inside the fetch kernel expand to the same
    counts and pending rows as canonicalize_url + the skip rules."""
    seeds = spark.createDataFrame([(u, i) for i, u in enumerate(_ODD_PAGES)],
                                  "url string, seq long")
    cfg = CrawlConfig(wave_size=10, round0_limit=10, unique_hosts_round0=False,
                      default_host_budget=5, seen_mode=seen_mode, n_shards=4,
                      total_bloom_bits=1 << 16)
    fetch = _odd_fetcher()
    sched = CrawlScheduler(spark, tmp_store, cfg, fetch_fn=fetch)
    [st] = sched.run(1, seeds=seeds)
    wave = sched.store.read(spark, "waves", 0).collect()
    assert sorted(w["url"] for w in wave) == sorted(_ODD_PAGES)
    kept, new, pending = _expected_expansion(wave, fetch, cfg.max_depth)
    assert (st["links_extracted"], st["new_urls"]) == (kept, new)
    got = {tuple(r) for r in sched.store.read(spark, "pending", 0).collect()}
    assert got == pending
    assert "targets" not in sched.store.read(spark, "results", 0).columns
