"""The crawl scheduler: round-based frontier → fetch wave → link
expansion, with politeness, URL-seen dedup, round counts and exact
resume.

This is the north-rule core. Round 0 reproduces the reference's
scheduling order exactly (uniq → uniqueByHost(limit) → FIFO by seed
position, /root/reference/scripts/batch-sample-run.js:281-283,315-319 —
verified by tests against a pure-Python reimplementation). Rounds ≥1
implement the north rule's extension the reference lacks: links
extracted in-article are canonicalized, hashed, bloom-deduped and
enqueued with priority = link_depth + in_article_link_score, emitted in
deterministic (priority, seq) order under per-host politeness budgets.

Scale shape of one round (what the plan compiles to):
  pending scan (plain parquet, not host-bucketed)  — no shuffle
  robots broadcast join                            — no shuffle
  two-phase host budget                            — 2 window shuffles,
                                                      salt-bounded keys
  top-k wave (orderBy+limit = TakeOrdered)         — per-partition top-k
  fetch + extract + link canonicalize              — 1 Arrow crossing
    (mapInPandas; the kernel returns `targets`)
  posexplode(targets) + skip/depth filter          — JVM only, narrow
  seen-filter test-and-set (shard shuffle into     — 1 shuffle
    min(n_shards, cores) tasks; in-batch dedup
    runs inside each shard task, no groupBy)
  seq: arithmetic encode of (parent, link) pos     — narrow, no rank
  pending' = pending ⟕̸ wave ∪ new                  — broadcast anti-join

The round's counts are DataFrame observations filled by the jobs that
already run: scheduled/ok/err/amp/dynamic by the results write, links and
new URLs by the claim and pending write. The only extra job is the wave
count that materializes the cached wave. There is no per-host metrics
table; `host_metrics(results)` computes it from a round's results.

Every per-row computation is a vectorized pandas/Arrow UDF; all
predicates/windows/joins are JVM-side (BASELINE.json input_hint).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.window import Window

from ..datagen.synthweb import fetch_page
from ..functions.urls import amp_candidates, canonicalize_url, skip_col
from ..operators.canonical import rescue_thin_page
from ..operators.extract import ARTICLE_STRUCT, extract_article
from ..operators.frontier_ops import (
    build_wave0,
    with_host,
)
from ..operators.politeness import (
    enforce_host_budget,
    host_budgets,
    robots_filter,
)
from ..operators.probe import overlapped, probe_ok
from ..operators.seen_filter import BloomSeenFilter, CuckooSeenFilter, ExactSeenFilter
from .checkpoint import CrawlStore

# seq values for round r live in [r*SEQ_STRIDE, (r+1)*SEQ_STRIDE)
SEQ_STRIDE = 1 << 40
# within a round, seq = parent_wave_pos * LINK_POS_STRIDE + link_pos;
# injective because link_pos < 1024 (extract caps links at 1000) and
# order-preserving, so it replaces a dense rank without a ranking job.
# Bounds: wave_size * 1024 must stay < SEQ_STRIDE (wave_size < 2^30).
LINK_POS_STRIDE = 1 << 10
# T5 retry ladder (CrawlConfig.retry_failed): a failing URL is tried at
# most this many times in all.
MAX_ATTEMPTS = 3
# S7 AMP static race (CrawlConfig.amp_static_first): the static page wins
# when it returns 200 with at least this much HTML — the reference
# prefers static when the background AMP fetch yields >=1000 chars
# (reference index.js:322-366,485-497).
AMP_MIN_CHARS = 1000
# T2 token buckets (CrawlConfig.token_buckets): a host banks at most this
# many rounds of its refill.
BUCKET_CAP_ROUNDS = 2


@dataclass
class CrawlConfig:
    wave_size: int = 100
    round0_limit: int = 100
    unique_hosts_round0: bool = True
    default_host_budget: int = 4
    n_salts: int = 16
    seen_mode: str = "bloom"  # "bloom" | "cuckoo" | "exact"
    # bloom/cuckoo state layout: the number of per-shard bitmaps (tables)
    # on disk. It does not set the claim's task count, which is
    # min(n_shards, cores).
    n_shards: int = 32
    total_bloom_bits: int = 1 << 24
    max_depth: int = 8
    # Callers size their seed frontier with it
    # (build_seed_frontier(n_hosts=cfg.n_hosts)). The scheduler does not
    # read it: fetch_page renders cross-host links over
    # datagen.synthweb.N_HOSTS_DEFAULT (50) hosts whatever this says.
    n_hosts: int = 50
    # synthetic-page content multiplier (datagen.synthweb.page_spec):
    # 1 = small parity fixtures; ~20 ≈ realistic 30 KB article pages
    # for throughput/scaling benchmarks.
    fetch_scale: int = 1
    # simulated network RTT per URL (ms) for benchmark realism — real
    # fetches are latency-bound (the reference budgets 20-40 s/URL,
    # /root/reference/helpers.js:7); 0 disables.
    fetch_rtt_ms: float = 0.0
    # T5 retry ladder: re-queue non-200 fetches with attempt+1 and a
    # linear round backoff (not_before = round + 1 + attempt), up to
    # MAX_ATTEMPTS total tries. Off by default: retries extend the
    # reference's semantics (its batch loop retries per-URL in-process),
    # and the crawl-order parity fixtures pin the no-retry schedule.
    retry_failed: bool = False
    # S7 AMP static race: try AMP candidate URLs first and prefer the
    # static page when it returns 200 with >= AMP_MIN_CHARS of HTML.
    # Results carry `source` ('amp' | 'dynamic') for the A2 rollup.
    amp_static_first: bool = False
    # S5 HTTP probe: preflight status check before the full fetch
    # (httpProbe, /root/reference/scripts/batch-sample-run.js:34-57) —
    # a failing probe (not ok and not 405) skips the page fetch and
    # records the probe status. Off by default (parity fixtures pin the
    # probe-less wave; the reference only probes in its batch scripts).
    probe_first: bool = False
    # S8 empty-content fallback: when a fetched page yields <2
    # substantial paragraphs, follow its rel=canonical link in-kernel
    # and substitute the reference's synthesized live-summary container
    # when the canonical page is rich (/root/reference/index.js:
    # 1243-1336). Off by default: parity fixtures pin the plain pages.
    canonical_rescue: bool = False
    # T2 persistent per-host token buckets: each round a host's budget
    # is min(cap, carried_tokens + refill) where refill is its
    # robots-derived budget (else default_host_budget) and cap =
    # BUCKET_CAP_ROUNDS * refill. Unused budget carries over — the
    # stateful generalization of the per-wave cap (the reference has no
    # token bucket at all; the north rule adds it). State checkpoints to
    # host_state/<round> like every other table, so resume is exact.
    token_buckets: bool = False


# attempt counts retries (T5); not_before is the earliest eligible round,
# the round-based analog of the reference's linear 1000·attempt ms
# backoff (reference scripts/batch-crawl.js:146-147).
FRONTIER_COLS = ["url", "seq", "host", "depth", "priority", "attempt", "not_before"]


def new_frontier_rows(df: DataFrame, seq: Column, depth: Column | int = 0,
                      priority: Column | float = 0.0) -> DataFrame:
    """Pending rows (FRONTIER_COLS) for URLs entering the frontier: `df`
    carries url and host; attempt 0 and not_before 0 make them eligible
    at once. Every pending writer builds its rows here, so the parquet
    files appended under one pending/<round> all share one schema — a
    file with fewer or differently typed columns makes the merged read
    resolve to an arbitrary footer."""
    return df.select(
        "url",
        seq.alias("seq"),
        "host",
        F.lit(depth).cast("int").alias("depth"),
        F.lit(priority).alias("priority"),
        F.lit(0).alias("attempt"),
        F.lit(0).cast("long").alias("not_before"),
    )


def _result_counts() -> list[Column]:
    """scheduled, ok, err and the A2 per-source rollup (amp vs dynamic,
    as the reference's batch-sample-run.js reports it) over results rows."""
    return [
        F.count(F.lit(1)).alias("scheduled"),
        F.count(F.when(F.col("status") == 200, 1)).alias("ok"),
        F.count(F.when(F.col("status") != 200, 1)).alias("err"),
        F.count(F.when(F.col("source") == "amp", 1)).alias("amp"),
        F.count(F.when(F.col("source") == "dynamic", 1)).alias("dynamic"),
    ]


def host_metrics(results: DataFrame) -> DataFrame:
    """Per-host counts of one round's `results` table (A1): host,
    scheduled, ok, err, amp, dynamic. The round itself returns the same
    counts summed over hosts, from an observation on its results write."""
    return results.groupBy("host").agg(*_result_counts())


class CrawlScheduler:
    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        config: CrawlConfig | None = None,
        robots: DataFrame | None = None,
        fetch_fn: Callable[[str], tuple[int, str]] | None = None,
        probe_fn: Callable[[str], int] | None = None,
    ):
        self.spark = spark
        self.config = config or CrawlConfig()
        self.probe_fn = probe_fn
        self.store = CrawlStore(store_dir)
        self.robots = robots
        self.budgets = host_budgets(robots)
        if fetch_fn is None:
            scale = self.config.fetch_scale
            rtt_s = self.config.fetch_rtt_ms / 1000.0

            def fetch_fn(u: str) -> tuple[int, str]:
                if rtt_s > 0:
                    time.sleep(rtt_s)
                return fetch_page(u, scale=scale)

        self.fetch_fn = fetch_fn
        mode = self.config.seen_mode
        if mode == "bloom":
            self.seen = BloomSeenFilter(
                store_dir,
                n_shards=self.config.n_shards,
                total_bits=self.config.total_bloom_bits,
            )
        elif mode == "cuckoo":
            # ~same memory as the bloom config: buckets*4 slots*2B per shard
            self.seen = CuckooSeenFilter(
                store_dir,
                n_shards=self.config.n_shards,
                buckets_per_shard=max(
                    1024, self.config.total_bloom_bits // (self.config.n_shards * 64)
                ),
            )
        elif mode == "exact":
            self.seen = ExactSeenFilter(store_dir)
        else:
            raise ValueError(f"unknown seen_mode {mode!r}: use 'bloom', 'cuckoo' or 'exact'")

    # ------------------------------------------------------------ setup

    def init_from_seeds(self, seeds: DataFrame) -> None:
        """Round -1: build the initial pending frontier with the
        reference's wave-0 candidate chain, claim them in the seen set.

        Seeds filtered out by uniq/uniqueByHost are dropped, exactly as
        the reference drops them (they are never re-queued there)."""
        cfg = self.config
        wave0 = build_wave0(seeds, cfg.round0_limit, cfg.unique_hosts_round0)
        pending = new_frontier_rows(wave0, F.col("seq"))
        claimed = self.seen.claim_unseen(pending)
        self.store.write(claimed, "pending", -1)
        self.store.commit_round(-1, self.seen.version)

    def resume(self) -> int:
        """Return the next round to run, restoring the seen-filter
        version the last commit recorded (-1 on an empty store)."""
        self.seen.resume(self.store.seen_version())
        return self.store.last_round() + 1

    # ------------------------------------------------------------ round

    def _fetch_extract(self, wave: DataFrame) -> DataFrame:
        """Fetch + article extraction FUSED into one Arrow crossing.

        Two chained mapInPandas stages would run two Python workers per
        task with a JVM relay between them (2 × parallelism concurrent
        CPython processes and a double Arrow round-trip of the raw
        html); fusing them halves the worker count and ships html
        JVM→Python exactly once — html never returns to the JVM at all,
        only the narrow article struct does (results persist the struct;
        the raw page is re-fetchable by URL).

        The kernel also returns `targets`: `canonicalize_url` of each
        `article.links` href, in link order (null where unparseable), so
        link expansion needs no second Python stage. Results drop it."""
        fetch_fn = self.fetch_fn
        probe_fn = self.probe_fn
        amp_first = self.config.amp_static_first
        rescue = self.config.canonical_rescue
        probe_first = self.config.probe_first
        parts = self.spark.sparkContext.defaultParallelism
        schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in wave.schema.fields
        ) + (f", `status` int, `source` string, `article` {ARTICLE_STRUCT.simpleString()}"
             ", `targets` array<string>")

        def fetch_one(u: str) -> tuple[int, str, str, str]:
            """(status, final_url, source, html) with optional HEAD→GET
            probe (S5), AMP race (S7) and canonical rescue (S8)."""
            cached = None  # (status, html) when the probe fallback was a full GET
            if probe_first:
                if probe_fn is not None:
                    st0 = probe_fn(u)
                else:
                    # no HEAD-capable probe: the preflight IS a full GET —
                    # cache it so a fetch-worthy URL isn't fetched twice
                    cached = fetch_fn(u)
                    st0 = cached[0]
                if not probe_ok(st0):
                    return st0, u, "probe", ""
            if amp_first:
                for cu in amp_candidates(u) or []:
                    st, html = fetch_fn(cu)
                    if st == 200 and html and len(html) >= AMP_MIN_CHARS:
                        return st, cu, "amp", html
            st, html = cached or fetch_fn(u)
            if rescue and st == 200 and html:
                rescued = rescue_thin_page(html, fetch_fn)
                if rescued["used"]:
                    return st, u, "canonical", rescued["synth_html"]
            return st, u, "dynamic", html

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                pdf = pdf.copy()
                fetched = overlapped(fetch_one, list(pdf["url"]))
                status = []
                source = []
                articles = []
                targets = []
                for st, fu, src_, html in fetched:
                    art = extract_article(fu, html)
                    status.append(st)
                    source.append(src_)
                    articles.append(art)
                    targets.append(
                        [canonicalize_url(link["href"]) for link in art["links"] or ()])
                pdf["status"] = status
                pdf["source"] = source
                pdf["article"] = articles
                pdf["targets"] = targets
                yield pdf

        return wave.repartition(parts).mapInPandas(run, schema=schema)

    def _token_budget_df(self, pending: DataFrame, round_no: int) -> DataFrame:
        """(host, _budget) for this round under token-bucket semantics;
        also stashes the availability for the post-wave state update."""
        cfg = self.config
        spark = self.spark
        hosts = pending.select("host").distinct()
        prev = None
        if self.store.exists("host_state", round_no - 1):
            prev = self.store.read(spark, "host_state", round_no - 1)
            # carry-over must include hosts with ZERO pending rows this
            # round — otherwise their banked tokens vanish from the
            # written state and silently reset on next appearance
            hosts = hosts.unionByName(prev.select("host")).distinct()
        if self.budgets is not None:
            refill_src = self.budgets.withColumnRenamed("_budget", "_refill")
            hosts = hosts.join(F.broadcast(refill_src), "host", "left")
        else:
            hosts = hosts.withColumn("_refill", F.lit(None).cast("int"))
        refill = F.coalesce(F.col("_refill"), F.lit(cfg.default_host_budget))
        if prev is not None:
            hosts = hosts.join(prev, "host", "left")
        else:
            hosts = hosts.withColumn("tokens", F.lit(None).cast("long"))
        cap = refill * BUCKET_CAP_ROUNDS
        avail = F.least(cap, F.coalesce(F.col("tokens"), F.lit(0)) + refill)
        return hosts.select(
            "host",
            F.greatest(F.lit(0), avail).cast("int").alias("_budget"),
        )

    def _write_host_state(self, budget_df: DataFrame, wave: DataFrame,
                          round_no: int) -> None:
        used = wave.groupBy("host").agg(F.count("*").alias("_used"))
        state = (
            budget_df.join(used, "host", "left")
            .select(
                "host",
                (F.col("_budget") - F.coalesce(F.col("_used"), F.lit(0)))
                .cast("long")
                .alias("tokens"),
            )
        )
        self.store.write(state, "host_state", round_no)

    def run_round(self, round_no: int) -> dict:
        cfg = self.config
        spark = self.spark
        t0 = time.monotonic()

        pending = self.store.read(spark, "pending", round_no - 1)

        # --- wave selection: backoff gate → robots → politeness → top-k
        eligible = pending.filter(F.col("not_before") <= round_no)
        candidates = robots_filter(eligible, self.robots)
        budget_df = (
            self._token_budget_df(pending, round_no)
            if cfg.token_buckets
            else self.budgets
        )
        polite = enforce_host_budget(
            candidates,
            budget_df,
            cfg.default_host_budget,
            order_cols=["priority", "seq"],
            n_salts=cfg.n_salts,
        )
        # wave cut = TakeOrderedAndProject: per-partition top-k + merge,
        # so no task materializes more than wave_size rows and the
        # polite frontier is never ranked or shuffled as a whole.
        # pos is then a window over the ALREADY-LIMITED rows — bounded
        # by wave_size (a config constant), never by frontier size.
        top = polite.orderBy("priority", "seq").limit(cfg.wave_size)
        w_pos = Window.orderBy("priority", "seq")
        wave = top.withColumn("pos", F.row_number().over(w_pos) - 1)
        wave = wave.persist()
        # materialize the cache once, then the wave checkpoint write and
        # the fetch+extract+results job run CONCURRENTLY from a small
        # driver pool (guide §2.6 — independent jobs back-fill each
        # other's stragglers; both only read the cached wave), so the
        # wave write (~0.4 s/round) overlaps the fetch.
        wave.count()

        def _write_wave() -> None:
            # sortWithinPartitions, not orderBy — the wave is a single
            # partition (global pos window), so a local sort preserves
            # the same on-disk order without orderBy's range-sampling
            # job + exchange per round
            self.store.write(
                wave.sortWithinPartitions("pos"), "waves", round_no)
            if cfg.token_buckets:
                self._write_host_state(budget_df, wave, round_no)

        # the round's counts arrive with the jobs that already run:
        # each Observation is filled when its DataFrame's job finishes
        results_obs, links_obs, new_obs = Observation(), Observation(), Observation()
        # leaving the with-block joins the pool, so a failed write cannot
        # leave a background write running after the round has raised
        with ThreadPoolExecutor(max_workers=1) as pool:
            fut_wave = pool.submit(_write_wave)
            # --- fetch + extract + link canonicalize (ONE Arrow crossing)
            articles = self._fetch_extract(wave).persist()
            self.store.write(
                articles.drop("targets").observe(results_obs, *_result_counts()),
                "results", round_no)
            fut_wave.result()

        # --- link expansion → skip/depth filter → dedup → claim, all in
        # the JVM: the kernel already canonicalized each link into
        # `targets` (same order as article.links, null when unparseable)
        links = (
            articles.filter(F.col("status") == 200)
            .select(
                F.col("pos").alias("parent_pos"),
                F.col("depth").alias("parent_depth"),
                F.posexplode("targets").alias("pos", "url"),
            )
            .filter(
                F.col("url").isNotNull()
                & ~skip_col(F.col("url"))
                & (F.col("parent_depth") < cfg.max_depth)
            )
            .select("url", "parent_pos", "pos", "parent_depth")
            .observe(links_obs, F.count(F.lit(1)).alias("n"))
        )
        # in-batch first-occurrence dedup: keep the earliest discovery
        # in crawl-schedule order (parent's wave pos, then link pos)
        claimed = self.seen.claim_unseen(
            links, dedup_first=["parent_pos", "pos", "parent_depth"]
        )
        depth = F.col("parent_depth") + 1
        # deterministic seq for the next generation: an
        # order-preserving ARITHMETIC encode of the (unique) discovery
        # position — no ranking job, no extra shuffle. parent_pos <
        # wave_size and link pos < 1024 (extract caps links at 1000,
        # reference W7), so the encode is injective and ordered
        # exactly like a dense rank.
        new_frontier = new_frontier_rows(
            with_host(claimed),
            seq=(
                F.lit((round_no + 1) * SEQ_STRIDE)
                + F.col("parent_pos") * LINK_POS_STRIDE
                + F.col("pos")
            ),
            depth=depth,
            # north rule: priority = link_depth + in-article link score
            priority=depth + F.least(F.col("pos"), F.lit(9)).cast("double") / 10.0,
        ).observe(new_obs, F.count(F.lit(1)).alias("n"))

        # --- next pending = (pending − wave) ∪ new [∪ retries]
        # wave is <= wave_size rows (a config constant): broadcasting
        # the anti-join build side means the 10^10-row pending
        # frontier is NEVER shuffled to subtract one wave
        remaining = pending.join(
            F.broadcast(wave.select("url")), on="url", how="left_anti"
        )
        next_pending = remaining.select(*FRONTIER_COLS).unionByName(new_frontier)
        if cfg.retry_failed:
            # T5: failed rows re-enter with attempt+1; linear backoff
            # in rounds mirrors the reference's 1000·attempt ms sleep
            retries = articles.filter(
                (F.col("status") != 200)
                & (F.col("attempt") + 1 < MAX_ATTEMPTS)
            ).select(
                "url", "seq", "host", "depth", "priority",
                (F.col("attempt") + 1).alias("attempt"),
                (F.lit(round_no + 1) + F.col("attempt")).cast("long").alias("not_before"),
            )
            next_pending = next_pending.unionByName(retries)
        self.store.write(next_pending, "pending", round_no)
        # the commit marker lands only after EVERY table of the round is
        # on disk (the happens-before edge resume depends on)
        self.store.commit_round(round_no, self.seen.version)

        wave.unpersist()
        articles.unpersist()
        return {
            "round": round_no,
            **results_obs.get,
            "links_extracted": links_obs.get["n"],
            "new_urls": new_obs.get["n"],
            "seconds": time.monotonic() - t0,
        }

    def run(self, n_rounds: int, seeds: DataFrame | None = None) -> list[dict]:
        start = self.resume()
        if self.store.last_round() < -1:  # empty store: needs seeding
            if seeds is None:
                raise ValueError("store is empty; pass seeds or init_from_seeds first")
            self.init_from_seeds(seeds)
            start = 0
        stats = []
        for r in range(start, n_rounds):
            stats.append(self.run_round(r))
        return stats
