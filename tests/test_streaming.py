"""§2.9 Structured Streaming: seed ingestion micro-batches, seen-filter
idempotence across batches, watermarked windowed metrics."""

import os
import time

import pyspark.sql.functions as F

from horseman_article_parser_spark.datagen.frontier import build_seed_frontier
from horseman_article_parser_spark.plans.crawl import CrawlConfig, CrawlScheduler
from horseman_article_parser_spark.streaming.frontier_stream import (
    StreamingSeedIngest,
    windowed_host_metrics,
)


def _mk_scheduler(spark, tmp_path):
    cfg = CrawlConfig(wave_size=20, round0_limit=20, default_host_budget=5,
                      n_shards=4, total_bloom_bits=1 << 16)
    sched = CrawlScheduler(spark, str(tmp_path / "store"), cfg)
    sched.init_from_seeds(build_seed_frontier(spark, 10))
    return sched


def test_streaming_seed_ingest_dedups_across_batches(spark, tmp_path):
    sched = _mk_scheduler(spark, tmp_path)
    seeds_dir = tmp_path / "seeds"
    seeds_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    pending_before = sched.store.read(spark, "pending", sched.store.last_round())
    n0 = pending_before.count()
    seen_urls = {r.url for r in pending_before.select("url").collect()}
    dup = next(iter(seen_urls))

    (seeds_dir / "batch1.txt").write_text(
        "https://newhost1.example/story-a\n"
        "https://newhost2.example/story-b\n"
        f"{dup}\n"           # already claimed at init -> must not re-enter
        "# comment line\n"
        "ftp://bad.example/x.zip\n"  # skip-filtered at ingest
    )
    ingest = StreamingSeedIngest(sched)
    q = ingest.start(str(seeds_dir), ckpt)
    q.processAllAvailable()

    (seeds_dir / "batch2.txt").write_text(
        "https://newhost1.example/story-a\n"   # dup of batch1 -> bloom-claimed
        "https://newhost3.example/story-c\n"
    )
    q.processAllAvailable()
    q.stop()

    pending = sched.store.read(spark, "pending", sched.store.last_round())
    urls = [r.url for r in pending.collect()]
    assert len(urls) == n0 + 3
    assert "https://newhost1.example/story-a" in urls
    assert "https://newhost3.example/story-c" in urls
    assert urls.count("https://newhost1.example/story-a") == 1
    # streamed seeds are schedulable: next round must run fine
    m = sched.run_round(0)
    assert m["scheduled"] > 0


def test_streamed_seeds_have_deterministic_seq(spark, tmp_path):
    sched = _mk_scheduler(spark, tmp_path)
    seeds_dir = tmp_path / "seeds"
    seeds_dir.mkdir()
    (seeds_dir / "b.txt").write_text(
        "https://zz.example/b\nhttps://aa.example/a\nhttps://mm.example/m\n"
    )
    ingest = StreamingSeedIngest(sched)
    q = ingest.start(str(seeds_dir), str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    pending = sched.store.read(spark, "pending", sched.store.last_round())
    new = pending.filter(F.col("seq") >= (1 << 60)).orderBy("seq").collect()
    # seq rank order == url lexicographic order within the batch
    assert [r.url for r in new] == sorted(r.url for r in new)


def test_windowed_host_metrics_with_watermark(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    rows = [
        ("2026-01-01 00:00:05", "h1.x", 200, 120, "amp", "parse:ok"),
        ("2026-01-01 00:20:00", "h1.x", 404, 80, "dynamic", "parse:error"),
        ("2026-01-01 00:40:00", "h2.x", 200, 100, "dynamic", "parse:ok"),
        ("2026-01-01 01:10:00", "h1.x", 200, 60, "amp", "parse:ok"),
    ]
    df = spark.createDataFrame(
        rows, "ts string, host string, status int, fetch_ms int, "
              "source string, phase string"
    ).select(F.col("ts").cast("timestamp").alias("event_time"), "host",
             "status", "fetch_ms", "source", "phase")
    df.write.parquet(str(src / "p0"))

    stream = spark.readStream.schema(df.schema).parquet(str(src) + "/*")
    agg = windowed_host_metrics(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("host_metrics")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "mckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.window_start.strftime("%H:%M"), r.host):
            (r.scheduled, r.ok, r.err, r.n_amp, r.n_dynamic, r.phases)
        for r in spark.sql("SELECT * FROM host_metrics").collect()
    }
    assert got[("00:00", "h1.x")] == (2, 1, 1, 1, 1, "parse:error,parse:ok")
    assert got[("00:00", "h2.x")] == (1, 1, 0, 0, 1, "parse:ok")
    assert got[("01:00", "h1.x")] == (1, 1, 0, 1, 0, "parse:ok")


def test_streamed_seeds_carry_full_frontier_schema(spark, tmp_path):
    """Streamed pending rows must emit the full 7-column FRONTIER_COLS
    schema: a 5-column append alongside init's 7-column files makes the
    un-merged parquet read resolve to an arbitrary footer (silently
    dropping attempt/not_before, or reading them as NULL and dropping
    streamed seeds at the not_before eligibility gate)."""
    from horseman_article_parser_spark.plans.crawl import FRONTIER_COLS

    sched = _mk_scheduler(spark, tmp_path)
    seeds_dir = tmp_path / "seeds2"
    seeds_dir.mkdir()
    (seeds_dir / "b.txt").write_text("https://streamed.example/story-z\n")
    ingest = StreamingSeedIngest(sched)
    q = ingest.start(str(seeds_dir), str(tmp_path / "ckpt2"))
    q.processAllAvailable()
    q.stop()

    pending = sched.store.read(spark, "pending", sched.store.last_round())
    assert pending.columns == FRONTIER_COLS
    row = pending.filter(F.col("url") == "https://streamed.example/story-z").collect()
    assert len(row) == 1
    assert row[0]["attempt"] == 0 and row[0]["not_before"] == 0
    # the streamed row is eligible (not_before <= round) and schedulable
    wave = sched.store  # run a round and confirm it can be scheduled
    stats = sched.run_round(0)
    scheduled = sched.store.read(spark, "waves", 0)
    urls = {r["url"] for r in scheduled.collect()}
    assert stats["scheduled"] > 0
    assert "https://streamed.example/story-z" in urls or stats["scheduled"] >= 20


def test_windowed_metrics_append_mode_drops_late_events(spark, tmp_path):
    """T7 watermark semantics under APPEND output: a window emits once
    the watermark passes its end, and an event arriving later than the
    watermark allows is DROPPED — the emitted row never changes.
    (The complete-mode test above can't see this: complete keeps all
    state forever.)"""
    src = tmp_path / "events_late"
    src.mkdir()

    def write_batch(name, rows):
        df = spark.createDataFrame(
            [(*r, "dynamic", "parse:ok") for r in rows],
            "ts string, host string, status int, fetch_ms int, "
            "source string, phase string",
        ).select(F.col("ts").cast("timestamp").alias("event_time"),
                 "host", "status", "fetch_ms", "source", "phase")
        df.write.parquet(str(src / name))

    # batch 1: two events in the 00:00 hour window, then one far ahead
    # at 10:00 that advances the watermark (10:00 - 2h = 08:00) past the
    # 00:00 window's end so it finalizes and emits
    write_batch("p0", [
        ("2026-01-01 00:00:05", "h1.x", 200, 100),
        ("2026-01-01 00:20:00", "h1.x", 500, 100),
        ("2026-01-01 10:00:00", "h9.x", 200, 100),
    ])
    stream = spark.readStream.schema(
        "event_time timestamp, host string, status int, fetch_ms int, "
        "source string, phase string"
    ).parquet(str(src) + "/*")
    agg = windowed_host_metrics(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("late_metrics")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "lckpt"))
        .start()
    )
    q.processAllAvailable()
    # batch 2: a LATE event for the already-finalized 00:00 window —
    # beyond the 2-hour watermark, it must be dropped
    write_batch("p1", [("2026-01-01 00:30:00", "h1.x", 200, 100)])
    q.processAllAvailable()
    q.stop()
    rows = [
        r for r in spark.sql("SELECT * FROM late_metrics").collect()
        if r.host == "h1.x"
    ]
    assert len(rows) == 1  # emitted exactly once, never re-emitted
    assert (rows[0].scheduled, rows[0].ok, rows[0].err) == (2, 1, 1)


def test_multibatch_streamed_seeds_match_simulator(spark, tmp_path):
    """Engine-vs-simulator parity for MULTI-batch streamed ingest
    (review r4): two seed files at maxFilesPerTrigger=1 become batches
    0 and 1 with seqs base + batch_id*2^20 + url-rank; the simulator's
    (batch_id, urls) form must replay the engine's next-round wave
    exactly."""
    from horseman_article_parser_spark.datagen.frontier import seed_urls
    from horseman_article_parser_spark.plans.reference_sim import sim_crawl

    cfg = CrawlConfig(wave_size=12, round0_limit=8, default_host_budget=2,
                      n_shards=4, total_bloom_bits=1 << 18)
    sched = CrawlScheduler(spark, str(tmp_path / "store"), cfg)
    seeds = build_seed_frontier(spark, 40)
    sched.init_from_seeds(seeds)
    sched.run_round(0)
    seeds_dir = tmp_path / "seeds"
    seeds_dir.mkdir()
    batch0 = [f"https://latea.example/p/{i}" for i in range(3)]
    batch1 = [f"https://lateb.example/p/{i}" for i in range(3)]
    (seeds_dir / "a.txt").write_text("\n".join(batch0))
    ingest = StreamingSeedIngest(sched)
    q = ingest.start(str(seeds_dir), str(tmp_path / "ckpt"),
                     max_files_per_trigger=1)
    q.processAllAvailable()
    (seeds_dir / "b.txt").write_text("\n".join(batch1))
    q.processAllAvailable()
    q.stop()
    sched.run_round(1)
    w1 = sched.store.read(spark, "waves", 1).orderBy("pos").collect()

    sim = sim_crawl(
        seed_urls(40), 2, wave_size=12, round0_limit=8,
        default_host_budget=2,
        streamed_seeds={0: [(0, batch0), (1, batch1)]},
    )
    assert [r.url for r in w1] == sim[1]
    # both streamed hosts are budget-capped at 2 in the wave
    streamed = [u for u in sim[1] if "late" in u]
    assert len([u for u in streamed if "latea" in u]) == 2
    assert len([u for u in streamed if "lateb" in u]) == 2
