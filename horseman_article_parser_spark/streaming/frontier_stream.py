"""Streaming frontier ingestion + crawl metrics (SURVEY §2.9 T1-T8).

The reference's crawl loop is a worker pool pulling from an in-memory
list (/root/reference/scripts/batch-sample-run.js:315-338); its
"rounds" are implicit micro-batches (T1). This module makes that
explicit with Structured Streaming:

- `seed_file_stream` + `StreamingSeedIngest`: new seed-list files
  dropped into a directory arrive as micro-batches (`readStream.text`);
  each batch is trimmed, skip-filtered, canonicalized, claimed against
  the scheduler's URL-seen filter, and added to the pending store with
  batch-deterministic seqs. Checkpointing is the streaming engine's
  offset log + the crawl manifest, which records each applied batch id
  with the seen-filter version its claim made (T6): a batch replayed
  after a crash claims again from the committed version and replaces
  its own pending files, and a replay of a committed batch is skipped.
- `windowed_host_metrics`: per-host windowed counters with a watermark
  for late fetch-completion events (T7/T8) — the streaming restatement
  of the reference's `[progress]` counters
  (/root/reference/scripts/batch-sample-run.js:299-314).

Scale notes: the seed stream shuffles once per batch (the seen-filter's
shard repartition); metrics aggregation is a standard watermarked
hash-agg whose state is bounded by (hosts × open windows).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..functions.urls import canonicalize_url_udf, skip_col
from ..operators.frontier_ops import ordered_zip_with_index, with_host
from ..plans.crawl import new_frontier_rows

# seqs for streamed seeds live above any round-assigned range; batch b
# takes [STREAM_SEQ_BASE + b * BATCH_SEQ_STRIDE, ...)
STREAM_SEQ_BASE = 1 << 60
BATCH_SEQ_STRIDE = 1 << 20


def seed_file_stream(spark: SparkSession, seeds_dir: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """S1 as a stream: newline URLs from files appearing in seeds_dir.
    `maxFilesPerTrigger` is the wave-size knob (T1)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(seeds_dir)
    return (
        df.select(F.trim("value").alias("url"))
        .filter(F.length("url") > 0)
        .filter(~F.col("url").startswith("#"))
    )


class StreamingSeedIngest:
    """foreachBatch bridge: seed stream → seen-filter claim → pending
    store files. One streaming query per scheduler store: its batch ids
    key both the replay check and the streamed seqs."""

    def __init__(self, scheduler):
        self.scheduler = scheduler

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        store, seen = self.scheduler.store, self.scheduler.seen
        # committed before the streaming engine logged it done: a replay
        if batch_id <= store.stream_batch():
            return
        # an attempt that crashed before its commit claimed into a seen
        # version no manifest records; claim again from the committed one
        seen.resume(store.seen_version())
        # politeness applies at wave selection, not at ingest
        cleaned = (
            batch_df.withColumn("url", canonicalize_url_udf(F.col("url")))
            .filter(F.col("url").isNotNull() & ~skip_col(F.col("url")))
            .dropDuplicates(["url"])
        )
        claimed = seen.claim_unseen(cleaned)
        # deterministic per-batch seq: url-order rank inside the batch
        ranked = ordered_zip_with_index(claimed, ["url"], out_col="_idx")
        base = STREAM_SEQ_BASE + batch_id * BATCH_SEQ_STRIDE
        # the full 7-column frontier row, like every other pending
        # writer, so the appended file merges with the round's files
        rows = new_frontier_rows(
            with_host(ranked).filter(F.col("host").isNotNull()),
            seq=F.lit(base) + F.col("_idx"),
        )
        # rows first, under a name a replay of this batch replaces; then
        # one commit records the batch and its claim's seen version
        store.write_part(rows, "pending", store.last_round(), f"stream-{batch_id}")
        store.commit_stream_batch(batch_id, seen.version)

    def start(self, seeds_dir: str, checkpoint_dir: str,
              max_files_per_trigger: int | None = None) -> StreamingQuery:
        stream = seed_file_stream(
            self.scheduler.spark, seeds_dir, max_files_per_trigger
        )
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .start()
        )


# crawl metrics windows: one hour each, and events up to two hours late
# still count
METRICS_WINDOW = "1 hour"
METRICS_WATERMARK = "2 hours"


def windowed_host_metrics(events: DataFrame) -> DataFrame:
    """T7/T8: per-host fetch counters over METRICS_WINDOW `event_time`
    windows with a METRICS_WATERMARK watermark bounding late-data state.

    Besides the status and fetch-time counters, every group carries the
    A2 source-count split and the T8 progress/lineage surface, which is
    why `events` needs `source` and `phase` columns:
    - n_amp / n_dynamic: `source` totals (the reference logs amp vs
      dynamic fetch totals per run, batch-sample-run.js:376-377);
    - `phases`: the ordered distinct set of `phase` tags seen in the
      window (the reference emits phase-tagged parse:status progress
      lines, index.js:136-158), and `last_event` the progress watermark
      (latest event time).
    All are plain streaming-safe aggregates — no extra shuffle beyond
    the window+host one."""
    return (
        events.withWatermark("event_time", METRICS_WATERMARK)
        .groupBy(F.window("event_time", METRICS_WINDOW).alias("win"), "host")
        .agg(
            F.count("*").alias("scheduled"),
            F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("ok"),
            F.sum(F.when(F.col("status") != 200, 1).otherwise(0)).alias("err"),
            F.avg("fetch_ms").alias("avg_ms"),
            F.sum(F.when(F.col("source") == "amp", 1).otherwise(0))
            .alias("n_amp"),
            F.sum(F.when(F.col("source") != "amp", 1).otherwise(0))
            .alias("n_dynamic"),
            F.array_join(F.sort_array(F.collect_set(F.col("phase"))), ",")
            .alias("phases"),
            F.max(F.col("event_time")).alias("last_event"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "host", "scheduled", "ok", "err", "avg_ms",
            "n_amp", "n_dynamic", "phases", "last_event",
        )
    )
