"""Frontier construction operators (SURVEY §2.2 F1/F2/F14, §2.5 W9).

Behavior parity with the reference's scheduling chain
(/root/reference/scripts/batch-sample-run.js:281-283):

    uniq → uniqueByHost(limit) → FIFO assignment by position

expressed as Catalyst-optimizable plans:

- F1 `uniq`          — first-occurrence distinct, order preserved:
                       groupBy(url).agg(min(seq)). Hash aggregate with
                       map-side partial agg; one shuffle on url.
- F2 `uniqueByHost`  — first URL per host then global limit:
                       row_number over (host, seq) + ordered limit.
                       This is the reference's politeness primitive.
- F14 `slice`        — positional start/limit windowing.
- W9 wave order      — orderBy(seq) == the reference's deterministic
                       worker-assignment order (completion order is
                       nondeterministic there; scheduling order is the
                       verified contract, SURVEY §7.3).

Scale notes: the only shuffles are groupBy(url) and the host window —
both keyed on high-cardinality columns, so they spread evenly; the
global `limit` after an orderBy compiles to TakeOrderedAndProject (a
top-k per partition + merge), never a full sort of the frontier.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

from ..functions.urls import host_col


def uniq(frontier: DataFrame) -> DataFrame:
    """First-occurrence distinct preserving seed order (F1).

    min(struct(seq, others...)) instead of min_by per column: min_by
    compiles to a SortAggregate (sort per shuffle partition), while a
    struct min stays in hash aggregation with map-side partials — the
    difference between O(n) and O(n log n) per partition on a 10^10-row
    frontier. seq leads the struct, so struct ordering == seq ordering."""
    others = [c for c in frontier.columns if c not in ("url", "seq")]
    # Plan note: min_by carries string state, so Spark uses a
    # SortAggregate (HashAggregateExec needs fixed-width agg buffers;
    # min(struct)/packed-string variants hit the same limit). The
    # partial/final split still applies — each map task sorts only its
    # own slice and emits one row per distinct url — so the shuffle
    # volume equals the hash-agg plan's; only per-partition sort cost
    # differs. A hash-only alternative (agg min(seq) + self-join back)
    # costs a second full shuffle, which is strictly worse at frontier
    # scale.
    agg = [F.min("seq").alias("seq")] + [
        F.min_by(c, "seq").alias(c) for c in others
    ]
    return frontier.groupBy("url").agg(*agg)


def with_host(df: DataFrame) -> DataFrame:
    """JVM-side host column of `url`; reference uses `new URL(u).host`
    (lowercased, default-port-stripped by the URL class)."""
    return df.withColumn("host", host_col(F.col("url")))


def unique_by_host(df: DataFrame, limit: int | None = None) -> DataFrame:
    """Keep the first URL per host in seed order, then the first `limit`
    hosts in seed order (F2). Unparseable URLs (null host) are dropped,
    matching the reference's silent try/catch skip."""
    if "host" not in df.columns:
        df = with_host(df)
    df = df.filter(F.col("host").isNotNull())
    w = Window.partitionBy("host").orderBy("seq")
    firsts = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if limit is not None:
        firsts = firsts.orderBy("seq").limit(limit)
    return firsts


def slice_frontier(df: DataFrame, start: int, limit: int) -> DataFrame:
    """Positional slice after dedup (F14): rows at ranks [start, start+limit).

    Rank is computed against the current ordering of `seq`; because seq
    values are sparse after dedup, positional (not seq-value) semantics
    are required.

    Scale shape: orderBy(seq).limit(start+limit) compiles to
    TakeOrderedAndProject — a per-partition top-k + merge that never
    sorts (or single-partitions) the frontier. Only the ≤ start+limit
    survivors are then ranked (via the range-partitioned
    ordered_zip_with_index, NOT a partition-less window) to drop the
    first `start`. A row_number() over an un-partitioned window across
    the whole frontier would put 10^10 rows in one task.
    """
    k = start + limit
    topk = df.orderBy("seq").limit(k)
    if start <= 0:
        return topk
    ranked = ordered_zip_with_index(topk, ["seq"], out_col="_pos")
    return ranked.filter(F.col("_pos") >= start).drop("_pos")


def build_wave0(seeds: DataFrame, limit: int, unique_hosts: bool = True) -> DataFrame:
    """Round-0 wave exactly as the reference schedules it (W9):
    uniq → uniqueByHost(limit) (or slice(0, limit)) → orderBy(seq)."""
    deduped = uniq(seeds)
    if unique_hosts:
        wave = unique_by_host(deduped, limit)
    else:
        wave = with_host(slice_frontier(deduped, 0, limit)).filter(
            F.col("host").isNotNull()
        )
    return wave.orderBy("seq")


# URLs one round-robin interleave takes
INTERLEAVE_COUNT = 100


def round_robin_interleave(df: DataFrame, feed_col: str, pos_col: str) -> DataFrame:
    """W8: repeated passes taking one URL per feed until INTERLEAVE_COUNT
    — the reference's host-diversity interleave
    (/root/reference/scripts/fetch-curated-urls.js:261-277).

    Exact order reproduction: rank = position within feed, then global
    order (rank, feed, pos). The limit compiles to TakeOrderedAndProject."""
    w = Window.partitionBy(feed_col).orderBy(pos_col)
    return (
        df.withColumn("rr_rank", F.row_number().over(w))
        .orderBy("rr_rank", feed_col, pos_col)
        .limit(INTERLEAVE_COUNT)
    )


def ordered_zip_with_index(
    df: DataFrame, order_cols: list[str], out_col: str = "idx"
) -> DataFrame:
    """Scalable deterministic global rank over a total order.

    Equivalent to `row_number() over (order by ...)` but WITHOUT the
    single-partition window: range-repartition on the order columns,
    sort within partitions, count rows per partition (tiny aggregate),
    broadcast the prefix offsets, and add partition-local positions in
    one Arrow pass. Two scans instead of one all-to-one shuffle — this
    is what makes per-round seq assignment survive a 10^7-link round.

    `order_cols` must be a total order (include a unique tiebreaker).
    """
    from collections.abc import Iterator

    import pandas as pd

    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 4)
    cols = [F.col(c) for c in order_cols]
    arranged = df.repartitionByRange(n_parts, *cols).sortWithinPartitions(*cols)
    arranged = arranged.withColumn("_pid", F.spark_partition_id())
    # materialize once: the offsets collected below must describe exactly
    # the partitioning the second pass reads (no recompute divergence)
    arranged = arranged.localCheckpoint(eager=True)
    sizes = {
        r["_pid"]: r["cnt"]
        for r in arranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in arranged.schema.fields
    ) + f", `{out_col}` bigint"

    def add_index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        for pdf in batches:
            if not len(pdf):
                continue
            base = offsets[int(pdf["_pid"].iloc[0])]
            pdf = pdf.copy()
            pdf[out_col] = range(base + local, base + local + len(pdf))
            local += len(pdf)
            yield pdf

    result = arranged.mapInPandas(add_index, schema=out_schema).drop("_pid")
    return result
