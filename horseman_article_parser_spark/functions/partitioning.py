"""Parallelism hygiene for explode-/UDF-heavy operators.

At production scale (100 TB over many parquet/Iceberg files) scan
parallelism comes from file splits (`spark.sql.files.maxPartitionBytes`)
and these helpers are no-ops. On small local inputs — a single parquet
file with one row group — the scan yields ONE task, serializing any
downstream explode or pandas UDF across an entire local[N] machine.

`fan_out` repartitions a *narrow* upstream (ids + text, pre-explode)
only when its planned parallelism is below the session's cores, so the
shuffle cost is bounded by the small input, never by the exploded or
decoded output, and never triggers on well-partitioned inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition `df` to the session's default parallelism iff its
    current plan yields fewer partitions. No-op (and no shuffle) when the
    source is already split — i.e. always at real scale."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df
    if current >= target:
        return df
    return df.repartition(target)
