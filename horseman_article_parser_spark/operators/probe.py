"""S5 HTTP probe (HEAD→GET fallback preflight).

Behavior parity with the reference's httpProbe
(/root/reference/scripts/batch-sample-run.js:34-57): a cheap HEAD
status check before the expensive full fetch; sites that 405 on HEAD
fall back to a short GET. In this engine the probe is a pluggable
`probe_fn(url) -> status` (the sandbox replaces live HTTP with
deterministic synthetic responses, SURVEY §7.3), and the wave stage is
a mapInPandas pass through `overlapped`, the bounded thread-pool map
every fetching kernel uses — probes are pure RTT, so overlapping them
is the whole point.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

PROBE_OK_STATUSES = range(200, 400)
HEAD_FALLBACK_STATUS = 405  # sites that reject HEAD still get a GET
# In-kernel fetch fan-out: real crawls are RTT-bound, so each Arrow batch
# overlaps network waits with a bounded thread pool (sleep/IO releases
# the GIL; extraction stays serial per task so CPU work never
# oversubscribes the cores the task scheduler already owns). Per-host
# volume is bounded per round by the politeness budget computed at wave
# selection; within a wave the reference's worker pool fetches
# concurrently too (reference scripts/batch-sample-run.js:315-338).
FETCH_CONCURRENCY = 8


def probe_ok(status: int) -> bool:
    """Fetch-worthy? ok statuses, or 405 (HEAD rejected → GET anyway)."""
    return status in PROBE_OK_STATUSES or status == HEAD_FALLBACK_STATUS


def overlapped(fn: Callable, items: list) -> list:
    """[fn(x) for x in items] with up to FETCH_CONCURRENCY calls in
    flight. `map` keeps input order, so results line up with the input
    rows whatever order the calls finish in."""
    if len(items) < 2:
        return [fn(x) for x in items]
    with ThreadPoolExecutor(max_workers=min(FETCH_CONCURRENCY, len(items))) as ex:
        return list(ex.map(fn, items))


def probe_urls(frontier: DataFrame, probe_fn: Callable[[str], int]) -> DataFrame:
    """Add (status int, ok boolean) probe columns, probing each `url`;
    rows keep all input columns so the caller filters `ok` before the
    fetch wave."""
    out_schema = T.StructType(
        list(frontier.schema.fields)
        + [T.StructField("status", T.IntegerType()),
           T.StructField("ok", T.BooleanType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            statuses = overlapped(probe_fn, list(pdf["url"]))
            pdf = pdf.copy()
            pdf["status"] = statuses
            pdf["ok"] = [probe_ok(s) for s in statuses]
            yield pdf

    return frontier.mapInPandas(run, schema=out_schema)
