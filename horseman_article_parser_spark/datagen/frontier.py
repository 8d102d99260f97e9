"""Seed frontier generation (deterministic, adversarial).

Mirrors the shape of the reference's seed corpus
(/root/reference/scripts/data/urls.txt: 1,000 newline URLs with
duplicate URLs, duplicate hosts, and junk rows) so the scheduling chain
uniq → uniqueByHost → slice (/root/reference/scripts/batch-sample-run.js:281-283)
has real work to do. `seq` is file order — the crawl-order ground truth.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .synthweb import N_HOSTS_DEFAULT, article_url

SEED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
    ]
)


def seed_urls(n: int, n_hosts: int = N_HOSTS_DEFAULT, seed: int = 42) -> list[str]:
    """Deterministic seed list with dups/junk interleaved (file order)."""
    rng = np.random.RandomState(seed)
    urls: list[str] = []
    for i in range(n):
        r = int(rng.randint(0, 100))
        if r < 80 or not urls:
            k = int(rng.randint(0, n_hosts))
            urls.append(article_url(k, int(rng.randint(0, 3000))))
        elif r < 88:  # exact duplicate of an earlier row (F1 fodder)
            urls.append(urls[int(rng.randint(0, len(urls)))])
        elif r < 93:  # same-host different article (F2 fodder)
            k = int(rng.randint(0, min(5, n_hosts)))
            urls.append(article_url(k, int(rng.randint(0, 3000))))
        elif r < 96:
            urls.append(f"https://host{int(rng.randint(0, n_hosts))}.example/files/doc-{i}.pdf")
        elif r < 98:
            urls.append(f"https://host{int(rng.randint(0, n_hosts))}.example/live/blog-{i}")
        else:
            urls.append(f"ftp://host{int(rng.randint(0, n_hosts))}.example/pub/{i}")
    return urls


def build_seed_frontier(
    spark: SparkSession, n: int, n_hosts: int = N_HOSTS_DEFAULT, seed: int = 42
) -> DataFrame:
    """Seed frontier DataFrame (url, seq) with seq = file order.

    Built driver-side for test scales; at 10^10 scale the seed list is
    already a table (S1: spark.read.text + zipWithIndex equivalent).
    """
    rows = [(u, i) for i, u in enumerate(seed_urls(n, n_hosts, seed))]
    return spark.createDataFrame(rows, SEED_SCHEMA)
