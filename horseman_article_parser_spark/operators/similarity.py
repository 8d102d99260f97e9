"""Similarity search over embedding columns (array<float>): brute-force
cosine top-k as the exact baseline, random-hyperplane LSH and a
centroid-routed IVF variant as the scale paths.

No counterpart exists in the reference (it has no vector data); this is
the training-data-pipeline surface the north rule's image+caption corpus
needs (caption/image embedding dedup + retrieval).

Design rules:
- Dot products via `zip_with` + `aggregate` higher-order functions —
  JVM-side, codegen'd, no Python crossing; doubles accumulated in index
  order so the DuckDB oracle (list_dot_product) reproduces values bit-for-bit.
- Brute-force top-k broadcasts the (small) query set and computes
  per-partition top-k under `Window(query).orderBy(...) row_number<=k`;
  the shuffle carries only (query_id, vec_id, score) triples, never vectors.
- IVF: k centroids (tiny, broadcast) route each vector to its nearest
  centroid once (narrow pass); queries probe `n_probe` nearest lists,
  turning the O(N·Q) scan into O(N·Q·n_probe/k) with recall traded
  explicitly — the standard 100 TB ANN shape.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window


def dot_col(a: Column, b: Column) -> Column:
    """Σ a_i·b_i as double, accumulated left-to-right (oracle-parity)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column, norm_a: Column | None = None,
               norm_b: Column | None = None) -> Column:
    na = norm_a if norm_a is not None else l2_norm_col(a)
    nb = norm_b if norm_b is not None else l2_norm_col(b)
    return dot_col(a, b) / (na * nb)


# --------------------------------------------------------- brute force


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k of each (query_id, q_vec) query over the
    (vec_id, embedding) corpus: broadcast the query set against the corpus.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k per query,
    ties broken by neighbor_id for determinism. The only shuffle is the
    per-query top-k window over score triples."""
    q = F.broadcast(queries.select(F.col("query_id"), F.col("q_vec")))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_v"),
        l2_norm_col(F.col("embedding")).alias("_nv"),
    )
    scored = c.crossJoin(q).select(
        F.col("query_id"),
        "neighbor_id",
        cosine_col(F.col("q_vec"), F.col("_v"), l2_norm_col(F.col("q_vec")), F.col("_nv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------- LSH


# LSH signature: ANN_PLANES random hyperplanes over the corpus's
# ANN_DIM-dimensional embeddings, drawn from Random(ANN_SEED); the oracle
# SQL inlines the same planes
ANN_DIM = 64
ANN_PLANES = 8
ANN_SEED = 7


def hyperplanes() -> list[list[float]]:
    """Deterministic unit-free random hyperplanes (seeded, reproducible
    across driver and oracle — the literal values are inlined in both)."""
    rng = random.Random(ANN_SEED)
    return [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(ANN_DIM)]
        for _ in range(ANN_PLANES)
    ]


def hyperplane_bucket_col(vec: Column) -> Column:
    """Sign-pattern bucket id in [0, 2^ANN_PLANES): bit p = (vec·plane_p) > 0."""
    planes = hyperplanes()
    bucket = None
    for p, plane in enumerate(planes):
        arr = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot_col(vec, arr) > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bit if bucket is None else bucket + bit
    return bucket


# ---------------------------------------------------------------- IVF


# trained IVF: IVF_TRAIN_CENTS centroids after IVF_TRAIN_ITERS Lloyd
# iterations from the first centroids in (vec_id % IVF_TRAIN_SEED_MOD,
# vec_id) order; the oracle SQL unrolls the same iterations
IVF_TRAIN_CENTS = 8
IVF_TRAIN_ITERS = 2
IVF_TRAIN_SEED_MOD = 97


def train_centroids(corpus: DataFrame) -> DataFrame:
    """Lloyd's k-means over DataFrame ops. Init = deterministic sample
    (vec_id ordering); each iteration is one assign (broadcast centroids)
    + one mean-reduce (posexplode → mean per (cluster, dim)). Centroid
    tables are tiny and always broadcast.

    Each centroid mean is an INTEGER sum of round(val·10^6)
    (order-independent, exact) divided back in a pinned expression
    order, so an independent engine (the DuckDB oracle twin) reproduces
    the trained centroids bit-for-bit regardless of partial aggregation
    order."""
    # init: TakeOrdered of IVF_TRAIN_CENTS rows (tiny, deterministic
    # order), numbered on the driver — no RDD API and no extra job
    seed_rows = (
        corpus.orderBy(F.col("vec_id") % IVF_TRAIN_SEED_MOD, "vec_id")
        .limit(IVF_TRAIN_CENTS)
        .select(F.col("embedding").alias("c_vec"))
        .collect()
    )
    cents = corpus.sparkSession.createDataFrame(
        [(i, list(r["c_vec"])) for i, r in enumerate(seed_rows)],
        "cluster int, c_vec array<float>",
    )
    for _ in range(IVF_TRAIN_ITERS):
        assigned = assign_clusters(corpus, cents)
        exploded = (
            assigned.join(corpus, "vec_id")
            .select("cluster", F.posexplode(F.col("embedding")).alias("d", "val"))
        )
        mean = (
            F.sum(F.round(F.col("val").cast("double") * 1_000_000)
                  .cast("long")).cast("double")
            / F.lit(1_000_000.0)
        ) / F.count("*").cast("double")
        cents = (
            exploded.groupBy("cluster", "d")
            .agg(mean.alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("_dm"))
            .select(
                "cluster",
                F.transform(F.col("_dm"), lambda s: s["m"].cast("float")).alias("c_vec"),
            )
        )
    return cents.select("cluster", "c_vec")


def assign_clusters(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest centroid per vector (max cosine; min cluster id ties)."""
    joined = corpus.crossJoin(F.broadcast(centroids))
    sim = cosine_col(F.col("embedding"), F.col("c_vec"))
    w = Window.partitionBy("vec_id").orderBy(F.desc(sim), F.asc("cluster"))
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("vec_id"), "cluster")
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
             k: int = 10, n_probe: int = 4) -> DataFrame:
    """IVF search: query probes its n_probe nearest centroid lists; exact
    cosine rerank inside the probed lists only."""
    assigned = assign_clusters(corpus, centroids)
    inv = corpus.join(assigned, "vec_id").select(
        F.col("cluster"), F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_v"), l2_norm_col(F.col("embedding")).alias("_nv"),
    )
    qc = queries.crossJoin(F.broadcast(centroids)).select(
        F.col("query_id"), F.col("q_vec").alias("_qv"),
        F.col("cluster"), cosine_col(F.col("q_vec"), F.col("c_vec")).alias("_csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("_csim"), F.asc("cluster"))
    probes = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "_qv", "cluster", l2_norm_col(F.col("_qv")).alias("_nq"))
    )
    scored = inv.join(F.broadcast(probes), "cluster").select(
        "query_id", "neighbor_id",
        cosine_col(F.col("_qv"), F.col("_v"), F.col("_nq"), F.col("_nv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
