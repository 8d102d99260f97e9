"""Dedup skew guards: identical-signature collapse + mega-bucket caps.

The near-dup pair joins (simhash / phash / embedding) must survive a
degenerate corpus where many rows share one signature — the collapse
puts ONE representative per signature into the bucket self-join, and
group/bucket caps bound the expansion (VERDICT r02 #2/#3). Correctness
is pinned by brute-force parity on mixed fixtures.
"""

import itertools

import numpy as np
import pyspark.sql.functions as F

from horseman_article_parser_spark.operators.dedup import (
    EMB_NEAR_DUP_COSINE,
    blocked_hamming_pairs,
    embedding_near_dups,
    simhash_near_pairs,
)
from horseman_article_parser_spark.operators.multimodal import phash_near_dup_pairs
from horseman_article_parser_spark.operators.similarity import hyperplane_bucket_col


def _brute_hamming_pairs(rows, bits, n_blocks, max_hamming):
    """All (id_a<id_b, hamming) pairs that share >=1 exact chunk."""
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    out = set()
    for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
        if ia > ib:
            ia, ib, sa, sb = ib, ia, sb, sa
        shares = any(
            ((sa >> (i * block_bits)) & mask) == ((sb >> (i * block_bits)) & mask)
            for i in range(n_blocks)
        )
        h = bin(sa ^ sb).count("1")
        if shares and h <= max_hamming:
            out.add((ia, ib, h))
    return out


def test_blocked_hamming_brute_force_parity(spark):
    # 8 distinct base signatures + heavy duplication of one of them
    base = [0x1234ABCD, 0x1234ABCC, 0x0F0F0F0F, 0x12340000,
            0x7FFFFFFF, 0x00000001, 0x1234ABCD ^ (1 << 5), 0x55AA55AA]
    rows = [(i, base[i % len(base)]) for i in range(24)]  # 3 copies each
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(df, max_hamming=3, bits=32, n_blocks=4).collect()
    }
    want = _brute_hamming_pairs(rows, 32, 4, 3)
    assert got == want
    # within-group pairs (identical signatures) are present with hamming 0
    assert (0, 8, 0) in got and (8, 16, 0) in got


def test_blocked_hamming_group_cap_prevents_blowup(spark):
    # 50 rows share ONE signature; cap of 10 suppresses the quadratic
    # within-group expansion but keeps cross pairs to the near signature
    sig, near = 0x1234ABCD, 0x1234ABCD ^ 1
    rows = [(i, sig) for i in range(50)] + [(100, near)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    out = simhash_near_pairs(df, max_hamming=3, bits=32, n_blocks=4,
                             max_bucket=10).collect()
    withins = [r for r in out if r.hamming == 0]
    crosses = [r for r in out if r.hamming == 1]
    assert withins == []          # group of 50 > cap: not expanded
    assert len(crosses) == 50     # every member still pairs with the near sig
    # with the default cap the full 50*49/2 within pairs come back
    full = simhash_near_pairs(df, max_hamming=3, bits=32, n_blocks=4).collect()
    assert len([r for r in full if r.hamming == 0]) == 50 * 49 // 2


def test_blocked_hamming_bucket_cap_drops_mega_buckets(spark):
    # 30 DISTINCT signatures that all share chunk 0 (same low 8 bits)
    # -> one (blk=0, chunk) bucket of 30 distinct sigs; cap 5 drops it.
    rows = [(i, (i << 8) | 0xAB) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    capped = blocked_hamming_pairs(df, "simhash", "doc_id", 32, 4,
                                   max_hamming=31, max_bucket=5)
    uncapped = blocked_hamming_pairs(df, "simhash", "doc_id", 32, 4,
                                     max_hamming=31, max_bucket=1000)
    assert capped.count() < uncapped.count()


def test_phash_near_dup_parity_and_dups(spark):
    base = [0x0123456789ABCDEF, 0x0123456789ABCDEE, 0x7EDCBA9876543210]
    rows = [(f"img-{i:03d}", base[i % 3]) for i in range(9)]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_near_dup_pairs(df).collect()
    }
    idx = {f"img-{i:03d}": base[i % 3] for i in range(9)}
    want = set()
    for ia, ib in itertools.combinations(sorted(idx), 2):
        h = bin(idx[ia] ^ idx[ib]).count("1")
        blocks = any(
            ((idx[ia] >> (i * 8)) & 0xFF) == ((idx[ib] >> (i * 8)) & 0xFF)
            for i in range(8)
        )
        if blocks and h <= 6:
            want.add((ia, ib, h))
    assert got == want
    assert ("img-000", "img-003", 0) in got  # identical phashes pair up


def test_embedding_near_dups_collapse_and_parity(spark):
    rng = np.random.RandomState(11)
    dim = 64
    a = rng.randn(dim)
    b = a + rng.randn(dim) * 0.05          # near-dup of a
    others = [rng.randn(dim) for _ in range(6)]
    vecs = {0: a, 1: a, 2: a, 3: b, 4: b}  # ids 0-2 identical, 3-4 identical
    for i, v in enumerate(others):
        vecs[10 + i] = v
    rows = [(int(i), [float(x) for x in v]) for i, v in sorted(vecs.items())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dups(df).collect()
    }
    # expected: pairs sharing the hyperplane bucket with cosine at or
    # above the near-dup floor
    buckets = {
        r.vec_id: r.bucket
        for r in df.select(
            "vec_id",
            hyperplane_bucket_col(F.col("embedding")).alias("bucket"),
        ).collect()
    }
    want = set()
    for ia, ib in itertools.combinations(sorted(vecs), 2):
        va, vb = vecs[ia], vecs[ib]
        cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        if buckets[ia] == buckets[ib] and cos >= EMB_NEAR_DUP_COSINE:
            want.add((ia, ib))
    assert got == want
    assert (0, 1) in got and (1, 2) in got and (3, 4) in got

    # group cap suppresses the identical-triple expansion but keeps the
    # representative-level cross pair to the near-dup group
    capped = {
        (r.id_a, r.id_b)
        for r in embedding_near_dups(df, max_bucket=2).collect()
    }
    assert (0, 1) not in capped and (1, 2) not in capped
    assert (3, 4) in capped  # group of 2 <= cap


def test_embedding_near_dups_plan_never_shuffles_vectors_on_bucket(spark):
    rows = [(i, [float(i + j) for j in range(8)]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plan = embedding_near_dups(df)._jdf.queryExecution().executedPlan().toString()
    # the bucket-keyed exchanges must not carry the embedding column;
    # vectors appear only below id-keyed joins (textual heuristic: no
    # 'embedding' reference inside a hashpartitioning on bucket).
    # executedPlan (not optimizedPlan — the logical plan never prints
    # partitioning, which made the pre-r4 version of this test vacuous).
    bucket_lines = [
        line for line in plan.splitlines() if "hashpartitioning(bucket" in line
    ]
    assert bucket_lines, plan  # the bucket shuffle must actually exist
    for line in bucket_lines:
        assert "embedding" not in line, line


def test_minhash_kernel_matches_declarative(spark):
    """minhash_lsh_batch must be BIT-EXACT with minhash_signatures →
    lsh_band_buckets(carry_signature=True) — same buckets, same mh
    values — over testdata docs plus edge fixtures (empty text, short
    text below one shingle, whitespace-only, repeated boilerplate)."""
    from horseman_article_parser_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS_PER_BAND,
        N_MINHASH,
        lsh_band_buckets,
        minhash_lsh_batch,
        minhash_signatures,
    )

    edge = spark.createDataFrame(
        [(1, ""), (2, "ab"), (3, "   "), (4, "same same same same"),
         (5, "The quick-brown FOX! jumps\nover 42 lazy dogs."),
         (6, "same same same same")],
        "doc_id long, text string",
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for d in (edge, docs.select("doc_id", "text")):
        decl = lsh_band_buckets(
            minhash_signatures(d, n_hashes=N_MINHASH), bands=LSH_BANDS,
            rows_per_band=LSH_ROWS_PER_BAND, carry_signature=True)
        kern = minhash_lsh_batch(d)
        a = sorted(map(tuple, decl.collect()))
        b = sorted(map(tuple, kern.collect()))
        assert a == b, next((x, y) for x, y in zip(a, b) if x != y)


def test_simhash_kernel_matches_declarative(spark):
    """simhash_batch must be BIT-EXACT with the declarative per-bit
    sign-sum plan over testdata plus edge fixtures."""
    from horseman_article_parser_spark.operators.dedup import (
        SIMHASH_BITS,
        simhash,
        simhash_batch,
    )

    edge = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "   "), (4, "a b c d e f g"),
         (5, "The quick-brown FOX! jumps\nover 42 lazy dogs.")],
        "doc_id long, text string",
    )
    # one partition, so an empty and a whitespace-only doc are the LAST
    # rows of a kernel batch, right after docs with tokens
    trailing = spark.createDataFrame(
        [(6, "a b c d e f g"), (7, "lazy dogs"), (8, "   "),
         (9, "")],
        "doc_id long, text string",
    ).coalesce(1)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for d in (edge, trailing, docs.select("doc_id", "text")):
        a = sorted(map(tuple, simhash(d, bits=SIMHASH_BITS).collect()))
        b = sorted(map(tuple, simhash_batch(d).collect()))
        assert a == b, next((x, y) for x, y in zip(a, b) if x != y)
