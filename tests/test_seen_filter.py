"""URL-seen filter: exact anti-join correctness, bloom test-and-set
semantics, version/resume behavior, measured false-positive rate
(SURVEY §2.3 J1, §4 custom component #1)."""

import json
import os

import numpy as np
import pyspark.sql.functions as F
import pytest

from horseman_article_parser_spark.operators.seen_filter import (
    BloomSeenFilter,
    CuckooSeenFilter,
    ExactSeenFilter,
    _bit_positions,
)


def _df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], ["url"])


def test_exact_claim_unseen(spark, tmp_store):
    f = ExactSeenFilter(tmp_store)
    got1 = {r["url"] for r in f.claim_unseen(_df(spark, ["a", "b", "c"])).collect()}
    assert got1 == {"a", "b", "c"}
    got2 = {r["url"] for r in f.claim_unseen(_df(spark, ["b", "c", "d"])).collect()}
    assert got2 == {"d"}
    # resume from disk: a fresh instance sees all prior state
    g = ExactSeenFilter(tmp_store)
    g.resume(f.version)
    got3 = {r["url"] for r in g.claim_unseen(_df(spark, ["a", "d", "e"])).collect()}
    assert got3 == {"e"}


def test_bloom_claim_unseen_no_false_negatives(spark, tmp_store):
    f = BloomSeenFilter(tmp_store, n_shards=8, total_bits=1 << 18)
    urls1 = [f"https://h{i % 20}.x/p-{i}" for i in range(500)]
    got1 = {r["url"] for r in f.claim_unseen(_df(spark, urls1)).collect()}
    assert got1 == set(urls1)  # empty filter: everything is new
    # second pass: every URL already inserted must be rejected (no FN)
    got2 = {r["url"] for r in f.claim_unseen(_df(spark, urls1)).collect()}
    assert got2 == set()


def test_bloom_resume_and_fp_rate(spark, tmp_store):
    f = BloomSeenFilter(tmp_store, n_shards=8, total_bits=1 << 20, k=7)
    urls1 = [f"https://h{i % 50}.x/a-{i}" for i in range(2000)]
    f.claim_unseen(_df(spark, urls1)).count()

    g = BloomSeenFilter(tmp_store, n_shards=8, total_bits=1 << 20, k=7)
    g.resume(f.version)
    # none of the inserted urls pass after resume
    again = g.claim_unseen(_df(spark, urls1[:300])).count()
    assert again == 0
    # fresh urls: FP rate far below 1% at this load factor
    fresh = [f"https://h{i % 50}.x/b-{i}" for i in range(2000)]
    claimed = g.claim_unseen(_df(spark, fresh)).count()
    fp_rate = 1.0 - claimed / len(fresh)
    assert fp_rate < 0.01, f"bloom FP rate too high: {fp_rate}"


FILTERS = {
    "exact": ExactSeenFilter,
    "bloom": lambda store: BloomSeenFilter(store, n_shards=8, total_bits=1 << 20),
    "cuckoo": lambda store: CuckooSeenFilter(store, n_shards=8, buckets_per_shard=1 << 10),
}


@pytest.mark.parametrize("mode", sorted(FILTERS))
def test_resume_rolls_back_to_the_given_version(spark, tmp_store, mode):
    """resume(v) restores version v, not the newest one on disk: claims
    made after v are forgotten, also those of shards a later claim at the
    same version leaves untouched."""
    a = [f"https://h{i % 30}.x/a-{i}" for i in range(400)]
    b = [f"https://h{i % 30}.x/b-{i}" for i in range(400)]
    f = FILTERS[mode](tmp_store)
    f.claim_unseen(_df(spark, a))
    assert f.claim_unseen(_df(spark, b)).count() == len(b)
    g = FILTERS[mode](tmp_store)
    g.resume(0)
    # first a few of B, then all of B: the rest claim again
    first = {r["url"] for r in g.claim_unseen(_df(spark, b[:3])).collect()}
    assert first == set(b[:3])
    again = {r["url"] for r in g.claim_unseen(_df(spark, b)).collect()}
    assert again <= set(b[3:])
    if mode == "exact":
        assert again == set(b[3:])
    else:  # apart from false positives
        assert len(again) >= len(b) - 3 - 4
    assert not {r["url"] for r in g.claim_unseen(_df(spark, a)).collect()}


@pytest.mark.parametrize("mode", sorted(FILTERS))
def test_dedup_first_matches_groupby_min_struct(spark, tmp_store, mode):
    """claim_unseen(dedup_first=...) keeps, per url, the row an upstream
    groupBy(url).agg(min(struct(...))) keeps, on every filter."""
    def url(j):
        return f"https://h{j % 9}.x/d-{j}"

    rng = np.random.RandomState(7)
    # 70 urls, ~6 copies each; the first 10 urls are already seen
    rows = [(int(rng.randint(5)), url(i % 70), int(rng.randint(100))) for i in range(400)]
    batch = spark.createDataFrame(rows, "a int, url string, b int")
    seen = {url(j) for j in range(10)}
    f = FILTERS[mode](tmp_store)
    f.claim_unseen(_df(spark, sorted(seen)))
    claimed = f.claim_unseen(batch, dedup_first=["a", "b"])
    assert claimed.columns == ["a", "url", "b"]
    first = batch.groupBy("url").agg(F.min(F.struct("a", "b")).alias("m"))
    want = {(r["m"]["a"], r["url"], r["m"]["b"]) for r in first.collect()
            if r["url"] not in seen}
    assert len(want) == 60
    got = [tuple(r) for r in claimed.collect()]
    assert len(got) == len(set(got))
    assert set(got) == want


@pytest.mark.parametrize("mode", ["bloom", "cuckoo"])
def test_resume_adopts_the_persisted_geometry(spark, tmp_store, mode):
    """A store reopened with another shard count is probed with the
    geometry it was written with: no seen URL comes back as new."""
    urls = [f"https://h{i % 20}.x/g-{i}" for i in range(500)]
    f = FILTERS[mode](tmp_store)
    f.claim_unseen(_df(spark, urls))
    g = type(f)(tmp_store, n_shards=16)
    g.resume(f.version)
    assert g.n_shards == 8
    assert g.claim_unseen(_df(spark, urls)).count() == 0


def test_bloom_more_shards_than_tasks_matches_numpy_reference(spark, tmp_store):
    """32 shards on fewer cores: every task owns several shards. The
    claimed rows, each shard bitmap and each manifest must equal a numpy
    reference built from Spark's xxhash64 values."""
    n_shards, k = 32, 7
    cores = spark.sparkContext.defaultParallelism
    assert cores < n_shards
    f = BloomSeenFilter(tmp_store, n_shards=n_shards, total_bits=1 << 18, k=k)
    bits = f.bits_per_shard
    urls = [f"https://h{i % 40}.x/s-{i}" for i in range(1000)]
    hashes = {
        r["url"]: (r["h1"], r["h2"])
        for r in _df(spark, urls + [f"https://n.x/{i}" for i in range(12)]).select(
            "url",
            F.xxhash64("url").alias("h1"),
            F.xxhash64("url", F.lit(0x9E3779B9)).alias("h2"),
        ).collect()
    }
    ref = {s: np.zeros(bits // 8 + 1, dtype=np.uint8) for s in range(n_shards)}
    files: dict[str, str] = {}
    data_dir = os.path.join(tmp_store, "bloom", "data")
    # second claim: 100 seen urls and 12 new ones, so most shards go
    # untouched and must be carried forward by reference
    batches = [urls, urls[-100:] + [f"https://n.x/{i}" for i in range(12)]]
    for version, batch in enumerate(batches):
        claimed = f.claim_unseen(_df(spark, batch))
        assert claimed.rdd.getNumPartitions() == min(n_shards, cores)
        want, touched = set(), set()
        for u in batch:
            h1, h2 = hashes[u]
            shard = h1 % n_shards
            pos = _bit_positions(np.array([h1]), np.array([h2]), k, bits)[0]
            bitmap = ref[shard]
            if not all(bitmap[p >> 3] >> (p & 7) & 1 for p in pos):
                want.add(u)
                touched.add(shard)
        for u in want:  # set bits only after probing the whole batch
            h1, h2 = hashes[u]
            for p in _bit_positions(np.array([h1]), np.array([h2]), k, bits)[0]:
                ref[h1 % n_shards][p >> 3] |= 1 << (p & 7)
        assert {r["url"] for r in claimed.collect()} == want
        with open(os.path.join(tmp_store, "bloom", f"manifest_v{version}.json")) as fh:
            shards = json.load(fh)["shards"]
        written = {name for name in os.listdir(data_dir)
                   if name.startswith(f"v{version}_")}
        assert written == {f"v{version}_shard_{s}.bin" for s in touched}
        files.update({str(s): os.path.join(data_dir, f"v{version}_shard_{s}.bin")
                      for s in touched})
        assert shards == files
        for key, path in shards.items():
            assert (np.fromfile(path, dtype=np.uint8) == ref[int(key)]).all(), key
    assert 0 < len(touched) < n_shards


def test_cuckoo_shard_state_does_not_depend_on_task_sharing(spark, tmp_path):
    """The eviction RNG is seeded per shard: a shard's table is the same
    whether or not other shards' rows share its task."""
    n_shards = 16
    assert spark.sparkContext.defaultParallelism < n_shards
    # ~28 fingerprints per 8-bucket x 4-slot shard: evictions happen
    urls = [f"https://h{i % 30}.x/q-{i}" for i in range(450)]
    shard_of = {r["url"]: r["s"] for r in _df(spark, urls).select(
        "url", F.pmod(F.xxhash64("url"), F.lit(n_shards)).alias("s")).collect()}
    upper = [u for u in urls if shard_of[u] >= n_shards // 2]
    tables = []
    for name, batch in (("all", urls), ("upper", upper)):
        f = CuckooSeenFilter(str(tmp_path / name), n_shards=n_shards,
                             buckets_per_shard=8)
        f.claim_unseen(_df(spark, batch))
        with open(os.path.join(f.store_dir, "cuckoo", "manifest_v0.json")) as fh:
            tables.append({int(s): np.load(p) for s, p in json.load(fh)["shards"].items()})
    full, alone = tables
    assert set(alone) == set(range(n_shards // 2, n_shards))
    for s, table in alone.items():
        assert (full[s] == table).all(), s


def test_cuckoo_claim_release_resume(spark, tmp_store):
    f = CuckooSeenFilter(tmp_store, n_shards=8, buckets_per_shard=1 << 10)
    urls1 = [f"https://h{i % 20}.x/c-{i}" for i in range(500)]
    got1 = {r["url"] for r in f.claim_unseen(_df(spark, urls1)).collect()}
    assert got1 == set(urls1)
    # no false negatives on re-claim
    got2 = {r["url"] for r in f.claim_unseen(_df(spark, urls1)).collect()}
    assert got2 == set()
    # deletion: released URLs become claimable again (bloom cannot)
    released = {r["url"] for r in f.release(_df(spark, urls1[:50])).collect()}
    assert released == set(urls1[:50])
    got3 = {r["url"] for r in f.claim_unseen(_df(spark, urls1[:60])).collect()}
    assert set(urls1[:50]) <= got3  # the released 50 re-claim
    assert got3 <= set(urls1[:60])
    # resume from disk
    g = CuckooSeenFilter(tmp_store, n_shards=8, buckets_per_shard=1 << 10)
    g.resume(f.version)
    got4 = {r["url"] for r in g.claim_unseen(_df(spark, urls1)).collect()}
    assert got4 == set()


def test_cuckoo_fp_rate_bounded(spark, tmp_store):
    f = CuckooSeenFilter(tmp_store, n_shards=8, buckets_per_shard=1 << 10)
    ins = [f"https://h{i % 50}.x/i-{i}" for i in range(3000)]
    f.claim_unseen(_df(spark, ins))
    probe = [f"https://h{i % 50}.x/new-{i}" for i in range(3000)]
    claimed = f.claim_unseen(_df(spark, probe)).count()
    fp_rate = 1 - claimed / len(probe)
    # 16-bit fingerprints, 4-slot buckets at ~9% load: FP ~ 2*4/2^16
    assert fp_rate < 0.01, fp_rate


def test_crawl_scheduler_with_cuckoo(spark, tmp_store):
    from horseman_article_parser_spark.datagen.frontier import build_seed_frontier
    from horseman_article_parser_spark.plans.crawl import CrawlConfig, CrawlScheduler

    cfg = CrawlConfig(wave_size=20, round0_limit=20, default_host_budget=3,
                      n_shards=8, seen_mode="cuckoo")
    sched = CrawlScheduler(spark, tmp_store, cfg)
    sched.init_from_seeds(build_seed_frontier(spark, 60))
    m0 = sched.run_round(0)
    m1 = sched.run_round(1)
    assert m0["scheduled"] == 20 and m1["scheduled"] > 0
    w0 = {r.url for r in sched.store.read(spark, "waves", 0).collect()}
    w1 = {r.url for r in sched.store.read(spark, "waves", 1).collect()}
    assert not (w0 & w1)


def test_cuckoo_buckets_rounded_to_power_of_two(tmp_store):
    # non-power-of-two request (e.g. total_bits/(n_shards*64) = 21845)
    f = CuckooSeenFilter(str(tmp_store), n_shards=2, buckets_per_shard=21845)
    assert f.buckets == 32768  # next power of two
    assert f.buckets & (f.buckets - 1) == 0
    # the alternate-bucket map must be an involution: alt(alt(b)) == b
    b = np.arange(f.buckets, dtype=np.int64)
    fp = np.full(f.buckets, 12345, dtype=np.uint16)
    alt = f._alt_bucket(b, fp)
    assert (f._alt_bucket(alt, fp) == b).all()


def test_cuckoo_full_table_undo_preserves_claims(tmp_store):
    """MAX_KICKS exhaustion must not evict a previously-inserted
    fingerprint (the old code dropped the kicked victim)."""
    f = CuckooSeenFilter(str(tmp_store), n_shards=1, buckets_per_shard=2)
    rng = np.random.RandomState(0)
    table = np.zeros((f.buckets, f.SLOTS), dtype=np.uint16)
    inserted = []
    # over-fill a 2-bucket x 4-slot table until insert fails
    for fp in range(1, 40):
        b1 = fp % f.buckets
        b2 = int(f._alt_bucket(np.array([b1]), np.array([fp], dtype=np.uint16))[0])
        before = table.copy()
        ok = f._insert_one(table, rng, b1, b2, fp)
        if ok:
            inserted.append((b1, b2, fp))
        else:
            # failed insert must leave the table EXACTLY as it was
            assert (table == before).all()
    assert inserted, "expected at least one successful insert"
    # every successfully inserted fingerprint is still findable
    for b1, b2, fp in inserted:
        arr = np.array([fp], dtype=np.uint16)
        hit = f._contains(
            table, np.array([b1]), 
            f._alt_bucket(np.array([b1]), arr), arr
        )
        assert hit[0], f"fingerprint {fp} lost from table"
