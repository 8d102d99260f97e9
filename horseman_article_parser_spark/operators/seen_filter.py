"""Distributed URL-seen filter (SURVEY §2.3 J1, §4 custom component #1).

The reference keeps an in-process `Set` of seen URLs/hosts
(/root/reference/scripts/batch-sample-run.js:72-77,
 /root/reference/scripts/fetch-curated-urls.js:262-277). At a 10^10-URL
frontier that set is ~12 GB of bloom bits — too big to broadcast, so it
is SHARDED by url-hash: shard_id = pmod(xxhash64(url), P). A probe (or
test-and-set) shuffles candidate links once, on shard_id, into one task
per core; each task touches only the state of the shards it owns, read
directly from the checkpoint store. State versions are tracked by an
Iceberg-style manifest (a JSON snapshot mapping shard → data file), so
untouched shards are carried forward by reference, never rewritten — the
same trick Iceberg manifests use to avoid rewriting unchanged data files.

Three modes, one call: `claim_unseen(df, dedup_first)` and
`resume(version)` mean the same thing on each.
- exact  — append-only parquet of seen URLs; probe = left-anti join.
           Used by correctness fixtures (zero false positives).
- bloom  — numpy bitmaps, k hash probes derived from two JVM-computed
           xxhash64 values (Kirsch-Mitzenmacher double hashing). A
           false positive drops a genuinely-new URL (never crawled);
           the FP rate is measured against exact mode in tests.
- cuckoo — numpy fingerprint tables; like bloom, but URLs can be
           released (deleted) again.
Bloom and cuckoo share one sharded, versioned store (`ShardedSeenFilter`)
and supply only how a shard is loaded, saved, claimed and released.

A filter does not discover its own version: `resume(version)` restores
exactly the version the crawl manifest recorded with its last commit
(plans/checkpoint.py), so state written by a round that crashed before
its commit is never read.

All per-row work is vectorized numpy inside Arrow-batched mapInPandas.
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

_H1, _H2, _SHARD = "_seen_h1", "_seen_h2", "_seen_shard"


def with_seen_hashes(df: DataFrame, n_shards: int) -> DataFrame:
    """Attach JVM-side (whole-stage-codegen) hash columns of `url` for
    probing."""
    u = F.col("url")
    return (
        df.withColumn(_H1, F.xxhash64(u))
        .withColumn(_H2, F.xxhash64(u, F.lit(0x9E3779B9)))
        .withColumn(_SHARD, F.pmod(F.col(_H1), F.lit(n_shards)).cast("int"))
    )


def _shard_tasks(hashed: DataFrame, n_shards: int) -> DataFrame:
    """Shuffle hashed rows so each shard lands in exactly one task, with
    one task per core: min(n_shards, defaultParallelism) partitions.

    The shard count fixes the on-disk state layout (one bitmap or table
    per shard); it does not set the task count. A task loops over the
    shards it receives, so a Python task's fixed start-up cost is paid
    once per core rather than once per shard."""
    cores = hashed.sparkSession.sparkContext.defaultParallelism
    return hashed.repartition(min(n_shards, cores), F.col(_SHARD))


def _bit_positions(h1: np.ndarray, h2: np.ndarray, k: int, n_bits: int) -> np.ndarray:
    """(n, k) bit positions via double hashing; unsigned-mod arithmetic."""
    u1 = h1.astype(np.uint64)
    u2 = h2.astype(np.uint64) | np.uint64(1)  # force odd so probes differ
    ks = np.arange(k, dtype=np.uint64)[None, :]
    return ((u1[:, None] + ks * u2[:, None]) % np.uint64(n_bits)).astype(np.int64)


def _probe_bitmap(bitmap: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """True where ALL k bits are set (bloom 'maybe seen')."""
    bytes_idx = pos >> 3
    masks = np.left_shift(1, (pos & 7).astype(np.uint8)).astype(np.uint8)
    return ((bitmap[bytes_idx] & masks) == masks).all(axis=1)


def _set_bits(bitmap: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.ravel()
    np.bitwise_or.at(bitmap, flat >> 3, np.left_shift(1, (flat & 7).astype(np.uint8)).astype(np.uint8))


class ShardedSeenFilter:
    """Sharded, versioned filter state over a checkpoint dir:
    `<store>/<KIND>/manifest_v{version}.json` maps shard → data file
    `<store>/<KIND>/data/v{version}_shard_{id}{SUFFIX}`.

    Subclasses supply the per-shard parts: `_load`, `_dump` and the
    claim operation `_claim`."""

    KIND: str
    SUFFIX: str
    # attributes the manifest records; a resume adopts them
    GEOMETRY: tuple[str, ...]

    def __init__(self, store_dir: str, n_shards: int):
        self.store_dir = store_dir
        self.n_shards = n_shards
        self.version = -1
        self.data_dir = os.path.join(store_dir, self.KIND, "data")
        os.makedirs(self.data_dir, exist_ok=True)

    # ------------------------------------------------------------ state

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.store_dir, self.KIND, f"manifest_v{version}.json")

    def _shard_path(self, version: int, shard: int) -> str:
        return os.path.join(self.data_dir, f"v{version}_shard_{shard}{self.SUFFIX}")

    def _read_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def _commit_manifest(self, version: int, shards: dict[str, str]) -> None:
        payload = {
            "version": version,
            **{name: getattr(self, name) for name in self.GEOMETRY},
            "shards": shards,
        }
        path = self._manifest_path(version)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path))
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, path)  # atomic snapshot commit

    def _save(self, state: np.ndarray, path: str) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.data_dir)
        with os.fdopen(fd, "wb") as f:
            self._dump(state, f)
        os.replace(tmp, path)

    def resume(self, version: int) -> None:
        """Restore exactly `version` (-1 = empty), the version the crawl
        manifest recorded, with the geometry it was written with: probing
        a shard under another geometry misses its bits or fingerprints
        (false negatives, so seen URLs would be crawled again)."""
        if version >= 0:
            meta = self._read_manifest(version)
            for name in self.GEOMETRY:
                setattr(self, name, int(meta[name]))
        self.version = version

    # ------------------------------------------------------------- ops

    def claim_unseen(self, df: DataFrame,
                     dedup_first: list[str] | None = None) -> DataFrame:
        """Atomic test-and-set: returns rows whose `url` was not seen, and
        commits a new state version with those URLs inserted.

        One shuffle (on shard_id) into min(n_shards, cores) tasks; each
        task loads, probes, updates and writes only the shards it owns.

        `dedup_first`: column names forming the 'first discovery'
        ordering. When given, duplicate urls within the batch are
        collapsed to the row with the lexicographically smallest
        (dedup_first...) tuple, as a groupBy(url).agg(min(struct(...)))
        would — but INSIDE the shard task: the shard shuffle already
        co-locates every copy of a url (shard = f(url)), so the claim's
        one shuffle does double duty (guide §2.4)."""
        return self._apply(df, self._claim, dedup_first)

    def _apply(self, df: DataFrame, op: Callable,
               dedup_first: list[str] | None = None) -> DataFrame:
        """The shared claim loop: run `op(state, h1, h2, salt) ->
        (emit mask, changed)` on each shard's rows, save the shards it
        changed, and commit them as the next version. `op` may update
        `state` in place; `salt` (version ^ shard id) seeds any randomness
        per shard, so a shard's state does not depend on which other
        shards share its task."""
        in_cols = df.columns
        hashed = with_seen_hashes(df, self.n_shards)
        shards = self._read_manifest(self.version)["shards"] if self.version >= 0 else {}
        new_version = self.version + 1
        # files left at this version by an attempt that never committed
        # (a crash, or a rollback by resume) must not reach its manifest
        for shard in range(self.n_shards):
            with contextlib.suppress(FileNotFoundError):
                os.remove(self._shard_path(new_version, shard))

        out_schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in hashed.schema.fields
        )

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            parts = [b for b in batches if len(b)]
            if not parts:
                return
            pdf = pd.concat(parts, ignore_index=True)
            if dedup_first:
                pdf = pdf.sort_values(
                    ["url", *dedup_first], kind="mergesort"
                ).drop_duplicates("url", keep="first")
            for shard_id, grp in pdf.groupby(_SHARD, sort=True):
                shard = int(shard_id)
                path = shards.get(str(shard))
                state = self._load(path if path is not None and os.path.exists(path) else None)
                emit, changed = op(
                    state,
                    grp[_H1].values.astype(np.int64),
                    grp[_H2].values.astype(np.int64),
                    new_version ^ shard,
                )
                if changed:
                    self._save(state, self._shard_path(new_version, shard))
                if emit.any():
                    yield grp.loc[emit]

        result = (
            _shard_tasks(hashed, self.n_shards)
            .mapInPandas(run, schema=out_schema)
            .select(*in_cols)
        )
        # Materialize now: the state mutation must happen-before manifest
        # commit (this is the micro-batch barrier, like a streaming epoch).
        result = result.localCheckpoint(eager=True)
        committed = dict(shards)
        for shard in range(self.n_shards):
            path = self._shard_path(new_version, shard)
            if os.path.exists(path):
                committed[str(shard)] = path
        self._commit_manifest(new_version, committed)
        self.version = new_version
        return result


class BloomSeenFilter(ShardedSeenFilter):
    """Sharded, versioned bloom URL-seen filter over a checkpoint dir."""

    KIND, SUFFIX = "bloom", ".bin"
    GEOMETRY = ("n_shards", "bits_per_shard", "k")

    def __init__(
        self,
        store_dir: str,
        n_shards: int = 32,
        total_bits: int = 1 << 24,
        k: int = 7,
    ):
        super().__init__(store_dir, n_shards)
        self.bits_per_shard = max(64, total_bits // n_shards)
        self.k = k

    def _load(self, path: str | None) -> np.ndarray:
        if path is None:
            return np.zeros(self.bits_per_shard // 8 + 1, dtype=np.uint8)
        return np.fromfile(path, dtype=np.uint8)

    @staticmethod
    def _dump(bitmap: np.ndarray, f) -> None:
        bitmap.tofile(f)

    def _claim(self, bitmap, h1, h2, salt):
        pos = _bit_positions(h1, h2, self.k, self.bits_per_shard)
        new = ~_probe_bitmap(bitmap, pos)
        _set_bits(bitmap, pos[new])
        return new, bool(new.any())


class ExactSeenFilter:
    """Exact URL-seen set: append-only parquet deltas + anti-join probe.

    Correctness twin of the bloom filter (fixtures + FP measurement).
    At scale the deltas would be an Iceberg table bucketed by
    hash(url) so the anti-join is co-partitioned (no re-shuffle).
    """

    def __init__(self, store_dir: str):
        self.store_dir = os.path.join(store_dir, "exact_seen")
        self.version = -1
        os.makedirs(self.store_dir, exist_ok=True)

    def resume(self, version: int) -> None:
        """Restore exactly `version` (-1 = empty); later deltas are not
        read, and the next claim overwrites the first of them."""
        self.version = version

    def _seen_df(self, spark: SparkSession) -> DataFrame | None:
        paths = [
            os.path.join(self.store_dir, f"v{i}") for i in range(self.version + 1)
        ]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            return None
        # every delta is one `url` column: with the schema given, the
        # read starts no schema-inference job
        return spark.read.schema("url string").parquet(*paths)

    def claim_unseen(self, df: DataFrame,
                     dedup_first: list[str] | None = None) -> DataFrame:
        """See `ShardedSeenFilter.claim_unseen`; here the in-batch dedup
        is the groupBy(url).agg(min(struct(...))) itself."""
        if dedup_first:
            rest = [c for c in df.columns if c != "url" and c not in dedup_first]
            first = df.groupBy("url").agg(
                F.min(F.struct(*dedup_first, *rest)).alias("_first"))
            df = first.select(*[
                F.col(c) if c == "url" else F.col("_first")[c].alias(c)
                for c in df.columns
            ])
        spark = df.sparkSession
        seen = self._seen_df(spark)
        if seen is not None:
            unseen = df.join(seen, on="url", how="left_anti").select(*df.columns)
        else:
            unseen = df
        unseen = unseen.localCheckpoint(eager=True)
        new_version = self.version + 1
        unseen.select("url").write.mode("overwrite").parquet(
            os.path.join(self.store_dir, f"v{new_version}")
        )
        self.version = new_version
        return unseen


# --------------------------------------------------------------- cuckoo


class CuckooSeenFilter(ShardedSeenFilter):
    """Sharded, versioned CUCKOO URL-seen filter — bloom's sibling with
    DELETION support (north rule: "bloom/cuckoo URL-seen").

    Standard cuckoo filter (Fan et al., CoNEXT'14 — public algorithm):
    16-bit fingerprints, buckets of 4 slots, partial-cuckoo eviction
    with two candidate buckets i1 = h(x), i2 = i1 XOR h(fingerprint).
    vs bloom: same-order memory at these parameters (~4-6% FP at 95%
    load for 16-bit/4-slot it's far lower, ~0.001%), and fingerprints
    can be REMOVED — enabling release-on-failure semantics (a fetch that
    permanently errors can free its slot so a corrected URL variant
    re-enters), which bloom fundamentally cannot do.

    Shares BloomSeenFilter's store: shard by xxhash64(url), one numpy
    table per shard, manifest JSON per version, untouched shards carried
    forward by reference. Probes are vectorized numpy; the insert loop
    is per-fingerprint Python because eviction chains are data-dependent
    (state maintenance, not row math — the per-row analytics stays in
    vectorized UDF land).
    """

    KIND, SUFFIX = "cuckoo", ".npy"
    GEOMETRY = ("n_shards", "buckets")
    MAX_KICKS = 500
    SLOTS = 4

    def __init__(self, store_dir: str, n_shards: int = 32,
                 buckets_per_shard: int = 1 << 14, seed: int = 0x5EED):
        super().__init__(store_dir, n_shards)
        # buckets MUST be a power of two: the alternate-bucket map
        # i2 = (i1 XOR h(fp)) mod buckets is an involution only then
        # (XOR of two values < 2^k stays < 2^k, so the mod is a no-op and
        # alt(alt(b)) == b). A non-power-of-two modulus lets relocated
        # fingerprints land outside their two candidate buckets ->
        # _contains false negatives -> double-crawled URLs.
        self.buckets = 1 << max(1, int(buckets_per_shard - 1).bit_length())
        self.seed = seed

    def resume(self, version: int) -> None:
        super().resume(version)
        # a store persisted by a build that did not round up to a power of
        # two cannot be probed correctly under any geometry
        if self.buckets & (self.buckets - 1):
            raise ValueError(
                f"cuckoo store at {self.store_dir!r} has non-power-of-two "
                f"bucket count {self.buckets}; rebuild the store"
            )

    # ---------------------------------------------------------- kernels

    @staticmethod
    def _fingerprints(h2: np.ndarray) -> np.ndarray:
        fp = (h2.astype(np.uint64) & np.uint64(0xFFFF)).astype(np.uint16)
        fp[fp == 0] = 1  # 0 marks an empty slot
        return fp

    def _bucket1(self, h1: np.ndarray) -> np.ndarray:
        return (h1.astype(np.uint64) % np.uint64(self.buckets)).astype(np.int64)

    def _alt_bucket(self, b: np.ndarray, fp: np.ndarray) -> np.ndarray:
        # i2 = i1 XOR hash(fp); multiplier from the reference cuckoo
        # implementation family (odd constant for mixing)
        fp_hash = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) % np.uint64(
            self.buckets
        )
        return (b.astype(np.uint64) ^ fp_hash).astype(np.int64) % self.buckets

    def _contains(self, table: np.ndarray, b1, b2, fp) -> np.ndarray:
        hit1 = (table[b1] == fp[:, None]).any(axis=1)
        hit2 = (table[b2] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    def _insert_one(self, table: np.ndarray, rng, b1: int, b2: int, fp: int) -> bool:
        for b in (b1, b2):
            row = table[b]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return True
        # partial-cuckoo eviction
        b = b1 if rng.rand() < 0.5 else b2
        cur = np.uint16(fp)
        trail: list[tuple[int, int]] = []  # (bucket, slot) swaps, for undo
        for _ in range(self.MAX_KICKS):
            slot = rng.randint(0, self.SLOTS)
            cur, table[b][slot] = table[b][slot], cur
            trail.append((b, slot))
            b = int(
                (np.uint64(b) ^ ((np.uint64(cur) * np.uint64(0x5BD1E995)) % np.uint64(self.buckets)))
                % np.uint64(self.buckets)
            )
            row = table[b]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = cur
                return True
        # MAX_KICKS exhausted: UNDO the swap chain so the displaced victim
        # fingerprint is restored (dropping it would silently un-see an
        # arbitrary previously-claimed URL). Only the NEW fp fails to
        # insert; caller treats its row as seen, which is the safe side.
        for ub, us in reversed(trail):
            cur, table[ub][us] = table[ub][us], cur
        return False  # table over-full; caller treats row as seen (safe)

    # ------------------------------------------------------- shard parts

    def _load(self, path: str | None) -> np.ndarray:
        if path is None:
            return np.zeros((self.buckets, self.SLOTS), dtype=np.uint16)
        return np.load(path)

    @staticmethod
    def _dump(table: np.ndarray, f) -> None:
        np.save(f, table)

    def _candidates(self, h1, h2):
        fp = self._fingerprints(h2)
        b1 = self._bucket1(h1)
        return b1, self._alt_bucket(b1, fp), fp

    def _claim(self, table, h1, h2, salt):
        b1, b2, fp = self._candidates(h1, h2)
        new = ~self._contains(table, b1, b2, fp)
        rng = np.random.RandomState(self.seed ^ salt)
        changed = False
        for i in np.nonzero(new)[0]:
            changed |= self._insert_one(table, rng, int(b1[i]), int(b2[i]), int(fp[i]))
        return new, changed

    def _release(self, table, h1, h2, salt):
        b1, b2, fp = self._candidates(h1, h2)
        present = self._contains(table, b1, b2, fp)
        for i in np.nonzero(present)[0]:
            for b in (int(b1[i]), int(b2[i])):
                hits = np.nonzero(table[b] == fp[i])[0]
                if len(hits):
                    table[b][hits[0]] = 0
                    break
        return present, bool(present.any())

    def release(self, df: DataFrame) -> DataFrame:
        """Delete the `url`s' fingerprints (bloom cannot); returns the rows
        whose fingerprint was actually present and removed."""
        return self._apply(df, self._release)
