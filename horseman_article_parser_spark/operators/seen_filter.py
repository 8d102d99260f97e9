"""Distributed URL-seen filter (SURVEY §2.3 J1, §4 custom component #1).

The reference keeps an in-process `Set` of seen URLs/hosts
(/root/reference/scripts/batch-sample-run.js:72-77,
 /root/reference/scripts/fetch-curated-urls.js:262-277). At a 10^10-URL
frontier that set is ~12 GB of bloom bits — too big to broadcast, so it
is SHARDED by url-hash: shard_id = pmod(xxhash64(url), P). A probe (or
test-and-set) shuffles candidate links once, on shard_id, into one task
per core; each task touches only the bitmaps of the shards it owns, read
directly from the checkpoint store. State versions are tracked by an
Iceberg-style manifest (a JSON snapshot mapping shard → data file), so
untouched shards are carried forward by reference, never rewritten — the
same trick Iceberg manifests use to avoid rewriting unchanged data files.

Two modes:
- exact  — append-only parquet of seen URLs; probe = left-anti join.
           Used by correctness fixtures (zero false positives).
- bloom  — numpy bitmaps, k hash probes derived from two JVM-computed
           xxhash64 values (Kirsch-Mitzenmacher double hashing). A
           false positive drops a genuinely-new URL (never crawled);
           the FP rate is measured against exact mode in tests.

All per-row work is vectorized numpy inside Arrow-batched mapInPandas.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

_H1, _H2, _SHARD = "_seen_h1", "_seen_h2", "_seen_shard"


def with_seen_hashes(df: DataFrame, url_col: str, n_shards: int) -> DataFrame:
    """Attach JVM-side (whole-stage-codegen) hash columns for probing."""
    u = F.col(url_col)
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


class BloomSeenFilter:
    """Sharded, versioned bloom URL-seen filter over a checkpoint dir."""

    def __init__(
        self,
        store_dir: str,
        n_shards: int = 32,
        total_bits: int = 1 << 24,
        k: int = 7,
    ):
        self.store_dir = store_dir
        self.n_shards = n_shards
        self.bits_per_shard = max(64, total_bits // n_shards)
        self.k = k
        self.version = -1
        os.makedirs(os.path.join(store_dir, "bloom", "data"), exist_ok=True)

    # ------------------------------------------------------------ state

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.store_dir, "bloom", f"manifest_v{version}.json")

    def _read_manifest(self, version: int) -> dict[str, str]:
        if version < 0:
            return {}
        with open(self._manifest_path(version)) as f:
            return json.load(f)["shards"]

    def _commit_manifest(self, version: int, shards: dict[str, str]) -> None:
        payload = {
            "version": version,
            "n_shards": self.n_shards,
            "bits_per_shard": self.bits_per_shard,
            "k": self.k,
            "shards": shards,
        }
        path = self._manifest_path(version)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path))
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, path)  # atomic snapshot commit

    def latest_version(self) -> int:
        base = os.path.join(self.store_dir, "bloom")
        versions = [
            int(name[len("manifest_v"):-len(".json")])
            for name in os.listdir(base)
            if name.startswith("manifest_v")
        ]
        return max(versions, default=-1)

    def resume(self) -> None:
        self.version = self.latest_version()

    # ------------------------------------------------------------- ops

    def claim_unseen(self, df: DataFrame, url_col: str = "url",
                     dedup_first: list[str] | None = None) -> DataFrame:
        """Atomic test-and-set: returns rows whose URL was not seen, and
        commits a new state version with those URLs inserted.

        One shuffle (on shard_id) into min(n_shards, cores) tasks; each
        task loads, probes, updates and writes only the shards it owns.

        `dedup_first`: column names forming the 'first discovery'
        ordering. When given, duplicate urls within the batch are
        collapsed INSIDE the shard task to the row with the
        lexicographically smallest (dedup_first...) tuple — identical
        to an upstream groupBy(url).agg(min(struct(...))), but without
        that groupBy's own exchange: the shard shuffle already
        co-locates every copy of a url (shard = f(url)), so the claim's
        one shuffle does double duty (guide §2.4). Without it, callers
        dedup by their own ordering before calling, as before."""
        spark = df.sparkSession
        in_cols = df.columns
        hashed = with_seen_hashes(df, url_col, self.n_shards)
        manifest = self._read_manifest(self.version)
        new_version = self.version + 1
        data_dir = os.path.join(self.store_dir, "bloom", "data")
        bits_per_shard, k = self.bits_per_shard, self.k

        out_schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in hashed.schema.fields
        )

        def tas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            parts = [b for b in batches if len(b)]
            if not parts:
                return
            pdf = pd.concat(parts, ignore_index=True)
            if dedup_first:
                pdf = pdf.sort_values(
                    [url_col, *dedup_first], kind="mergesort"
                ).drop_duplicates(url_col, keep="first")
            for shard_id, grp in pdf.groupby(_SHARD, sort=True):
                shard_key = str(int(shard_id))
                path = manifest.get(shard_key)
                if path is not None and os.path.exists(path):
                    bitmap = np.fromfile(path, dtype=np.uint8).copy()
                else:
                    bitmap = np.zeros(bits_per_shard // 8 + 1, dtype=np.uint8)
                pos = _bit_positions(
                    grp[_H1].values.astype(np.int64),
                    grp[_H2].values.astype(np.int64),
                    k,
                    bits_per_shard,
                )
                seen = _probe_bitmap(bitmap, pos)
                unseen = grp.loc[~seen]
                if len(unseen):
                    _set_bits(bitmap, pos[~seen])
                    new_path = os.path.join(
                        data_dir, f"v{new_version}_shard_{shard_key}.bin"
                    )
                    fd, tmp = tempfile.mkstemp(dir=data_dir)
                    with os.fdopen(fd, "wb") as f:
                        bitmap.tofile(f)
                    os.replace(tmp, new_path)
                    yield unseen

        result = (
            _shard_tasks(hashed, self.n_shards)
            .mapInPandas(tas, schema=out_schema)
            .select(*in_cols)
        )
        # Materialize now: the state mutation must happen-before manifest
        # commit (this is the micro-batch barrier, like a streaming epoch).
        result = result.localCheckpoint(eager=True)
        shards = dict(manifest)
        for shard_id in range(self.n_shards):
            candidate = os.path.join(data_dir, f"v{new_version}_shard_{shard_id}.bin")
            if os.path.exists(candidate):
                shards[str(shard_id)] = candidate
        self._commit_manifest(new_version, shards)
        self.version = new_version
        _ = spark  # session kept for API symmetry
        return result


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

    def resume(self) -> None:
        versions = [
            int(name[1:]) for name in os.listdir(self.store_dir) if name.startswith("v")
        ]
        self.version = max(versions, default=-1)

    def _seen_df(self, spark: SparkSession) -> DataFrame | None:
        paths = [
            os.path.join(self.store_dir, f"v{i}") for i in range(self.version + 1)
        ]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            return None
        return spark.read.parquet(*paths)

    def claim_unseen(self, df: DataFrame, url_col: str = "url") -> DataFrame:
        spark = df.sparkSession
        seen = self._seen_df(spark)
        if seen is not None:
            unseen = df.join(
                seen.withColumnRenamed("url", url_col).select(url_col),
                on=url_col,
                how="left_anti",
            )
        else:
            unseen = df
        unseen = unseen.localCheckpoint(eager=True)
        new_version = self.version + 1
        unseen.select(F.col(url_col).alias("url")).write.mode("overwrite").parquet(
            os.path.join(self.store_dir, f"v{new_version}")
        )
        self.version = new_version
        return unseen


# --------------------------------------------------------------- cuckoo


class CuckooSeenFilter:
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

    Sharding/versioning mirrors BloomSeenFilter: shard by xxhash64(url),
    one numpy table per shard, manifest JSON per version, untouched
    shards carried forward by reference. Probes are vectorized numpy;
    the insert loop is per-fingerprint Python because eviction chains
    are data-dependent (state maintenance, not row math — the per-row
    analytics stays in vectorized UDF land).
    """

    MAX_KICKS = 500
    SLOTS = 4

    def __init__(self, store_dir: str, n_shards: int = 32,
                 buckets_per_shard: int = 1 << 14, seed: int = 0x5EED):
        self.store_dir = store_dir
        self.n_shards = n_shards
        # buckets MUST be a power of two: the alternate-bucket map
        # i2 = (i1 XOR h(fp)) mod buckets is an involution only then
        # (XOR of two values < 2^k stays < 2^k, so the mod is a no-op and
        # alt(alt(b)) == b). A non-power-of-two modulus lets relocated
        # fingerprints land outside their two candidate buckets ->
        # _contains false negatives -> double-crawled URLs.
        self.buckets = 1 << max(1, int(buckets_per_shard - 1).bit_length())
        self.seed = seed
        self.version = -1
        os.makedirs(os.path.join(store_dir, "cuckoo", "data"), exist_ok=True)

    # ------------------------------------------------------------ state

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.store_dir, "cuckoo", f"manifest_v{version}.json")

    def _read_manifest(self, version: int) -> dict[str, str]:
        if version < 0:
            return {}
        with open(self._manifest_path(version)) as f:
            return json.load(f)["shards"]

    def _commit_manifest(self, version: int, shards: dict[str, str]) -> None:
        payload = {
            "version": version,
            "n_shards": self.n_shards,
            "buckets": self.buckets,
            "shards": shards,
        }
        path = self._manifest_path(version)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path))
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, path)

    def latest_version(self) -> int:
        base = os.path.join(self.store_dir, "cuckoo")
        versions = [
            int(name[len("manifest_v"):-len(".json")])
            for name in os.listdir(base)
            if name.startswith("manifest_v")
        ]
        return max(versions, default=-1)

    def resume(self) -> None:
        self.version = self.latest_version()
        # Geometry is part of the on-disk format: a store persisted with a
        # different bucket count (e.g. by a build that did not round up to
        # a power of two) must not be probed under this instance's
        # geometry — that yields silent false negatives (re-crawled URLs).
        if self.version >= 0:
            with open(self._manifest_path(self.version)) as f:
                meta = json.load(f)
            persisted = int(meta.get("buckets", self.buckets))
            if persisted & (persisted - 1):
                raise ValueError(
                    f"cuckoo store at {self.store_dir!r} has non-power-of-two "
                    f"bucket count {persisted}; rebuild the store"
                )
            self.buckets = persisted
            self.n_shards = int(meta.get("n_shards", self.n_shards))

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

    # ------------------------------------------------------------- ops

    def _apply(self, df: DataFrame, url_col: str, mode: str) -> DataFrame:
        """mode='claim': emit+insert unseen rows. mode='release': delete
        fingerprints, emit rows actually removed."""
        in_cols = df.columns
        hashed = with_seen_hashes(df, url_col, self.n_shards)
        manifest = self._read_manifest(self.version)
        new_version = self.version + 1
        data_dir = os.path.join(self.store_dir, "cuckoo", "data")
        buckets, slots = self.buckets, self.SLOTS
        filt = self

        out_schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in hashed.schema.fields
        )

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            parts = [b for b in batches if len(b)]
            if not parts:
                return
            pdf = pd.concat(parts, ignore_index=True)
            for shard_id, grp in pdf.groupby(_SHARD, sort=True):
                shard_key = str(int(shard_id))
                # seeded per shard, so a shard's table does not depend on
                # which other shards share its task
                rng = np.random.RandomState(filt.seed ^ new_version ^ int(shard_id))
                path = manifest.get(shard_key)
                if path is not None and os.path.exists(path):
                    table = np.load(path).copy()
                else:
                    table = np.zeros((buckets, slots), dtype=np.uint16)
                h1 = grp[_H1].values.astype(np.int64)
                h2 = grp[_H2].values.astype(np.int64)
                fp = filt._fingerprints(h2)
                b1 = filt._bucket1(h1)
                b2 = filt._alt_bucket(b1, fp)
                if mode == "claim":
                    seen = filt._contains(table, b1, b2, fp)
                    emit = grp.loc[~seen]
                    changed = False
                    for i in np.nonzero(~seen)[0]:
                        ok = filt._insert_one(
                            table, rng, int(b1[i]), int(b2[i]), int(fp[i])
                        )
                        changed = changed or ok
                else:  # release
                    present = filt._contains(table, b1, b2, fp)
                    emit = grp.loc[present]
                    changed = False
                    for i in np.nonzero(present)[0]:
                        for b in (int(b1[i]), int(b2[i])):
                            row = table[b]
                            hits = np.nonzero(row == fp[i])[0]
                            if len(hits):
                                row[hits[0]] = 0
                                changed = True
                                break
                if changed or mode == "claim":
                    new_path = os.path.join(
                        data_dir, f"v{new_version}_shard_{shard_key}.npy"
                    )
                    fd, tmp = tempfile.mkstemp(dir=data_dir, suffix=".npy")
                    os.close(fd)
                    np.save(tmp, table)  # suffix .npy → saves in place
                    os.replace(tmp, new_path)
                if len(emit):
                    yield emit

        result = (
            _shard_tasks(hashed, self.n_shards)
            .mapInPandas(run, schema=out_schema)
            .select(*in_cols)
        )
        result = result.localCheckpoint(eager=True)
        shards = dict(manifest)
        for shard_id in range(self.n_shards):
            candidate = os.path.join(
                data_dir, f"v{new_version}_shard_{shard_id}.npy"
            )
            if os.path.exists(candidate):
                shards[str(shard_id)] = candidate
        self._commit_manifest(new_version, shards)
        self.version = new_version
        return result

    def claim_unseen(self, df: DataFrame, url_col: str = "url") -> DataFrame:
        return self._apply(df, url_col, "claim")

    def release(self, df: DataFrame, url_col: str = "url") -> DataFrame:
        """Delete the URLs' fingerprints (bloom cannot); returns the rows
        whose fingerprint was actually present and removed."""
        return self._apply(df, url_col, "release")
