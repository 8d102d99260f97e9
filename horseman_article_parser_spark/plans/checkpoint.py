"""Crawl checkpoint store: snapshot-committed parquet state.

Layout (Iceberg-shaped: immutable data files + an atomically-replaced
manifest pointer; on a cluster this directory IS an Iceberg warehouse —
the parquet layout and commit protocol map 1:1 onto Iceberg snapshots,
which this container cannot run for lack of the runtime jars):

    store/
      manifest.json        # {"last_round": N, "seen_version": V,
                           #  "stream_batch": B} — atomic commit pointer;
                           # V is the seen-filter version to resume with,
                           # B the last streamed seed batch applied
      pending/round=N/     # pending frontier snapshot after round N, plus
                           # stream-B-* files: streamed seeds of batch B
      waves/round=N/       # the scheduled wave of round N (ordered)
      results/round=N/     # extracted article structs (per-host counts:
                           # plans.crawl.host_metrics over this table)
      bloom/, cuckoo/,     # seen-filter state, one version per claim
      exact_seen/          # (bloom and cuckoo keep their own manifests)

Exact resume (north rule): a crashed round never bumped the manifest,
so rerunning it from the recorded seen-filter version regenerates
byte-identical outputs (every stage is a deterministic function of
committed state) and then commits.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class CrawlStore:
    def __init__(self, root: str):
        self.root = root
        # kind -> the schema this store last wrote, or inferred, for that
        # kind (every round of a kind has one schema). A read with the
        # schema given starts no job; without one, Spark's inference
        # runs a one-task footer job per read. A fresh store (a resume)
        # infers once, and Spark makes a given schema nullable exactly
        # as it does an inferred one.
        self._schemas: dict[str, StructType] = {}
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ paths

    def path(self, kind: str, round_no: int) -> str:
        return os.path.join(self.root, kind, f"round={round_no}")

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    # ----------------------------------------------------------- commit

    def _manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"last_round": -2, "seen_version": -1, "stream_batch": -1}

    def last_round(self) -> int:
        """Last committed round; -1 = seeded only, -2 = empty store."""
        return self._manifest()["last_round"]

    def seen_version(self) -> int:
        """Seen-filter version of the last commit; -1 = empty store."""
        return self._manifest()["seen_version"]

    def stream_batch(self) -> int:
        """Id of the last streamed seed batch committed; -1 = none."""
        return self._manifest().get("stream_batch", -1)

    def _commit(self, **fields) -> None:
        manifest = {**self._manifest(), **fields}
        fd, tmp = tempfile.mkstemp(dir=self.root)
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())

    def commit_round(self, round_no: int, seen_version: int) -> None:
        self._commit(last_round=round_no, seen_version=seen_version)

    def commit_stream_batch(self, batch_id: int, seen_version: int) -> None:
        """Record streamed seed batch `batch_id` as applied, together
        with the seen-filter version its claim made."""
        self._commit(stream_batch=batch_id, seen_version=seen_version)

    # --------------------------------------------------------------- io

    def write(self, df: DataFrame, kind: str, round_no: int) -> None:
        df.write.mode("overwrite").parquet(self.path(kind, round_no))
        self._schemas[kind] = df.schema

    def write_part(self, df: DataFrame, kind: str, round_no: int, name: str) -> None:
        """Add `df` to a round's table as files named `name-*`, replacing
        the files an earlier attempt left under that name, so a retried
        write leaves one copy of the rows, not two. Spark writes to a
        staging directory first; only complete files are moved in."""
        staging = os.path.join(self.root, "_staging", name)
        df.write.mode("overwrite").parquet(staging)
        target = self.path(kind, round_no)
        os.makedirs(target, exist_ok=True)
        for f in os.listdir(target):
            if f.startswith(f"{name}-"):
                os.remove(os.path.join(target, f))
        for f in sorted(os.listdir(staging)):
            # _SUCCESS and the hidden .crc checksums stay behind
            if not f.startswith(("_", ".")):
                os.replace(os.path.join(staging, f), os.path.join(target, f"{name}-{f}"))

    def read(self, spark: SparkSession, kind: str, round_no: int) -> DataFrame:
        schema = self._schemas.get(kind)
        if schema is None:
            df = spark.read.parquet(self.path(kind, round_no))
            self._schemas[kind] = df.schema
            return df
        return spark.read.schema(schema).parquet(self.path(kind, round_no))

    def exists(self, kind: str, round_no: int) -> bool:
        return os.path.exists(self.path(kind, round_no))
