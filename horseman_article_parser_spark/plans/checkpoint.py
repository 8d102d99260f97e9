"""Crawl checkpoint store: snapshot-committed parquet state.

Layout (Iceberg-shaped: immutable data files + an atomically-replaced
manifest pointer; on a cluster this directory IS an Iceberg warehouse —
the parquet layout and commit protocol map 1:1 onto Iceberg snapshots,
which this container cannot run for lack of the runtime jars):

    store/
      manifest.json        # {"last_round": N, "seen_version": V} — atomic
                           # commit pointer; V is the seen-filter version
                           # to resume with
      pending/round=N/     # pending frontier snapshot after round N
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
            return {"last_round": -2, "seen_version": -1}

    def last_round(self) -> int:
        """Last committed round; -1 = seeded only, -2 = empty store."""
        return self._manifest()["last_round"]

    def seen_version(self) -> int:
        """Seen-filter version of the last commit; -1 = empty store."""
        return self._manifest()["seen_version"]

    def commit_round(self, round_no: int, seen_version: int) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root)
        with os.fdopen(fd, "w") as f:
            json.dump({"last_round": round_no, "seen_version": seen_version}, f)
        os.replace(tmp, self._manifest_path())

    # --------------------------------------------------------------- io

    def write(self, df: DataFrame, kind: str, round_no: int) -> None:
        df.write.mode("overwrite").parquet(self.path(kind, round_no))
        self._schemas[kind] = df.schema

    def read(self, spark: SparkSession, kind: str, round_no: int) -> DataFrame:
        schema = self._schemas.get(kind)
        if schema is None:
            df = spark.read.parquet(self.path(kind, round_no))
            self._schemas[kind] = df.schema
            return df
        return spark.read.schema(schema).parquet(self.path(kind, round_no))

    def exists(self, kind: str, round_no: int) -> bool:
        return os.path.exists(self.path(kind, round_no))
