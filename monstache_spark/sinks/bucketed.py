"""Bucketed state table: merge cost proportional to TOUCHED state, not
total state (SURVEY.md §7.3 "the sink is a queryable table").

``StateTable`` (merge.py) rewrites the whole table per micro-batch —
correct, but O(|state|) per batch. At 100 TB of state and a micro-batch
touching a few thousand keys, the rewrite must be O(touched). Delta's
MERGE gets this from file-level stats + a transaction log; the same
effect here with plain parquet:

- state rows hash-partition into ``n_buckets`` by key
  (pmod(xxhash64(ns,id), n)) — the same co-partitioning a real
  deployment would bucket its table by
- a JSON manifest maps bucket → parquet directory
- a merge rewrites ONLY buckets containing batch keys; untouched
  buckets keep their existing files (the manifest re-points to them)
- commits are atomic: write new bucket dirs → write manifest v{n+1} →
  swap CURRENT in (temp file + ``os.replace`` for both pointer files);
  readers, and a process that dies mid-commit, always see a complete
  manifest (``sinks.merge`` says what an OS or power failure can lose)

Drops (K6) are namespace-wide and can touch any bucket — they force a
full rewrite, which matches the reference treating drops as rare
control-plane barriers (doDrop flushes the bulk first,
monstache.go:3056-3075).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monstache_spark.sinks.merge import (
    TOMB_COL,
    _erase_dropped,
    _merge_apply,
    _prune_old_tombstones,
    staged_batch,
    write_pointer,
)

BUCKET_COL = "_bucket"


def bucket_of(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("ns"), F.col("id")), F.lit(n_buckets))


class BucketedStateTable:
    """Manifest-committed, hash-bucketed keyed state with version-
    guarded merges. API-compatible with StateTable (read/merge_batch)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int = 16,
        tombstone_retention: int | None = None,
        dropped_databases: bool = True,
        dropped_collections: bool = True,
    ):
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        self.tombstone_retention = tombstone_retention
        self.dropped_databases = dropped_databases
        self.dropped_collections = dropped_collections
        os.makedirs(path, exist_ok=True)

    # -- manifest plumbing ------------------------------------------------

    def _current_file(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def _current_version(self) -> int:
        try:
            with open(self._current_file()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _manifest(self, v: int) -> dict[str, str]:
        with open(os.path.join(self.path, f"manifest_v{v}.json")) as f:
            return json.load(f)

    def _bucket_dirs(self) -> dict[str, str]:
        v = self._current_version()
        return self._manifest(v) if v else {}

    # -- read -------------------------------------------------------------

    def read(
        self,
        buckets: list[int] | None = None,
        include_tombstones: bool = False,
        session: SparkSession | None = None,
    ) -> DataFrame | None:
        """Full state, or only the given buckets (partition pruning:
        point-lookups/joins by key read 1/n_buckets of the data).
        ``session`` as in ``StateTable.read``."""
        dirs = self._bucket_dirs()
        if not dirs:
            return None
        if buckets is not None:
            dirs = {b: d for b, d in dirs.items() if int(b) in set(buckets)}
            if not dirs:
                return None
        df = (session or self.spark).read.parquet(*dirs.values())
        if include_tombstones or TOMB_COL not in df.columns:
            return df
        return df.filter(~F.col(TOMB_COL)).drop(TOMB_COL)

    # -- merge ------------------------------------------------------------

    def merge_batch(self, ops: DataFrame) -> None:
        """Stage the batch once; its touched buckets come from the same
        collect that reads its drops (a drop touches every bucket)."""
        with staged_batch(
            ops,
            dropped_databases=self.dropped_databases,
            dropped_collections=self.dropped_collections,
            bucket=bucket_of(self.n_buckets),
        ) as (staged, drops, touched):
            if drops:
                touched = set(range(self.n_buckets))  # ns-wide: any bucket
            if not touched:
                return
            current_touched = self.read(
                buckets=sorted(touched), include_tombstones=True, session=ops.sparkSession
            )
            merged = _erase_dropped(_merge_apply(current_touched, staged), drops)
            if self.tombstone_retention is not None:
                merged = _prune_old_tombstones(merged, staged, self.tombstone_retention)
            self._commit_buckets(merged, touched)

    def prune_tombstones(self, before_version: int) -> None:
        """Explicit gc_deletes sweep — rewrites every bucket (rare,
        maintenance-window operation)."""
        cur = self.read(include_tombstones=True)
        if cur is None:
            return
        if TOMB_COL not in cur.columns:
            return
        self._commit_buckets(
            cur.filter(~(F.col(TOMB_COL) & (F.col("version") < F.lit(before_version)))),
            set(range(self.n_buckets)),
        )

    def _commit_buckets(self, merged: DataFrame, touched: set[int]) -> None:
        v = self._current_version()
        commit_dir = os.path.join(self.path, f"commit_v{v + 1}")
        (
            merged.withColumn(BUCKET_COL, bucket_of(self.n_buckets))
            .repartition(BUCKET_COL)
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(commit_dir)
        )
        # new manifest: touched buckets -> new dirs, untouched -> old dirs
        old = self._bucket_dirs()
        manifest: dict[str, str] = {}
        for b in range(self.n_buckets):
            new_dir = os.path.join(commit_dir, f"{BUCKET_COL}={b}")
            if b in touched:
                if os.path.isdir(new_dir):
                    manifest[str(b)] = new_dir
                # touched but empty after merge: bucket has no rows, omit
            elif str(b) in old:
                manifest[str(b)] = old[str(b)]
        write_pointer(os.path.join(self.path, f"manifest_v{v + 1}.json"), json.dumps(manifest))
        write_pointer(self._current_file(), str(v + 1))
        self._gc(keep=(v, v + 1))

    def _gc(self, keep: tuple[int, ...]) -> None:
        """Remove commit dirs no manifest in ``keep`` references."""
        live: set[str] = set()
        for v in keep:
            if v <= 0:
                continue
            try:
                for d in self._manifest(v).values():
                    live.add(os.path.normpath(d).split(f"/{BUCKET_COL}=")[0])
            except FileNotFoundError:
                continue
        for entry in os.listdir(self.path):
            full = os.path.join(self.path, entry)
            if entry.startswith("commit_v") and os.path.isdir(full) and full not in live:
                shutil.rmtree(full, ignore_errors=True)
            if entry.startswith("manifest_v") and entry.endswith(".json"):
                v = int(entry[len("manifest_v"):-len(".json")])
                if v not in keep:
                    os.remove(full)
