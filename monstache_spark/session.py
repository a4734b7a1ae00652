"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same configs are the right
defaults on a real cluster (AQE, adaptive coalescing/skew-join, UTC
session timezone for oracle-comparable timestamps, Arrow for the few
pandas-UDF paths).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def state_store_provider(state_store: str | None = None) -> str | None:
    """Resolve the streaming state-store backend: explicit argument
    first, else ``$SPARK_GRAFT_STATE_STORE``.  ``"rocksdb"`` returns
    the RocksDB provider class — the 100×-streaming-state lever: keyed
    state lives off-heap/on-disk per executor with incremental
    checkpointing, instead of the default in-memory HDFS-backed map
    that must FIT in executor memory.  ``"hdfs"``/unset returns None
    (Spark default provider).
    """
    choice = (state_store or os.environ.get("SPARK_GRAFT_STATE_STORE", "")).lower()
    if choice in ("", "hdfs", "default"):
        return None
    if choice == "rocksdb":
        return ROCKSDB_PROVIDER
    # allow a fully-qualified provider class for custom backends
    if "." in choice:
        return state_store or os.environ["SPARK_GRAFT_STATE_STORE"]
    raise ValueError(f"unknown state store backend: {choice!r}")


@contextmanager
def session_conf(spark: SparkSession, **confs: object) -> Iterator[None]:
    """Pin session confs (each value as ``str(value)``) for the duration
    of the block — conf keys contain dots, so pass them as
    ``**{"spark.sql.shuffle.partitions": 8}``; a ``None`` value leaves
    that conf alone. On exit, whether the block returns or raises, each
    pinned conf is set back to its old value, or unset if it had none."""
    pinned = {k: str(v) for k, v in confs.items() if v is not None}
    prev = {k: spark.conf.get(k, None) for k in pinned}
    try:
        for k, v in pinned.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an int, tolerating the
    ``"auto"`` spelling some AQE/managed deployments set (where a bare
    ``int(conf.get(...))`` raises) by falling back to the cluster
    default parallelism."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def _size_bytes(conf_val: str) -> int:
    """Parse a Spark byte-size conf string (``134217728b``, ``128m``,
    ``1g``, plain int) to bytes."""
    s = str(conf_val).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("b", 1)):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    return int(float(s)) * mult


def _planned_scan_parts(df) -> int | None:
    """Estimate how many partitions ``df``'s file scan will plan,
    WITHOUT converting the frame to an RDD (``df.rdd`` re-analyzes,
    re-optimizes and physically plans the query a second time on the
    driver — guide §7.3; on the very plan shapes spread_scan fronts,
    that doubles analysis cost).  ``inputFiles()`` only analyzes, and
    the file sizes + Spark's own split arithmetic
    (``FilePartition.maxSplitBytes``: packed splits of
    ``min(maxPartitionBytes, max(openCost, totalBytes/parallelism))``)
    give the scan width within a partition or two — all this gate
    needs is "materially narrower than the shuffle width".  Returns
    None when the frame has no file sources or a size is unreadable
    (caller falls back to the exact RDD probe)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    from urllib.parse import unquote, urlparse

    total = 0
    for uri in files:
        path = unquote(urlparse(uri).path) or uri
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    conf = df.sparkSession.conf
    max_pb = _size_bytes(conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
    open_cost = _size_bytes(conf.get("spark.sql.files.openCostInBytes", "4194304b"))
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    padded = total + len(files) * open_cost
    max_split = min(max_pb, max(open_cost, padded // max(parallelism, 1)))
    return max(1, round(padded / max(max_split, 1)))


def spread_scan(df, factor: int = 2):
    """Scale-adaptive scan spread (optimization guide §2.5, "input
    skew: one huge unsplittable file ... repartition immediately
    after the read"): when a frame's current partitioning yields
    materially fewer partitions than the session's shuffle width
    (single small parquet file, single row group — every scan task
    bottlenecks per-row work on one core), round-robin repartition to
    the shuffle width so the per-row stage parallelizes.

    At production scale a scan yields >= width partitions and this is
    a NO-OP — the check estimates the scan's planned partition count
    from the source FILE SIZES (driver-side metadata, no job, no
    second physical planning of the frame; the ``df.rdd`` width probe
    it replaces re-planned the query — guide §7.3).  Apply it only in
    front of per-row-heavy stages (moment aggregations, tokenizing,
    regex scoring): the spread is a real exchange of the input rows,
    paid back only when the downstream per-row work dominates it.
    """
    width = shuffle_partitions(df.sparkSession)
    parts = _planned_scan_parts(df)
    if parts is None:
        # non-file frame (LogicalRDD, range, ...): fall back to the
        # exact planned-partition probe
        parts = df.rdd.getNumPartitions()
    if parts * factor <= width:
        return df.repartition(width)
    return df


def stateful_shuffle_width(spark: SparkSession, cap: int = 8) -> int:
    """Shuffle width for STATEFUL streaming exchanges (state stores
    allocate one instance per shuffle partition and AQE cannot
    coalesce stateful exchanges, so width = per-micro-batch state-store
    + empty-task cost).  ``$SPARK_GRAFT_STATE_PARTITIONS`` overrides
    outright — at 100 TB key cardinality, size it like any shuffle
    width (guide §2.2: 100 MB-1 GB of state per partition).  Unset, the
    width is the session shuffle width capped at ``cap``: local runs
    and tests have tiny key spaces where 32 state stores per
    micro-batch are pure overhead, while a session already narrower
    than the cap is never widened."""
    env = os.environ.get("SPARK_GRAFT_STATE_PARTITIONS", "")
    if env:
        width = int(env) if env.strip().isdecimal() else 0
        if width < 1:
            raise ValueError(
                f"SPARK_GRAFT_STATE_PARTITIONS must be a positive integer, got {env!r}"
            )
        return width
    return min(shuffle_partitions(spark), cap)


def get_spark(app_name: str = "monstache_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus != "*" else 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver testdata stores TIMESTAMP(NANOS) parquet, which Spark
        # rejects by default; read as long and convert in the source layer
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
