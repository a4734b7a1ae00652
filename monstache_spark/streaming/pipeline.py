"""The end-to-end streaming sync pipeline (SURVEY.md §3.1 re-expressed).

Reference lifecycle: gtm source → filter chain → relate → map →
BulkProcessor with 10 s checkpoint ticks (monstache.go:5019-5098).
Spark-first: ``readStream`` (CDC envelope) → the same DataFrame
transform chain used in batch (the point of DataFrame parity) →
``foreachBatch`` merging into the state table → checkpoint commit.
Structured Streaming's offset log + foreachBatch ordering reproduces
the reference's flush-before-save-timestamp contract exactly
(monstache.go:5048-5056).

``trigger(availableNow=True)`` drains a bounded source and stops — the
test/backfill mode (the reference's exit-after-direct-reads,
monstache.go:377). A real deployment runs processingTime triggers
against a change-stream source; resume = restart with the same
checkpointLocation (replaces saveTimestamp/saveTokens wholesale).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from monstache_spark.envelope import events_to_envelope, id_guard
from monstache_spark.operators import filters as Flt
from monstache_spark.sinks.merge import StateTable
from monstache_spark.streaming.ops import BackoffPolicy


@dataclass
class PipelineConfig:
    """The TOML-ish config surface that matters (SURVEY.md §2.2)."""

    namespace_regex: str | None = None          # F2 include
    namespace_exclude_regex: str | None = None  # F3 exclude
    dropped_databases: bool = True              # propagate db drops (K6)
    dropped_collections: bool = True            # propagate collection drops (K6)
    checkpoint_dir: str = "/tmp/monstache_spark/checkpoint"
    state_dir: str = "/tmp/monstache_spark/state"
    index_overrides: dict[str, str] = field(default_factory=dict)
    # §2.7 explicit resume: drop ops strictly older than this event time
    # (resume-from-timestamp, monstache.go:4679-4685). Checkpoint-based
    # resume needs no config — this is the manual override only.
    resume_from_ts: str | None = None
    # source rate limiting (K10 batch shaping / maxOffsetsPerTrigger
    # analogue for the file source): files per micro-batch
    max_files_per_trigger: int | None = None
    # K11 failure policy for the sink body (None = Spark's own
    # micro-batch retry only)
    fail_fast: bool = False
    sink_max_retries: int = 0
    # K3/K4/K5 delete handling (deleteStrategy monstache.go:117-122,
    # toml key delete-strategy: 0 stateless, 1 stateful, 2 ignore).
    # "ignore" drops delete ops before they reach any sink.
    delete_strategy: str = "stateless"
    # K10 flush cadence: elasticsearch-max-seconds is the reference's
    # bulk flush interval (monstache.go:2780-2795); in Spark terms it is
    # the processingTime trigger of a continuous run. Bounded test/
    # backfill runs drain with availableNow instead.
    trigger_seconds: int = 1


def build_trigger(cfg: PipelineConfig, drain: bool = True) -> dict:
    """writeStream.trigger(**kwargs) for this config: availableNow for
    bounded drains (tests/backfills, the reference's
    exit-after-direct-reads), processingTime=<elasticsearch-max-seconds>
    for a continuous deployment."""
    if drain:
        return {"availableNow": True}
    return {"processingTime": f"{cfg.trigger_seconds} seconds"}


def transform(ops: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The shared batch/stream transform chain: guards → include /
    exclude → id guard. One codegen'd filter stage."""
    out = Flt.system_guards(ops)
    if cfg.namespace_regex:
        out = Flt.include_namespaces(out, cfg.namespace_regex)
    if cfg.namespace_exclude_regex:
        out = Flt.exclude_namespaces(out, cfg.namespace_exclude_regex)
    if cfg.resume_from_ts:
        from pyspark.sql import functions as F

        out = out.filter(F.col("ts") >= F.lit(cfg.resume_from_ts).cast("timestamp"))
    if cfg.delete_strategy == "ignore":
        from pyspark.sql import functions as F

        from monstache_spark.envelope import OP_DELETE

        # K5 (monstache.go:4068-4070): deletes never reach the sink, so
        # a key's state is its last non-delete op
        out = out.filter(F.col("op") != OP_DELETE)
    return id_guard(out)


def _make_state(spark: SparkSession, cfg: PipelineConfig) -> StateTable:
    return StateTable(
        spark,
        cfg.state_dir,
        dropped_databases=cfg.dropped_databases,
        dropped_collections=cfg.dropped_collections,
    )


def _as_envelope(source: DataFrame) -> DataFrame:
    """The source as CDC envelope ops: a source that already has the
    envelope schema (``op`` and ``version`` columns — e.g. translated
    change events, which carry drops) passes through; an ``events``
    source is mapped by ``events_to_envelope``."""
    if {"op", "version"} <= set(source.columns):
        return source
    return events_to_envelope(source)


def run_stream(
    spark: SparkSession,
    events_path: str,
    cfg: PipelineConfig,
    events_schema=None,
    drain: bool = True,
) -> StateTable:
    """Stream the events (or envelope) parquet as a CDC source into the
    state table. ``drain=True`` (tests/backfills) drains with availableNow and
    returns; ``drain=False`` runs continuously at the configured
    elasticsearch-max-seconds cadence until externally stopped."""
    if events_schema is None:
        events_schema = spark.read.parquet(events_path).schema
    # the file-stream source wants a directory; target one file via glob
    base_dir, fname = os.path.split(events_path)
    reader = spark.readStream.schema(events_schema).option("pathGlobFilter", fname)
    if cfg.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(cfg.max_files_per_trigger))
    stream = reader.parquet(base_dir)
    from monstache_spark.sources.testdata import normalize_nanos

    ops = transform(_as_envelope(normalize_nanos(stream)), cfg)
    state = _make_state(spark, cfg)

    # max_retries=0 without fail_fast runs the merge exactly once
    policy = BackoffPolicy(
        base_seconds=1.0, max_retries=cfg.sink_max_retries, fail_fast=cfg.fail_fast
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        policy.run(lambda: state.merge_batch(batch_df))

    q = (
        ops.writeStream.foreachBatch(sink)
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(**build_trigger(cfg, drain))
        .start()
    )
    q.awaitTermination()
    return state


def run_batch(spark: SparkSession, events: DataFrame, cfg: PipelineConfig) -> StateTable:
    """Direct-read/backfill path (§3.2): same transform chain, batch."""
    ops = transform(_as_envelope(events), cfg)
    state = _make_state(spark, cfg)
    state.merge_batch(ops)
    return state
