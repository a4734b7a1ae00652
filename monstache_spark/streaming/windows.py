"""Event-time windowed streaming operators (SURVEY.md §2.7).

The reference has NO event-time aggregation — late data is handled only
by the external version guard. These are the engine's extensions on the
same envelope/source surface: tumbling-window aggregates, session
windows, and watermark-scoped streaming dedup
(``dropDuplicatesWithinWatermark``), each runnable with
``trigger(availableNow)`` so tests/backfills drain the source and stop.

Scale notes: windowed aggregation state is keyed (window, group) and
partial-aggregates map-side before the single shuffle; watermarks bound
the state store (without one, 100 TB of stream history would accumulate
in the state store). Session windows merge in the state store keyed by
user — skewed users are the hazard; cap session length in config if a
key never goes idle.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _events_stream(spark: SparkSession, events_path: str) -> DataFrame:
    from monstache_spark.sources.testdata import ensure_session_confs, normalize_nanos

    ensure_session_confs(spark)
    schema = spark.read.parquet(events_path).schema
    base_dir, fname = os.path.split(events_path)
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", fname)
        .parquet(base_dir)
    )
    return normalize_nanos(stream)


def run_stream_to_parquet(
    df: DataFrame,
    spark: SparkSession,
    mode: str,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
    state_store: str | None = None,
    no_data_batches: bool = True,
) -> DataFrame:
    """Drain a (bounded) streaming frame through a ``foreachBatch``
    parquet sink and read the result back — the scale-correct harness:
    every micro-batch's rows are written executor-side, nothing ever
    collects to the driver (``format("memory")``'s hazard — its sink IS
    a driver-side collect, fine for unit probes, wrong at any scale).

    Output-mode mapping inside the batch body: ``complete`` snapshots
    overwrite the directory (each batch re-emits the full result, last
    snapshot wins); ``append``/``update`` rows append — update-mode
    re-emissions of a key are append rows the CALLER reconciles (e.g.
    max per key for monotone counters), exactly as an idempotent
    upsert sink would.

    ``checkpoint_dir`` pins the query checkpoint so a later call with
    the SAME checkpoint resumes: already-processed source files are
    skipped and keyed state (windows, join buffers, counters)
    continues from the store — the §2.7 resume contract under state,
    not just offsets.  ``state_store`` (or $SPARK_GRAFT_STATE_STORE)
    selects the state-store backend; ``"rocksdb"`` switches to the
    RocksDB provider for state that outgrows executor memory."""
    from monstache_spark.session import (
        _PROVIDER_CONF,
        session_conf,
        state_store_provider,
        stateful_shuffle_width,
    )

    out_dir = out_dir or tempfile.mkdtemp(prefix="stream_sink_")
    write_mode = "overwrite" if mode == "complete" else "append"

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode(write_mode).parquet(out_dir)

    # streaming state stores are allocated per shuffle partition and AQE
    # cannot coalesce stateful exchanges; derive the width (env-
    # overridable for production key cardinalities) instead of the
    # session's full batch width.
    # The zero-row finalize micro-batch exists to advance the watermark
    # so APPEND-mode aggregations flush and state evicts. An operator
    # whose OUTPUT never depends on watermark advance (inner stream-
    # stream join: matches emit in the batch where both sides arrive;
    # eviction is cleanup only) may skip it with no_data_batches=False —
    # measured 1.7-1.9 s of pure state-store iteration per drain. NEVER
    # skip it for windowed aggregations / dropDuplicates in append mode:
    # their final windows would not emit.
    with session_conf(
        spark,
        **{
            "spark.sql.shuffle.partitions": stateful_shuffle_width(spark),
            _PROVIDER_CONF: state_store_provider(state_store),
            "spark.sql.streaming.noDataMicroBatches.enabled": (
                None if no_data_batches else "false"
            ),
        },
    ):
        writer = (
            df.writeStream.foreachBatch(sink)
            .outputMode(mode)
            .trigger(availableNow=True)
        )
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        q = writer.start()
        q.awaitTermination()
    return spark.read.parquet(out_dir)


def hourly_window_counts(
    spark: SparkSession,
    events_path: str,
    watermark: str = "2 hours",
    checkpoint_dir: str | None = None,
    out_dir: str | None = None,
    state_store: str | None = None,
) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type. Watermark
    bounds state; complete output emits every window when the bounded
    source drains (the batch-parity mode for tests)."""
    ev = _events_stream(spark, events_path).withWatermark("ts", watermark)
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
    )
    out = run_stream_to_parquet(
        agg, spark, "complete", out_dir, checkpoint_dir, state_store
    )
    return out.select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "event_type",
        "n_events",
        "sum_value",
    )


def session_windows(
    spark: SparkSession,
    events_path: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    checkpoint_dir: str | None = None,
    out_dir: str | None = None,
    state_store: str | None = None,
) -> DataFrame:
    """Native session_window sessionization — the streaming twin of the
    batch lag+cumsum formulation (operators: sessionize_events)."""
    ev = _events_stream(spark, events_path).withWatermark("ts", watermark)
    agg = ev.groupBy(F.session_window("ts", gap), "user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    out = run_stream_to_parquet(
        agg, spark, "complete", out_dir, checkpoint_dir, state_store
    )
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        "n_events",
        "sum_value",
    )


def stream_stream_join(
    spark: SparkSession,
    events_path: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
    checkpoint_dir: str | None = None,
    out_dir: str | None = None,
    state_store: str | None = None,
) -> DataFrame:
    """Stream-stream inner join with event-time bounds: each signup
    joined to the same user's purchases within ``within`` afterwards.
    Watermarks bound BOTH join-state buffers — without them the join
    state grows with the stream. The time-range predicate lets Spark
    evict: a buffered signup can be dropped once the purchase-side
    watermark passes signup.ts + within."""
    ev = _events_stream(spark, events_path)
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_event"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", watermark)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_event"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    )
    out = run_stream_to_parquet(
        joined, spark, "append", out_dir, checkpoint_dir, state_store,
        # inner join: every match emits in the batch where both sides
        # arrive; the zero-row finalize batch would only evict state
        # (no output), so skip it — see run_stream_to_parquet
        no_data_batches=False,
    )
    return out.select(
        F.col("s_user").alias("user_id"),
        "signup_event",
        "purchase_event",
        F.unix_micros(F.col("p_ts")).alias("purchase_ts_us"),
        "purchase_value",
    )


def stream_dedup_keys(
    spark: SparkSession,
    events_path: str,
    keys: list[str],
    watermark: str = "2 hours",
    checkpoint_dir: str | None = None,
    out_dir: str | None = None,
    state_store: str | None = None,
) -> DataFrame:
    """Watermark-scoped streaming dedup: at most one row per key while
    the key is inside the watermark window; state auto-expires after it
    (dropDuplicatesWithinWatermark). Returns the surviving key set —
    WHICH duplicate survives is arrival-order-dependent, so only the
    keys are deterministic."""
    ev = _events_stream(spark, events_path).withWatermark("ts", watermark)
    deduped = ev.dropDuplicatesWithinWatermark(keys)
    out = run_stream_to_parquet(
        deduped, spark, "append", out_dir, checkpoint_dir, state_store
    )
    return out.select(*keys)


def percolate_alerts(
    spark: SparkSession,
    events_path: str,
    stored: dict,
    id_col: str = "event_id",
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
    derive: dict | None = None,
) -> DataFrame:
    """Streaming percolation: evaluate a registry of stored bool
    queries against every event of the stream and append one alert
    row per (event, matching query) — the saved-search/alerting loop
    a monstache+ES deployment runs with the percolate API, served
    in-engine.

    The percolation stage is stateless (one codegen projection +
    bounded explode per micro-batch, search.percolate), so the stream
    needs no watermark and no state store; alerts append exactly-once
    under the foreachBatch parquet sink.  Returns the drained alert
    frame ``(id, query_name)``.

    ``derive`` optionally adds computed columns to the stream before
    percolation (name → Column) — the stateless enrichment stage a
    real pipeline runs (e.g. assembling a geo_point struct for
    geo-fence stored queries); it stays a codegen projection, so the
    stream remains watermark-free.
    """
    from monstache_spark.operators.search import percolate

    stream = _events_stream(spark, events_path)
    for cname, cexpr in (derive or {}).items():
        stream = stream.withColumn(cname, cexpr)
    alerts = percolate(stream, stored, id_col=id_col)
    return run_stream_to_parquet(alerts, spark, "append", out_dir, checkpoint_dir)
