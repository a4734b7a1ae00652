"""The CDC workloads: a seeded op stream through
``streaming.pipeline.run_stream`` into the version-guarded state table.

Closed loop: the file source takes one generated file per trigger
(``availableNow``, ``maxFilesPerTrigger=1``), so each micro-batch starts
when the previous one has committed. One stream, one state, one
checkpoint; the run has two parts:

1. set-up: the initial-sync file (one insert per key) drained into the
   empty state (``first_run_s``, the engine's first job), then
   ``WARM_BATCHES`` batches that take the JVM down the steep part of its
   warm-up curve (the first batches run up to twice as long as later
   ones) and count in no figure;
2. ``seconds / BATCH_S`` more batches, the measured ones: about
   ``seconds`` of work on a 4-core box. The count is fixed, so every run
   samples the same stretch of the JVM's warm-up.

Batch durations come from a ``StreamingQueryListener`` (Spark's
``StreamingQueryProgress``), not from the sink classes.
"""

from __future__ import annotations

import math
import os
import threading
import time

import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

import expected
import tracing as tr
from gen import SHAPES, StreamGenerator

WARM_BATCHES = 4
BATCH_S = 1.5

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampNTZType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


class ProgressLog(StreamingQueryListener):
    """Progress (``durationMs``) of every micro-batch of the first query
    started after the listener was added. Spark calls ``onQueryStarted``
    before ``start()`` returns, but delivers progress asynchronously, so
    late reports of an earlier query are told apart by query id."""

    def __init__(self):
        self.query: str | None = None
        self.batches: list[dict] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self.query = self.query or str(event.id)

    def onQueryProgress(self, event):
        p = event.progress
        with self._cv:
            if str(p.id) == self.query:
                self.batches.append(dict(p.durationMs))
                self._cv.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, n: int, timeout: float = 60.0) -> list[dict]:
        """The first ``n`` progress reports."""
        with self._cv:
            if not self._cv.wait_for(lambda: len(self.batches) >= n, timeout):
                raise RuntimeError(f"got {len(self.batches)} progress reports, expected {n}")
            return self.batches[:n]


def _stream(spark, base: str, in_dir: str):
    """``run_stream`` over every file in ``in_dir``, one file per trigger,
    with checkpoint and state under ``base``."""
    from monstache_spark.streaming.pipeline import PipelineConfig, run_stream

    cfg = PipelineConfig(
        checkpoint_dir=os.path.join(base, "checkpoint"),
        state_dir=os.path.join(base, "state"),
        max_files_per_trigger=1,
    )
    return run_stream(spark, os.path.join(in_dir, "*.parquet"), cfg, events_schema=EVENTS_SCHEMA)


class CdcWorkload:
    def __init__(self, name: str, seed: int, work: str):
        self.work = work
        self.gen = StreamGenerator(SHAPES[name], seed, os.path.join(work, "in"))
        self.log = ProgressLog()
        self.gen_s = 0.0  # input generation time, excluded from set-up
        self.attempted = 0  # micro-batches started

    def _generate(self, n: int) -> int:
        """Write ``n`` more files; returns their event count."""
        t = time.perf_counter()
        before = self.gen.events_written
        for _ in range(n):
            self.gen.write_next()
        self.gen_s += time.perf_counter() - t
        return self.gen.events_written - before

    def prepare(self) -> None:
        """Inputs of the set-up: the initial sync and the warm-up batches."""
        self._generate(1 + WARM_BATCHES)

    def warm_up(self, spark) -> None:
        """The initial sync and the warm-up batches; ``run`` removes the
        listener."""
        spark.streams.addListener(self.log)
        self.attempted = self.gen.next_index
        _stream(spark, self.work, self.gen.out_dir)
        self.log.wait_for(self.gen.next_index)

    def run(self, spark, seconds: float, tracer: tr.Tracer) -> dict:
        from monstache_spark.sinks import merge

        sink_stats: list[dict] = []
        undo = []
        try:
            if tracer.enabled:
                undo.append(tr.wrap(merge.StateTable, "read", tracer, "sink.read"))
                undo.append(tr.wrap(merge.StateTable, "merge_batch", tracer, "sink.merge_batch",
                                    after=lambda args: sink_stats.append(_committed(args[0]))))
            events = self._generate(max(1, math.ceil(seconds / BATCH_S)))
            self.attempted = self.gen.next_index
            cpu0 = tr.cpu_seconds(spark)
            with tracer.span("pipeline.run_stream"):
                state = _stream(spark, self.work, self.gen.out_dir)
            cpu_s = tr.cpu_seconds(spark) - cpu0
            batches = self.log.wait_for(self.gen.next_index)
        finally:
            for u in undo:
                u()
            spark.streams.removeListener(self.log)
        tr.log("batches (s): " + " ".join(f"{b['triggerExecution'] / 1000:.2f}" for b in batches))
        measured = batches[1 + WARM_BATCHES:]
        busy_s = sum(b["triggerExecution"] for b in measured) / 1000.0
        with tracer.span("check"):
            live = state.read().toArrow()
            stored = state.read(include_tombstones=True).toArrow()
            counts = expected.check_state(self.gen.files(), live, stored)
        out = {
            "attempted": self.attempted,
            "first_run_s": batches[0]["triggerExecution"] / 1000.0,
            "warm_p50_s": tr.median(b["triggerExecution"] for b in measured) / 1000.0,
            "throughput_per_s": events / busy_s,
            "cpu_s_per_op": cpu_s / len(measured),
            "measured": measured,
            "events": events,
            "counts": counts,
        }
        if tracer.enabled:
            out["sink_stats"] = sink_stats
            out["touched"] = [expected.keys_touched(p) for p in self.gen.files()[1 + WARM_BATCHES:]]
        return out


def _committed(table) -> dict:
    """Rows and bytes of the state version a merge just committed."""
    d = os.path.join(table.path, f"v{table._current_version()}")
    rows = nbytes = 0
    for f in os.listdir(d):
        p = os.path.join(d, f)
        if f.endswith(".parquet"):
            rows += pq.ParquetFile(p).metadata.num_rows
        if not f.startswith((".", "_")):
            nbytes += os.path.getsize(p)
    return {"rows": rows, "bytes": nbytes}


def layer_metrics(res: dict, tracer: tr.Tracer, jobs: dict) -> dict:
    """Per-layer figures of one traced CDC run: medians over the
    measured batches (the sink is traced only while measuring)."""
    m = res["measured"]
    costs = tr.cost_of(tracer.named("sink.merge_batch"), jobs)
    stats = res["sink_stats"]

    def ms(*keys):
        return tr.median(sum(b.get(k, 0) for k in keys) for b in m) / 1000.0

    return {
        "pipeline.add_batch_s": ms("addBatch"),
        "pipeline.planning_s": ms("queryPlanning"),
        "pipeline.wal_commit_s": ms("walCommit", "commitOffsets"),
        "pipeline.source_s": ms("latestOffset", "getBatch"),
        "pipeline.overhead_s": tr.median(b["triggerExecution"] - b.get("addBatch", 0) for b in m) / 1000.0,
        "sink.jobs_per_batch": tr.median(n for n, _ in costs),
        "sink.stages_per_batch": tr.median(c.stages for _, c in costs),
        "sink.tasks_per_batch": tr.median(c.tasks for _, c in costs),
        "sink.read_s": tr.median(s.seconds for s in tracer.named("sink.read")),
        "sink.rows_written_per_batch": tr.median(s["rows"] for s in stats),
        "sink.rows_written_per_key_touched": tr.median(
            s["rows"] / max(k, 1) for s, k in zip(stats, res["touched"])),
        "sink.bytes_written_per_batch": tr.median(s["bytes"] for s in stats),
        "sink.bytes_written_per_event": sum(s["bytes"] for s in stats) / res["events"],
        "sink.state_rows": res["counts"]["state_rows"],
        "sink.tombstone_rows": res["counts"]["tombstone_rows"],
        "exec.cpu_ms_per_batch": tr.median(c.cpu_ms for _, c in costs),
        "exec.run_ms_per_batch": tr.median(c.run_ms for _, c in costs),
        "exec.gc_ms_per_batch": tr.median(c.gc_ms for _, c in costs),
        "exec.shuffle_write_bytes_per_batch": tr.median(c.shuffle_write for _, c in costs),
        "exec.shuffle_read_bytes_per_batch": tr.median(c.shuffle_read for _, c in costs),
        "exec.spill_bytes": sum(c.spill for _, c in costs),
    }
