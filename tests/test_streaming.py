"""E2E streaming pipeline: stream == batch (DataFrame parity), resume
idempotence via checkpoint."""

from __future__ import annotations

import os

from monstache_spark.sources.testdata import load_table
from monstache_spark.streaming.pipeline import PipelineConfig, run_batch, run_stream

SF_DIR = "/root/testdata/sf0.001"


def _cfg(tmp_path, tag):
    return PipelineConfig(
        namespace_regex=r"^(test|fs)\..+",
        namespace_exclude_regex=r"\.accounts$",
        checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
        state_dir=str(tmp_path / f"state_{tag}"),
    )


def _as_dict(df):
    return {(r["ns"], r["id"]): (r["last_value"], r["version"]) for r in df.collect()}


def test_stream_equals_batch(spark, tmp_path):
    stream_state = run_stream(spark, os.path.join(SF_DIR, "events.parquet"), _cfg(tmp_path, "s"))
    batch_state = run_batch(spark, load_table(spark, "events", SF_DIR), _cfg(tmp_path, "b"))
    a, b = _as_dict(stream_state.read()), _as_dict(batch_state.read())
    assert a == b and len(a) > 0


def test_stats_listener_records_progress(spark, tmp_path):
    """K9 stats surface: micro-batch progress recorded per batch."""
    from monstache_spark.streaming.ops import StatsRecorder

    rec = StatsRecorder(str(tmp_path / "stats" / "progress.jsonl"))
    spark.streams.addListener(rec)
    try:
        run_stream(spark, os.path.join(SF_DIR, "events.parquet"), _cfg(tmp_path, "stats"))
        import time

        deadline = time.time() + 15
        rows = rec.rows()
        while time.time() < deadline and not any(r["event"] == "progress" and r.get("numInputRows", 0) > 0 for r in rows):
            time.sleep(0.5)
            rows = rec.rows()
    finally:
        spark.streams.removeListener(rec)
    assert any(r["event"] == "started" for r in rows)
    assert any(r["event"] == "progress" and r.get("numInputRows", 0) > 0 for r in rows)


def test_stream_restart_is_idempotent(spark, tmp_path):
    cfg = _cfg(tmp_path, "r")
    s1 = run_stream(spark, os.path.join(SF_DIR, "events.parquet"), cfg)
    first = _as_dict(s1.read())
    # restart with same checkpoint: no new input -> state unchanged
    s2 = run_stream(spark, os.path.join(SF_DIR, "events.parquet"), cfg)
    assert _as_dict(s2.read()) == first


def _single_file(df, target: str, scratch: str):
    import shutil

    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    part = next(f for f in os.listdir(scratch) if f.endswith(".parquet"))
    shutil.copyfile(os.path.join(scratch, part), target)


def test_resume_processes_only_new_files(spark, tmp_path):
    """§2.7 resume: a restart with the same checkpoint picks up files
    added since the last run and merges them into existing state —
    final state equals the batch materialization of everything."""
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    all_events = load_table(spark, "events", SF_DIR)
    cut = 3000
    _single_file(all_events.filter(F.col("event_id") < cut), str(src / "a.parquet"), str(tmp_path / "wa"))
    cfg = _cfg(tmp_path, "inc")
    glob_path = os.path.join(str(src), "*.parquet")
    run_stream(spark, glob_path, cfg)
    _single_file(all_events.filter(F.col("event_id") >= cut), str(src / "b.parquet"), str(tmp_path / "wb"))
    s = run_stream(spark, glob_path, cfg)
    batch = run_batch(spark, all_events, _cfg(tmp_path, "incb"))
    assert _as_dict(s.read()) == _as_dict(batch.read())


def test_resume_from_timestamp_skips_older_ops(spark, tmp_path):
    """Explicit resume-from-timestamp: ops before the cut are ignored."""
    from pyspark.sql import functions as F

    cut_ts = "2024-01-15 00:00:00"
    cfg = _cfg(tmp_path, "ts")
    cfg.resume_from_ts = cut_ts
    s = run_stream(spark, os.path.join(SF_DIR, "events.parquet"), cfg)
    filtered = load_table(spark, "events", SF_DIR).filter(
        F.col("ts") >= F.lit(cut_ts).cast("timestamp")
    )
    batch = run_batch(spark, filtered, _cfg(tmp_path, "tsb"))
    assert _as_dict(s.read()) == _as_dict(batch.read())


def test_http_observability_endpoints(spark, tmp_path):
    """§3.4 sidecar: /healthz /started /stats /instance."""
    import json as _json
    import urllib.request

    from monstache_spark.streaming.ops import StatsRecorder, StatsServer

    rec = StatsRecorder(str(tmp_path / "http_stats" / "progress.jsonl"))
    srv = StatsServer(rec, status_fn=lambda: {"pipeline": "test"}).start()
    try:
        base = f"http://127.0.0.1:{srv.port}"

        def get(path, expect_error=False):
            try:
                with urllib.request.urlopen(base + path) as r:
                    return r.status, _json.loads(r.read())
            except urllib.error.HTTPError as e:
                return e.code, _json.loads(e.read())

        assert get("/healthz") == (200, {"ok": True})
        code, body = get("/started")
        assert code == 503 and body["started"] is False

        spark.streams.addListener(rec)
        try:
            run_stream(spark, os.path.join(SF_DIR, "events.parquet"), _cfg(tmp_path, "http"))
        finally:
            spark.streams.removeListener(rec)

        code, body = get("/started")
        assert code == 200 and body["started"] is True
        import time

        deadline = time.time() + 15
        while time.time() < deadline:
            code, body = get("/stats")
            if body["rows_processed"] > 0:
                break
            time.sleep(0.5)  # progress listener callbacks fire async
        assert code == 200 and body["rows_processed"] > 0
        code, body = get("/instance")
        assert code == 200 and body["pipeline"] == "test" and body["events"] > 0
        assert get("/nope")[0] == 404
    finally:
        srv.stop()


def test_multi_microbatch_stream_equals_batch(spark, tmp_path):
    """maxFilesPerTrigger=1 over 3 source files: real multi-micro-batch
    execution with cross-batch tombstones through the state table
    must equal the single-shot batch materialization."""
    from pyspark.sql import functions as F

    src = tmp_path / "mb_src"
    src.mkdir()
    all_events = load_table(spark, "events", SF_DIR)
    for lo, hi, name in ((0, 2000, "a"), (2000, 4000, "b"), (4000, 10**9, "c")):
        part = all_events.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        scratch = str(tmp_path / f"mb_w{name}")
        part.coalesce(1).write.mode("overwrite").parquet(scratch)
        f = next(x for x in os.listdir(scratch) if x.endswith(".parquet"))
        os.rename(os.path.join(scratch, f), str(src / f"{name}.parquet"))
    cfg = _cfg(tmp_path, "mb")
    cfg.max_files_per_trigger = 1
    s = run_stream(spark, os.path.join(str(src), "*.parquet"), cfg)
    batch = run_batch(spark, all_events, _cfg(tmp_path, "mbb"))
    assert _as_dict(s.read()) == _as_dict(batch.read())


def test_sharded_sources_union_into_one_pipeline(spark, tmp_path):
    """S6 sharded-cluster shape: N independent stream sources union
    into one op stream feeding one sink (gtm.StartMulti,
    monstache.go:4912). Two disjoint 'shards' must materialize exactly
    like the unsharded stream."""
    from pyspark.sql import functions as F

    from monstache_spark.envelope import events_to_envelope
    from monstache_spark.sinks.merge import StateTable
    from monstache_spark.sources.testdata import load_table, normalize_nanos
    from monstache_spark.streaming.pipeline import transform

    all_events = load_table(spark, "events", SF_DIR)
    shard_dirs = []
    for name, pred in (("s0", F.col("user_id") % 2 == 0), ("s1", F.col("user_id") % 2 == 1)):
        d = tmp_path / name
        d.mkdir()
        _single_file(all_events.filter(pred), str(d / "events.parquet"), str(tmp_path / f"w{name}"))
        shard_dirs.append(str(d))

    schema = spark.read.parquet(str(tmp_path / "s0" / "events.parquet")).schema
    streams = [
        normalize_nanos(
            spark.readStream.schema(schema).option("pathGlobFilter", "events.parquet").parquet(d)
        )
        for d in shard_dirs
    ]
    unioned = streams[0].unionByName(streams[1])
    cfg = _cfg(tmp_path, "shards")
    ops = transform(events_to_envelope(unioned), cfg)
    state = StateTable(spark, cfg.state_dir)
    q = (
        ops.writeStream.foreachBatch(lambda df, _e: state.merge_batch(df))
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch = run_batch(spark, all_events, _cfg(tmp_path, "shardsb"))
    assert _as_dict(state.read()) == _as_dict(batch.read())


def test_percolate_alerts_matches_batch_registry(spark, tmp_path):
    import datetime

    from monstache_spark.operators.search import percolate
    from monstache_spark.streaming.windows import percolate_alerts

    rows = [
        (1, datetime.datetime(2024, 1, 1, 1), 5, "purchase", 150.0, "{}"),
        (2, datetime.datetime(2024, 1, 1, 2), 6, "error", 1.0, "{}"),
        (3, datetime.datetime(2024, 1, 1, 3), 7, "view", 9.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    # the harness path contract is a single parquet FILE (like the
    # driver testdata), not a directory
    import glob as _glob
    import shutil

    staged = str(tmp_path / "staged")
    df.coalesce(1).write.parquet(staged)
    path = str(tmp_path / "events.parquet")
    shutil.copy(_glob.glob(f"{staged}/part-*.parquet")[0], path)
    stored = {
        "buy": {"term": {"event_type": "purchase"}},
        "err": {"term": {"event_type": "error"}},
    }
    streamed = {
        (r["event_id"], r["query_name"])
        for r in percolate_alerts(spark, path, stored).collect()
    }
    batch = {
        (r["event_id"], r["query_name"])
        for r in percolate(spark.read.parquet(path), stored, id_col="event_id").collect()
    }
    assert streamed == batch == {(1, "buy"), (2, "err")}


def test_downsample_table_restatement_and_order_independence(spark, tmp_path):
    import datetime

    from monstache_spark.operators.aggs import downsample
    from monstache_spark.sinks.downsample import DownsampleTable

    t = lambda m: datetime.datetime(2024, 1, 1, m // 60, m % 60)  # noqa: E731
    rows = [
        (1, "a", t(5), 1.5), (2, "a", t(20), 2.5), (3, "b", t(10), 9.0),
        (4, "a", t(40), 0.5), (5, "a", t(40), 7.0), (6, "b", t(70), 4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, dim string, ts timestamp, value double"
    )
    b1 = df.filter("event_id <= 2")
    b2 = df.filter("event_id IN (3, 4)")
    b3 = df.filter("event_id >= 5")

    def run(order, path):
        tbl = DownsampleTable(
            spark, str(path), "ts", ["dim"], gauges=["value"],
            counters=["value"], fixed_interval="1h",
        )
        for b in order:
            tbl.merge_batch(b)
        return sorted(map(tuple, tbl.read().collect()))

    got = run([b1, b2, b3], tmp_path / "s1")
    # restatement equality: identical to the batch operator over all rows
    want = sorted(map(tuple, downsample(
        df, "ts", ["dim"], gauges=["value"], counters=["value"],
        fixed_interval="1h",
    ).collect()))
    assert got == want
    # arrival-order independence
    assert run([b3, b1, b2], tmp_path / "s2") == want
    # the cross-batch counter last: bucket (a, 00:xx) latest is
    # (t=40, id=5) -> 7.0 even though id 5 arrived in a later batch
    by_key = {(r[0], r[1].hour): r for r in (tuple(x) for x in got)}
    assert by_key[("a", 0)][-1] == 7.0

    import pytest as _pt

    with _pt.raises(ValueError, match="fixed_interval"):
        DownsampleTable(spark, str(tmp_path / "bad"), "ts", ["dim"],
                        ["value"], fixed_interval="2w")


def test_downsample_table_skips_replayed_batch(spark, tmp_path):
    import datetime

    from monstache_spark.sinks.downsample import DownsampleTable

    df = spark.createDataFrame(
        [(1, "a", datetime.datetime(2024, 1, 1, 0, 5), 2.0)],
        "event_id long, dim string, ts timestamp, value double",
    )
    tbl = DownsampleTable(
        spark, str(tmp_path / "s"), "ts", ["dim"], gauges=["value"],
        fixed_interval="1h",
    )
    tbl.merge_batch(df, batch_id=0)
    tbl.merge_batch(df, batch_id=0)  # crash-replay of the same epoch
    tbl.merge_batch(df, batch_id=1)  # a genuinely new batch folds
    row = tbl.read().collect()[0]
    assert (row["doc_count"], row["value_sum"]) == (2, 4.0)


def test_streaming_eql_cross_batch_chains(spark, tmp_path):
    """Chains started in one micro-batch must complete in a later one
    (keyed state carries in-flight chains), expired chains must not
    fire, and a second run over the same checkpoint must not re-emit."""
    import datetime
    import os as _os
    import shutil

    from pyspark.sql import functions as F

    from monstache_spark.streaming.eql import eql_sequence_stream

    t = lambda d, m: datetime.datetime(2024, 1, d, 0, m)  # noqa: E731
    rows = [
        (1, t(1, 0), "u1", "a"),
        (2, t(1, 5), "u2", "a"),
        # batch 2 (later days): u1's b completes within maxspan of 2
        # days; u2's b arrives 5 days later -> its chain expired
        (3, t(2, 0), "u1", "b"),
        (4, t(6, 0), "u2", "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user string, kind string"
    )
    src = tmp_path / "src"
    src.mkdir()
    for name, cond in (("b1", F.col("ts") < "2024-01-02"),
                       ("b2", F.col("ts") >= "2024-01-02")):
        scratch = str(tmp_path / f"w{name}")
        df.filter(cond).coalesce(1).write.mode("overwrite").parquet(scratch)
        part = next(x for x in _os.listdir(scratch) if x.endswith(".parquet"))
        shutil.copyfile(_os.path.join(scratch, part), str(src / f"{name}.parquet"))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1").parquet(str(src))
    )
    alerts = eql_sequence_stream(
        stream,
        [{"term": {"kind": "a"}}, {"term": {"kind": "b"}}],
        by="user", ts_col="ts", id_col="event_id",
        maxspan_s=2 * 86400,
    )
    sink, ckpt = str(tmp_path / "alerts"), str(tmp_path / "ckpt")
    q = (alerts.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = [(r["k"], r["id1"], r["id2"]) for r in spark.read.parquet(sink).collect()]
    # u1 completes ACROSS batches; u2's start expired before its b
    assert got == [("u1", 1, 3)]
    # restart over the same checkpoint with no new input: nothing re-emits
    q2 = (eql_sequence_stream(
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1").parquet(str(src)),
            [{"term": {"kind": "a"}}, {"term": {"kind": "b"}}],
            by="user", ts_col="ts", id_col="event_id", maxspan_s=2 * 86400,
          ).writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination()
    assert len(spark.read.parquet(sink).collect()) == 1
