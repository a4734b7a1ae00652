"""The state sink's commit and staging contracts: crash-safe pointer
swaps, the K6 drop toggles, envelope sources reaching the drop erase,
and a load-insensitive budget (Spark jobs, Py4J round trips) for a warm
micro-batch merge."""

from __future__ import annotations

import cProfile
import datetime as dt
import os
import pstats

import pytest

from monstache_spark.sinks import merge
from monstache_spark.sinks.bucketed import BucketedStateTable
from monstache_spark.sinks.merge import StateTable

ENV_SCHEMA = (
    "op string, ns string, id string, ts timestamp, ts_ord long, "
    "source string, value double, k long, version long"
)


def _ops(spark, rows):
    full = [
        (op, ns, i, dt.datetime(2024, 1, 1), 0, "oplog", float(v), 1, v)
        for (op, ns, i, v) in rows
    ]
    return spark.createDataFrame(full, ENV_SCHEMA)


def _keys(table):
    df = table.read()
    return set() if df is None else {(r["ns"], r["id"], r["version"]) for r in df.collect()}


@pytest.mark.parametrize("kind", ["plain", "bucketed"])
def test_failed_pointer_swap_keeps_previous_version(spark, tmp_path, monkeypatch, kind):
    """A commit whose CURRENT swap fails leaves the table reading the
    version before it; replaying the batch then converges."""
    path = str(tmp_path / kind)
    table = StateTable(spark, path) if kind == "plain" else BucketedStateTable(spark, path, 4)
    table.merge_batch(_ops(spark, [("i", "db.c", "a", 10), ("i", "db.c", "b", 10)]))
    before = _keys(table)
    second = _ops(spark, [("u", "db.c", "a", 20), ("d", "db.c", "b", 20)])

    real_replace = os.replace

    def failing_replace(src, dst):
        if os.path.basename(dst) == "CURRENT":
            raise OSError("simulated crash during the pointer swap")
        return real_replace(src, dst)

    monkeypatch.setattr(merge.os, "replace", failing_replace)
    with pytest.raises(OSError, match="simulated crash"):
        table.merge_batch(second)
    monkeypatch.setattr(merge.os, "replace", real_replace)

    with open(os.path.join(path, "CURRENT")) as f:
        assert f.read() == "1"
    assert _keys(table) == before
    table.merge_batch(second)
    assert _keys(table) == {("db.c", "a", 20)}


@pytest.mark.parametrize(
    "toggles, survivors",
    [
        ({}, {"one.b", "three.d"}),
        ({"dropped_collections": False}, {"one.a", "one.b", "three.d"}),
        ({"dropped_databases": False}, {"one.b", "two.c", "three.d"}),
    ],
)
def test_drop_toggles(spark, tmp_path, toggles, survivors):
    """``dropped_collections`` / ``dropped_databases`` each switch off
    their drop kind only."""
    table = StateTable(spark, str(tmp_path / "t"), **toggles)
    table.merge_batch(
        _ops(spark, [("i", ns, "x", 10) for ns in ("one.a", "one.b", "two.c", "three.d")])
    )
    table.merge_batch(
        _ops(spark, [("drop", "one.a", None, 15), ("dropDatabase", "two", None, 15)])
    )
    assert {ns for ns, _, _ in _keys(table)} == survivors


def test_run_stream_envelope_source_applies_drops(spark, tmp_path):
    """``run_stream`` over a source that already has the envelope
    schema passes it through unmapped, so its drop ops reach the K6
    erase — and the pipeline's drop toggle reaches the sink."""
    from monstache_spark.streaming.pipeline import PipelineConfig, run_stream

    src = str(tmp_path / "env")
    _ops(
        spark,
        [
            ("i", "test.users", "1", 10),
            ("i", "test.users", "2", 11),
            ("i", "test.accounts", "3", 12),
            ("drop", "test.users", None, 20),
            ("i", "test.users", "4", 30),  # re-created after the drop
        ],
    ).coalesce(1).write.parquet(src)

    def run(name, **cfg):
        return run_stream(
            spark,
            os.path.join(src, "*.parquet"),
            PipelineConfig(
                checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
                state_dir=str(tmp_path / f"state_{name}"),
                **cfg,
            ),
        )

    assert _keys(run("on")) == {("test.accounts", "3", 12), ("test.users", "4", 30)}
    assert _keys(run("off", dropped_collections=False)) == {
        ("test.users", "1", 10),
        ("test.users", "2", 11),
        ("test.accounts", "3", 12),
        ("test.users", "4", 30),
    }


def _jobs_in_group(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_warm_merge_budget(spark, tmp_path):
    """A warm merge of a drop-free batch: at most 7 Spark jobs, no
    schema-inference job (reading the version it just committed
    launches none), and at most 100 Py4J round trips. Counts, not
    seconds, so box load cannot move them."""
    sc = spark.sparkContext
    path = str(tmp_path / "warm")
    table = StateTable(spark, path)
    table.merge_batch(_ops(spark, [("i", "db.c", str(i), 10) for i in range(500)]))
    table.merge_batch(_ops(spark, [("u", "db.c", str(i), 20) for i in range(0, 500, 3)]))
    batch = _ops(
        spark,
        [("u", "db.c", str(i), 30) for i in range(0, 600, 7)]
        + [("d", "db.c", str(i), 31) for i in range(1, 500, 11)],
    )

    prof = cProfile.Profile()

    def merge_profiled():
        prof.enable()
        try:
            table.merge_batch(batch)
        finally:
            prof.disable()

    jobs = _jobs_in_group(sc, "warm-merge", merge_profiled)
    assert 0 < len(jobs) <= 7, jobs
    calls = sum(
        n[1]
        for (fname, _, func), n in pstats.Stats(prof).stats.items()
        if func == "send_command" and fname.endswith("java_gateway.py")
    )
    assert 0 < calls <= 100, calls

    assert _jobs_in_group(sc, "warm-read", lambda: table.read(include_tombstones=True)) == []
    # a fresh instance must infer the schema: the check above can see it
    fresh = StateTable(spark, path)
    assert len(_jobs_in_group(sc, "fresh-read", lambda: fresh.read())) == 1
