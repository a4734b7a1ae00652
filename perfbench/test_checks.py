"""The benchmark's output checks reject wrong answers.

    python3 -m pytest perfbench/test_checks.py -q

No Spark: the "program output" is built from the independent expected
state, then deliberately damaged.
"""

from __future__ import annotations

import dataclasses
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import expected  # noqa: E402
from gen import SHAPES, StreamGenerator  # noqa: E402


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    shape = dataclasses.replace(SHAPES["cdc_hot_keys"], keys=500, batch_events=2_000)
    gen = StreamGenerator(shape, seed=5, out_dir=str(tmp_path_factory.mktemp("in")))
    for _ in range(4):
        gen.write_next()
    return gen.files()


def _program_output(files):
    """What a correct state table returns: live rows, and live rows plus
    one tombstone per key whose winning op is a delete."""
    live, keys, max_version = expected.expected_state(files)
    ids = pc.cast(live["id"], pa.int64()).to_numpy()
    dead = ~np.isin(keys, ids)
    tomb = pa.table({
        "ns": pa.array(np.array(expected.NAMESPACES, dtype=object)[keys[dead] % 5], pa.string()),
        "id": pc.cast(pa.array(keys[dead]), pa.string()),
        "version": pa.array(max_version[dead]),
    })
    stored = pa.concat_tables([live.select(["ns", "id", "version"]), tomb])
    return live, stored


def _replace(t: pa.Table, col: str, row: int, value) -> pa.Table:
    vals = t[col].to_pylist()
    vals[row] = value
    return t.set_column(t.schema.get_field_index(col), col, pa.array(vals, t.schema.field(col).type))


def test_correct_state_passes(stream):
    live, stored = _program_output(stream)
    counts = expected.check_state(stream, live, stored)
    assert counts["state_rows"] == live.num_rows > 0
    assert counts["tombstone_rows"] > 0  # the stream does delete keys


@pytest.mark.parametrize("col, value", [
    ("last_value", -1.0), ("last_k", 12345), ("last_ts_ord", -7), ("version", 1),
])
def test_wrong_column_fails(stream, col, value):
    live, stored = _program_output(stream)
    with pytest.raises(expected.CheckFailed, match="differs|version"):
        expected.check_state(stream, _replace(live, col, 3, value), stored)


def test_missing_live_row_fails(stream):
    live, stored = _program_output(stream)
    with pytest.raises(expected.CheckFailed, match="live rows"):
        expected.check_state(stream, live.slice(1), stored)


def test_missing_tombstone_fails(stream):
    live, stored = _program_output(stream)
    with pytest.raises(expected.CheckFailed, match="kept keys"):
        expected.check_state(stream, live, stored.slice(0, stored.num_rows - 1))


def test_guarded_namespace_fails(stream):
    live, stored = _program_output(stream)
    with pytest.raises(expected.CheckFailed, match="guarded"):
        expected.check_state(stream, live, _replace(stored, "ns", 0, "test.system.profiles"))


def test_stale_tombstone_version_fails(stream):
    live, stored = _program_output(stream)
    last = stored.num_rows - 1  # a tombstone row
    v = stored["version"][last].as_py()
    with pytest.raises(expected.CheckFailed, match="stores version"):
        expected.check_state(stream, live, _replace(stored, "version", last, v - 4))


ROWS = [(1, "a", 0.5), (2, "b", 1.25)]


def test_query_check_accepts_reordered_rows():
    expected.check_query("q", ["id", "s", "x"], ROWS, ["x", "id", "s"], [(r[2], r[0], r[1]) for r in ROWS[::-1]])


@pytest.mark.parametrize("cols, rows, match", [
    (["id", "s", "y"], ROWS, "columns"),
    (["id", "s", "x"], ROWS[:1], "rows"),
    (["id", "s", "x"], [(1, "a", 0.5), (2, "b", 1.2500000001)], "hash"),
])
def test_query_check_rejects_wrong_result(cols, rows, match):
    with pytest.raises(expected.CheckFailed, match=match):
        expected.check_query("q", cols, rows, ["id", "s", "x"], ROWS)


def test_query_checks_count_every_wrong_query():
    good = (["id", "s", "x"], ROWS, ["id", "s", "x"], ROWS)
    short = (["id", "s", "x"], ROWS[:1], ["id", "s", "x"], ROWS)
    renamed = (["id", "s", "y"], ROWS, ["id", "s", "x"], ROWS)
    expected.check_queries({"a": good, "b": good})
    with pytest.raises(expected.CheckFailed, match="b: .*c: ") as e:
        expected.check_queries({"a": good, "b": short, "c": renamed})
    assert e.value.failed == 2
