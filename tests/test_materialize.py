"""Version-guarded materialization invariants: the reference's five e2e
scenarios (monstache_test.go:304-489) plus the out-of-order/replay
property of external versioning (monstache.go:4053-4063)."""

from __future__ import annotations

import datetime as dt
import itertools
import random

import pytest

from monstache_spark.operators.materialize import last_state
from monstache_spark.sinks.merge import StateTable

SCHEMA = (
    "op string, ns string, id string, ts timestamp, ts_ord long, source string, "
    "value double, k long, version long"
)
T0 = dt.datetime(2024, 1, 1)


def _op(op, id_, ver, value=0.0, ns="test.test"):
    return (op, ns, id_, T0 + dt.timedelta(seconds=ver), ver, "oplog", value, 0, ver * 4 + {"i": 0, "u": 1, "d": 2}[op])


def _state_dict(df):
    return {(r["ns"], r["id"]): r["last_value"] for r in df.collect()}


def test_insert_visible(spark):
    ops = spark.createDataFrame([_op("i", "1", 1, 10.0)], SCHEMA)
    assert _state_dict(last_state(ops)) == {("test.test", "1"): 10.0}


def test_update_wins(spark):
    ops = spark.createDataFrame([_op("i", "1", 1, 10.0), _op("u", "1", 2, 20.0)], SCHEMA)
    assert _state_dict(last_state(ops)) == {("test.test", "1"): 20.0}


def test_delete_removes(spark):
    ops = spark.createDataFrame([_op("i", "1", 1, 10.0), _op("d", "1", 2)], SCHEMA)
    assert _state_dict(last_state(ops)) == {}


def test_stale_replay_loses(spark):
    """Out-of-order delivery: an older update replayed after a newer one
    must not win (external version guard)."""
    ops = spark.createDataFrame(
        [_op("i", "1", 1, 10.0), _op("u", "1", 3, 30.0), _op("u", "1", 2, 20.0)], SCHEMA
    )
    assert _state_dict(last_state(ops)) == {("test.test", "1"): 30.0}


def test_replay_and_shuffle_property(spark):
    """Any delivery order + duplicated deliveries converge to the same
    state — the at-least-once idempotence invariant."""
    base = [
        _op("i", "1", 1, 1.0),
        _op("u", "1", 2, 2.0),
        _op("i", "2", 3, 3.0),
        _op("d", "1", 4),
        _op("u", "2", 5, 5.0),
    ]
    expected = {("test.test", "2"): 5.0}
    rng = random.Random(42)
    for _ in range(5):
        ops = base + rng.sample(base, k=3)  # duplicates
        rng.shuffle(ops)
        got = _state_dict(last_state(spark.createDataFrame(ops, SCHEMA)))
        assert got == expected


@pytest.fixture()
def state(spark, tmp_path):
    return StateTable(spark, str(tmp_path / "state"))


def _merge(spark, state, ops):
    state.merge_batch(spark.createDataFrame(ops, SCHEMA))


def test_multi_batch_equals_single_batch(spark, tmp_path):
    """Splitting an op sequence across micro-batches must produce the
    same state as one batch (foreachBatch merge idempotence)."""
    ops = [
        _op("i", "1", 1, 1.0),
        _op("u", "1", 2, 2.0),
        _op("i", "2", 3, 3.0),
        _op("d", "2", 4),
        _op("i", "3", 5, 5.0),
        _op("u", "3", 6, 6.0),
    ]
    single = StateTable(spark, str(tmp_path / "single"))
    _merge(spark, single, ops)
    multi = StateTable(spark, str(tmp_path / "multi"))
    for i in range(0, len(ops), 2):
        _merge(spark, multi, ops[i : i + 2])
    assert _state_dict(single.read()) == _state_dict(multi.read())


def test_cross_batch_stale_update_loses(spark, state):
    _merge(spark, state, [_op("i", "1", 1, 1.0), _op("u", "1", 5, 5.0)])
    _merge(spark, state, [_op("u", "1", 3, 3.0)])  # stale replay in a later batch
    assert _state_dict(state.read()) == {("test.test", "1"): 5.0}


def test_cross_batch_delete_then_stale_insert(spark, state):
    _merge(spark, state, [_op("i", "1", 1, 1.0)])
    _merge(spark, state, [_op("d", "1", 3)])
    assert _state_dict(state.read()) == {}
    # older insert replayed in a LATER batch: the persisted tombstone
    # (ES external-versioning analogue) keeps it dead
    _merge(spark, state, [_op("i", "1", 2, 2.0)])
    assert _state_dict(state.read()) == {}
    # a genuinely newer insert resurrects the key
    _merge(spark, state, [_op("i", "1", 5, 5.0)])
    assert _state_dict(state.read()) == {("test.test", "1"): 5.0}


def test_same_version_delete_insert_batch_invariant(spark, tmp_path):
    """[delete v, insert v] stays dead whether the two ops share a
    micro-batch or are split across batches — the tombstone wins the
    version tie in both paths (ES rejects index at version <= tombstone
    version under external versioning, monstache.go:4053-4063)."""
    # raw tuples: _op() encodes the op type into the version, so a true
    # version tie between a delete and an insert needs hand-built rows
    v = 28
    del_op = ("d", "test.test", "1", T0, 7, "oplog", 0.0, 0, v)
    ins_op = ("i", "test.test", "1", T0, 7, "oplog", 1.0, 0, v)
    one = StateTable(spark, str(tmp_path / "one"))
    _merge(spark, one, [del_op, ins_op])
    assert _state_dict(one.read()) == {}
    split = StateTable(spark, str(tmp_path / "split"))
    _merge(spark, split, [del_op])
    _merge(spark, split, [ins_op])
    assert _state_dict(split.read()) == {}
    # and the tombstone survives the tie, so a later same-version replay
    # of the delete is still a no-op while a strictly newer insert wins
    _merge(spark, split, [("i", "test.test", "1", T0, 8, "oplog", 2.0, 0, v + 1)])
    assert _state_dict(split.read()) == {("test.test", "1"): 2.0}


def test_drop_version_tie_is_erased(spark, state):
    """An op tying the drop's version is erased (under the reference's
    version scheme a tying op can only precede the drop in the oplog,
    and the reference deletes the whole index)."""
    drop_v = 40
    _merge(spark, state, [
        _op("i", "1", 5, 1.0),
        ("drop", "test.test", "", T0, 10, "oplog", 0.0, 0, drop_v),
        ("i", "test.test", "2", T0, 10, "oplog", 2.0, 0, drop_v),   # tie: erased
        _op("i", "3", 30, 3.0),                                    # v=120 > 40: survives
    ])
    assert _state_dict(state.read()) == {("test.test", "3"): 3.0}


def test_tombstone_retention_prunes(spark, tmp_path):
    state = StateTable(spark, str(tmp_path / "ret"), tombstone_retention=10)
    _merge(spark, state, [_op("i", "1", 1, 1.0), _op("d", "1", 3)])
    tombs = state.read(include_tombstones=True).filter("_tomb").collect()
    assert [r["version"] for r in tombs] == [_op("d", "1", 3)[-1]]
    # a batch far past the retention window sweeps the old tombstone
    _merge(spark, state, [_op("i", "2", 100, 9.0)])
    assert state.read(include_tombstones=True).filter("_tomb").count() == 0
    assert _state_dict(state.read()) == {("test.test", "2"): 9.0}


def test_prune_tombstones_explicit(spark, state):
    _merge(spark, state, [_op("d", "1", 3), _op("d", "2", 50)])
    assert state.read(include_tombstones=True).filter("_tomb").count() == 2
    state.prune_tombstones(before_version=_op("d", "2", 50)[-1])
    remaining = state.read(include_tombstones=True).filter("_tomb").collect()
    assert [r["id"] for r in remaining] == ["2"]


def test_drop_mid_batch_keeps_post_drop_recreate(spark, state):
    """A micro-batch [insert v, drop v', insert v''] must materialize
    exactly like the same ops split across batches: the drop erases only
    rows with version < drop version (batch-boundary invariance for
    drops)."""
    drop_v = 25 * 4
    ops = [
        _op("i", "1", 5, 1.0),                                     # erased (v=20 < 100)
        ("drop", "test.test", "", T0, 25, "oplog", 0.0, 0, drop_v),
        _op("i", "2", 30, 2.0),                                    # post-drop: survives
    ]
    _merge(spark, state, ops)
    assert _state_dict(state.read()) == {("test.test", "2"): 2.0}
    # split across batches → identical state
    split = StateTable(spark, str(state.path) + "_split")
    _merge(spark, split, ops[:1])
    _merge(spark, split, ops[1:2])
    _merge(spark, split, ops[2:])
    assert _state_dict(split.read()) == _state_dict(state.read())


def test_drop_collection(spark, state):
    _merge(spark, state, [_op("i", "1", 1, 1.0), _op("i", "2", 2, 2.0, ns="test.other")])
    _merge(spark, state, [("drop", "test.test", "", T0, 10, "oplog", 0.0, 0, 40)])
    assert _state_dict(state.read()) == {("test.other", "2"): 2.0}


def test_drop_database(spark, state):
    _merge(spark, state, [_op("i", "1", 1, 1.0), _op("i", "2", 2, 2.0, ns="other.t")])
    _merge(spark, state, [("dropDatabase", "test", "", T0, 10, "oplog", 0.0, 0, 40)])
    assert _state_dict(state.read()) == {("other.t", "2"): 2.0}


def test_scd2_intervals_close_on_update_and_delete(spark):
    from monstache_spark.operators.timemachine import scd2_intervals

    ops = spark.createDataFrame(
        [
            ("u", "db.c", "a", 10, "v1", "k1"),
            ("u", "db.c", "a", 20, "v2", "k1"),
            ("d", "db.c", "a", 30, None, None),
            ("u", "db.c", "b", 15, "w1", "k2"),
        ],
        "op string, ns string, id string, version long, value string, k string",
    )
    out = {(r["id"], r["valid_from"]): r for r in scd2_intervals(ops).collect()}
    # a@10 closed by a@20; a@20 closed by the DELETE at 30 (no row for
    # the delete itself); b@15 open/current
    assert out[("a", 10)]["valid_to"] == 20 and out[("a", 10)]["is_current"] == 0
    assert out[("a", 20)]["valid_to"] == 30 and out[("a", 20)]["is_current"] == 0
    assert out[("b", 15)]["valid_to"] is None and out[("b", 15)]["is_current"] == 1
    assert len(out) == 3


def test_plan_mixture_caps_at_keep_everything(spark):
    from monstache_spark.operators.curation import plan_mixture

    docs = spark.createDataFrame(
        [(1, "one two three four", "big"), (2, "five six seven eight", "big"),
         (3, "tiny doc", "small")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in
           plan_mixture(docs, {"big": 5000, "small": 5000}, token_budget=100).collect()}
    # big: 8 tokens, target 50 -> capped at 10000bp, expected 8
    assert out["big"]["sample_bp"] == 10000 and out["big"]["expected_tokens"] == 8
    # small: 2 tokens, target 50 -> also capped (shortfall visible via
    # target_tokens >> expected_tokens)
    assert out["small"]["target_tokens"] == 50
    assert out["small"]["expected_tokens"] == 2
