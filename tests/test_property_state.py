"""Property test of the state table's stored rows (SURVEY.md §2.6 K1-K6).

Random op sets — with same-version delete+insert pairs, at-least-once
replays and null-id drops — cut into random micro-batches must leave
``StateTable`` holding exactly the rows (live rows AND tombstones) that
a pure-Python model of the tie rules computes for the same batches:

- within a batch a key stages as a tombstone iff its max delete version
  is >= its max upsert version, else as its max-version upsert;
- a staged row replaces the stored row iff it is strictly newer, or ties
  it while the stored row is not a tombstone;
- a drop at version v then erases every row of its namespace (a
  ``dropDatabase``: of its database) with version <= v.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from monstache_spark.sinks.merge import StateTable

NAMESPACES = ("db.a", "db.b", "other.c")
DROPS = ("drop", "dropDatabase")


def _value(kid: str, version: int) -> float:
    # the payload is a function of (key, version): two upserts that tie
    # on version (replays, an insert and an update) carry equal payloads
    return float(version * 100 + int(kid))


def _op():
    data = st.tuples(
        st.sampled_from(["i", "u", "d"]),
        st.sampled_from(NAMESPACES),
        st.sampled_from(["0", "1", "2", "3"]),
        st.integers(1, 40),
    )
    drop = st.tuples(
        st.sampled_from(DROPS),
        st.sampled_from(NAMESPACES),
        st.none(),
        st.integers(1, 40),
    ).map(lambda t: (t[0], t[1].split(".")[0] if t[0] == "dropDatabase" else t[1], None, t[3]))
    return st.one_of(data, data, data, drop)


@st.composite
def _batches(draw):
    ops = draw(st.lists(_op(), min_size=1, max_size=14))
    # same-version delete+insert pairs
    for i in draw(st.lists(st.integers(0, len(ops) - 1), max_size=3)):
        op, ns, kid, v = ops[i]
        if op not in DROPS:
            ops.append(("d" if op != "d" else "i", ns, kid, v))
    # at-least-once replays of earlier ops
    ops += draw(st.lists(st.sampled_from(list(ops)), max_size=4))
    ops = draw(st.permutations(ops))
    cuts = sorted(draw(st.sets(st.integers(1, len(ops) - 1), max_size=3))) if len(ops) > 1 else []
    bounds = [0, *cuts, len(ops)]
    return [ops[a:b] for a, b in zip(bounds, bounds[1:])]


def _model(batches):
    """(ns, id) -> (version, tomb, value) after merging ``batches``."""
    state: dict = {}
    for batch in batches:
        up: dict = {}
        dl: dict = {}
        drops: dict = {}
        for op, ns, kid, v in batch:
            if op in DROPS:
                drops[(op, ns)] = max(v, drops.get((op, ns), v))
            elif op == "d":
                dl[(ns, kid)] = max(v, dl.get((ns, kid), v))
            else:
                up[(ns, kid)] = max(v, up.get((ns, kid), v))
        for key in up.keys() | dl.keys():
            vu, vd = up.get(key), dl.get(key)
            if vd is not None and (vu is None or vd >= vu):
                new = (vd, True, None)
            else:
                new = (vu, False, _value(key[1], vu))
            cur = state.get(key)
            if cur is None or new[0] > cur[0] or (new[0] == cur[0] and not cur[1]):
                state[key] = new
        for (op, ns), v in drops.items():
            for key, (ver, _, _) in list(state.items()):
                hit = key[0].split(".")[0] == ns if op == "dropDatabase" else key[0] == ns
                if hit and ver <= v:
                    del state[key]
    return state


def _ops_df(spark, batch):
    rows = [
        (op, ns, kid, v, None if kid is None else _value(kid, v)) for op, ns, kid, v in batch
    ]
    return spark.createDataFrame(
        rows, "op string, ns string, id string, version long, value double"
    ).select(
        "op", "ns", "id",
        F.timestamp_micros(F.col("version") * 1000).alias("ts"),
        F.col("version").alias("ts_ord"), F.lit("oplog").alias("source"),
        "value", F.col("version").alias("k"), "version",
    )


def _stored(table) -> dict:
    df = table.read(include_tombstones=True)
    if df is None:
        return {}
    return {
        (r["ns"], r["id"]): (r["version"], r["_tomb"], r["last_value"])
        for r in df.collect()
    }


@pytest.mark.usefixtures("spark")
class TestStateTablesMatchModel:
    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(batches=_batches())
    def test_stored_rows_match_model(self, spark, tmp_path_factory, batches):
        base = tmp_path_factory.mktemp("prop")
        table = StateTable(spark, str(base / "plain"))
        for batch in batches:
            table.merge_batch(_ops_df(spark, batch))
        assert _stored(table) == _model(batches)
