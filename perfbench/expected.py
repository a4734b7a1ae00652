"""Correctness checks computed apart from the program.

The expected CDC state is derived from the generated parquet files with
numpy and pyarrow alone, from the rules of the sync:

- ``user_id % 5`` picks the namespace; ``test.system.profiles`` and
  ``fs.files.chunks`` are system-guarded and never reach the state;
- version = floor(epoch seconds of ts) * 2^32 + event_id * 4 + bump,
  bump 0 / 1 / 2 for insert (signup) / update / delete (error);
- per key the op with the highest version wins; a winning delete leaves
  the key absent (a tombstone row in the stored table).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

NAMESPACES = ("test.users", "test.accounts", "skipme.audit", "test.system.profiles", "fs.files.chunks")
GUARDED = frozenset({"test.system.profiles", "fs.files.chunks"})
LIVE_COLS = ("ns", "id", "last_ts", "last_ts_ord", "last_value", "last_k", "version")


class CheckFailed(AssertionError):
    """A benchmark output differs from its independently computed value.
    ``failed`` is the number of operations whose output is wrong."""

    def __init__(self, msg: str, failed: int = 1):
        super().__init__(msg)
        self.failed = failed


def _versions(t: pa.Table) -> np.ndarray:
    ts_us = t["ts"].cast(pa.int64()).to_numpy()
    etype = t["event_type"].to_numpy(zero_copy_only=False)
    bump = np.where(etype == "signup", 0, np.where(etype == "error", 2, 1))
    return (np.floor_divide(ts_us, 1_000_000) << 32) + t["event_id"].to_numpy() * 4 + bump


def expected_state(files: list[str]) -> tuple[pa.Table, np.ndarray, np.ndarray]:
    """(expected live rows in LIVE_COLS order, every kept key ascending,
    each kept key's highest version)."""
    t = pa.concat_tables(pq.read_table(f) for f in files)
    user = t["user_id"].to_numpy()
    kept = ~np.isin(user % 5, [3, 4])
    t = t.filter(pa.array(kept))
    user = user[kept]
    version = _versions(t)
    order = np.lexsort((version, user))
    last = np.r_[user[order][1:] != user[order][:-1], True]
    win = order[last]
    w = t.take(pa.array(win))
    alive = w["event_type"].to_numpy(zero_copy_only=False) != "error"
    w = w.filter(pa.array(alive))
    wu = w["user_id"].to_numpy()
    ns = np.array(NAMESPACES, dtype=object)[wu % 5]
    k = pc.struct_field(pc.extract_regex(w["props"], r"(?P<k>-?[0-9]+)"), "k")
    live = pa.table({
        "ns": pa.array(ns, pa.string()),
        "id": pc.cast(w["user_id"], pa.string()),
        "last_ts": w["ts"],
        "last_ts_ord": w["event_id"],
        "last_value": w["value"],
        "last_k": pc.cast(k, pa.int64()),
        "version": pa.array(version[win][alive], pa.int64()),
    })
    return live, user[win], version[win]


def _sorted(t: pa.Table) -> pa.Table:
    return t.sort_by([("ns", "ascending"), ("id", "ascending")])


def check_state(files: list[str], live: pa.Table, stored: pa.Table) -> dict:
    """Compare the program's state with the expected state.

    ``live`` is ``StateTable.read()`` (live rows), ``stored`` is
    ``read(include_tombstones=True)``. Raises CheckFailed on any
    difference; returns the live and tombstone row counts."""
    exp, keys, max_version = expected_state(files)
    got = live.select(list(LIVE_COLS))
    if got.num_rows != exp.num_rows:
        raise CheckFailed(f"live rows: got {got.num_rows}, expected {exp.num_rows}")
    got, exp = _sorted(got), _sorted(exp)
    for c in LIVE_COLS:
        a = got[c].cast(pa.int64()) if c == "last_ts" else got[c]
        b = exp[c].cast(pa.int64()) if c == "last_ts" else exp[c]
        if not a.equals(b.cast(a.type)):
            bad = pc.index(pc.not_equal(a, b.cast(a.type)), True).as_py()
            raise CheckFailed(f"column {c} differs at {got.slice(bad, 1).to_pylist()} vs {exp.slice(bad, 1).to_pylist()}")
    # property 1: one stored row (live or tombstone) per kept key
    if stored.num_rows != keys.size:
        raise CheckFailed(f"live + tombstone rows {stored.num_rows} != kept keys {keys.size}")
    # property 2: no guarded namespace in the state
    bad_ns = set(stored["ns"].unique().to_pylist()) & GUARDED
    if bad_ns:
        raise CheckFailed(f"guarded namespaces in state: {sorted(bad_ns)}")
    # property 3: every stored version is its key's highest generated one
    ids = pc.cast(stored["id"], pa.int64()).to_numpy()
    vers = stored["version"].to_numpy()
    at = np.minimum(np.searchsorted(keys, ids), keys.size - 1)
    want = np.where(keys[at] == ids, max_version[at], -1)
    if not np.array_equal(vers, want):
        i = int(np.flatnonzero(vers != want)[0])
        raise CheckFailed(f"key {ids[i]} stores version {vers[i]}, max generated is {want[i]}")
    tomb = stored.num_rows - live.num_rows
    return {"state_rows": live.num_rows, "tombstone_rows": tomb}


def keys_touched(path: str) -> int:
    """Distinct kept keys in one generated file."""
    u = pq.read_table(path, columns=["user_id"])["user_id"].to_numpy()
    return int(np.unique(u[~np.isin(u % 5, [3, 4])]).size)


def check_query(name: str, spark_cols, spark_rows, duck_cols, duck_rows) -> None:
    """Compare one registry query's result with its DuckDB oracle by the
    oracle gate's order-insensitive row hash."""
    from tools.check_oracle import frame_signature

    sc, sn, sh, _ = frame_signature(spark_cols, spark_rows, "spark")
    dc, dn, dh, _ = frame_signature(duck_cols, duck_rows, "duckdb")
    if sc != dc:
        raise CheckFailed(f"{name}: columns {sc} vs oracle {dc}")
    if sn != dn:
        raise CheckFailed(f"{name}: {sn} rows vs oracle {dn}")
    if sh != dh:
        raise CheckFailed(f"{name}: row hash differs from the oracle")


def check_queries(results: dict) -> None:
    """``check_query`` on every query of ``{name: (spark_cols, spark_rows,
    duck_cols, duck_rows)}``; raises one CheckFailed whose ``failed`` is
    the number of queries that differ from their oracle."""
    bad = []
    for name, args in results.items():
        try:
            check_query(name, *args)
        except CheckFailed as e:
            bad.append(str(e))
    if bad:
        raise CheckFailed("; ".join(bad), failed=len(bad))
