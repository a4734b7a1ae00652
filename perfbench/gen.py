"""Seeded inputs: the op stream of the CDC workloads, and the tables of
``query_mix``.

Writes parquet files in the testdata ``events`` schema (the schema
``streaming.pipeline.run_stream`` reads): ``event_id`` (unique, the op
ordinal), ``ts`` (naive µs timestamp), ``user_id`` (the key),
``event_type`` (signup = insert, error = delete, click/view/purchase =
update), ``value`` and ``props`` (``{"k": n}``).

Every stream file is a pure function of (seed, workload, file index)
and the previous file, so the same seed always gives the same stream.
The generator knows nothing of the engine: it imports no project module.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TICK_US = 10_000  # stream clock advance per event (10 ms)
LATE_S = 3_600  # a late event is stamped 1..LATE_S seconds in the past
UPDATE_TYPES = np.array(["click", "view", "purchase"])


@dataclass(frozen=True)
class Shape:
    """Make-up of one CDC workload's stream."""

    name: str
    keys: int            # user_id universe (40 % land in guarded namespaces);
                         # file 0 holds one insert per key (the initial sync)
    batch_events: int    # events per later file (one micro-batch each)
    zipf_s: float        # 0 = uniform keys, else Zipf exponent over the keys
    p_insert: float      # op mix of fresh events
    p_delete: float      # (the rest are updates)
    p_replay: float      # share of a file re-delivering the previous file's events
    p_late: float        # share of fresh events stamped up to LATE_S in the past


SHAPES = {
    "cdc_wide_state": Shape(
        "cdc_wide_state", keys=200_000, batch_events=2_000,
        zipf_s=0.0, p_insert=0.05, p_delete=0.05, p_replay=0.05, p_late=0.05,
    ),
    "cdc_hot_keys": Shape(
        "cdc_hot_keys", keys=20_000, batch_events=200_000,
        zipf_s=1.1, p_insert=0.10, p_delete=0.20, p_replay=0.10, p_late=0.10,
    ),
}

SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def _zipf_keys(rng: np.random.Generator, n: int, keys: int, s: float) -> np.ndarray:
    """n draws from a Zipf(s) law truncated to ``keys`` ranks, with the
    ranks scattered over the key space by a fixed permutation so hot
    keys land in every namespace."""
    cdf = np.cumsum(1.0 / np.arange(1, keys + 1, dtype=np.float64) ** s)
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n) * cdf[-1]), keys - 1)
    perm = np.random.default_rng(keys).permutation(keys)
    return perm[ranks]


def _table(event_id, ts_us, user_id, event_type, value, k) -> pa.Table:
    props = pc.binary_join_element_wise('{"k": ', pc.cast(pa.array(k), pa.string()), "}", "")
    return pa.table(
        [
            pa.array(event_id, pa.int64()),
            pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
            pa.array(user_id, pa.int64()),
            pa.array(event_type, pa.string()),
            pa.array(value, pa.float64()),
            pa.array(props, pa.string()),
        ],
        schema=SCHEMA,
    )


class StreamGenerator:
    """Writes the files of one workload's stream, in order, into
    ``out_dir`` (``part-00000.parquet``, ...)."""

    def __init__(self, shape: Shape, seed: int, out_dir: str):
        self.shape = shape
        self.seed = seed
        self.out_dir = out_dir
        self.next_index = 0
        self.next_event_id = 0
        self.prev: pa.Table | None = None
        self.events_written = 0
        # file mtimes 1 s apart keep the file source's order = index order
        self._mtime0 = (T0_US // 1_000_000) * 1_000_000_000
        os.makedirs(out_dir, exist_ok=True)

    def _rng(self, index: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, zlib.crc32(self.shape.name.encode()), index])

    def _backfill(self, rng: np.random.Generator) -> pa.Table:
        n = self.shape.keys
        eid = np.arange(n, dtype=np.int64)
        return _table(
            eid, T0_US + eid * TICK_US, rng.permutation(n).astype(np.int64),
            np.full(n, "signup"), np.round(rng.uniform(0, 100, n), 2),
            rng.integers(0, 100, n),
        )

    def _batch(self, rng: np.random.Generator) -> pa.Table:
        sh = self.shape
        n_replay = int(round(sh.batch_events * sh.p_replay))
        n = sh.batch_events - n_replay
        eid = self.next_event_id + np.arange(n, dtype=np.int64)
        ts = T0_US + eid * TICK_US
        late = rng.random(n) < sh.p_late
        ts = np.where(late, ts - rng.integers(1, LATE_S + 1, n) * 1_000_000, ts)
        if sh.zipf_s > 0:
            users = _zipf_keys(rng, n, sh.keys, sh.zipf_s)
        else:
            users = rng.integers(0, sh.keys, n)
        u = rng.random(n)
        etype = np.where(
            u < sh.p_insert, "signup",
            np.where(u < sh.p_insert + sh.p_delete, "error",
                     UPDATE_TYPES[rng.integers(0, 3, n)]),
        )
        fresh = _table(eid, ts, users.astype(np.int64), etype,
                       np.round(rng.uniform(0, 100, n), 2), rng.integers(0, 100, n))
        # at-least-once re-delivery: exact copies of earlier events
        idx = rng.integers(0, self.prev.num_rows, n_replay)
        return pa.concat_tables([fresh, self.prev.take(pa.array(idx))])

    def write_next(self) -> str:
        """Generate and write the next file; returns its path."""
        i = self.next_index
        rng = self._rng(i)
        t = self._backfill(rng) if i == 0 else self._batch(rng)
        self.next_event_id = max(self.next_event_id, int(pc.max(t["event_id"]).as_py()) + 1)
        path = os.path.join(self.out_dir, f"part-{i:05d}.parquet")
        tmp = os.path.join(self.out_dir, f".part-{i:05d}.tmp")
        pq.write_table(t, tmp)
        mt = self._mtime0 + i * 1_000_000_000
        os.utime(tmp, ns=(mt, mt))
        os.replace(tmp, path)
        self.prev = t
        self.next_index += 1
        self.events_written += t.num_rows
        return path

    def files(self) -> list[str]:
        return [os.path.join(self.out_dir, f"part-{i:05d}.parquet") for i in range(self.next_index)]


# --- tables for the query_mix workload (testdata layout, sf0.01 sizes) ---

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = np.array([0.44, 0.15, 0.14, 0.14, 0.13])


def _registry_events(rng: np.random.Generator, n: int = 10_000, users: int = 150) -> pa.Table:
    ts = np.sort(T0_US + rng.integers(0, 30 * 86_400 * 1_000_000, n))
    etype = np.array(["signup", "error", "click", "view", "purchase"])[rng.integers(0, 5, n)]
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return _table(np.arange(n, dtype=np.int64), ts, rng.integers(0, users, n),
                  etype, value, rng.integers(0, 100, n))


def _documents(rng: np.random.Generator, n: int = 500) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 90))]) for _ in range(n)]
    # planted duplicates: exact copies and one-word edits tagged "dup"
    for i in rng.choice(np.arange(n // 2, n), size=n // 10, replace=False):
        src = texts[int(rng.integers(0, n // 2))]
        if rng.random() < 0.5:
            texts[i] = src
        else:
            words = src.split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts[i] = " ".join(words)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(5, size=n, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int = 500, dim: int = 64) -> pa.Table:
    v = rng.normal(size=(n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_registry_tables(seed: int, out_dir: str) -> None:
    """``events``, ``documents`` and ``embeddings`` parquet files, a pure
    function of the seed."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, zlib.crc32(b"query_mix")])
    for name, make in (("events", _registry_events), ("documents", _documents),
                       ("embeddings", _embeddings)):
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
