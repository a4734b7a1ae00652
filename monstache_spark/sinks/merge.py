"""Version-guarded merge sink (SURVEY.md §2.6 K1-K6).

The reference's sink is an Elasticsearch BulkProcessor doing
upsert-by-id with EXTERNAL versions so at-least-once replays and
cross-key disorder are harmless (monstache.go:3160-3245, version
monstache.go:4053-4063, 409-conflict-ignore monstache.go:566-571).

Spark-first: the sink is a keyed state TABLE (queryable — required for
J3 delete-lookups and K3 delete protection), maintained by an
idempotent MERGE per micro-batch:

    MERGE INTO state USING batch ON (ns, id)
      WHEN MATCHED AND src.version >= tgt.version AND src.op='d' THEN DELETE
      WHEN MATCHED AND src.version >= tgt.version THEN UPDATE
      WHEN NOT MATCHED AND src.op != 'd' THEN INSERT

Without Delta/Iceberg jars in this image, the MERGE is emulated over
parquet and atomically swapped via directory versioning. On a real
lakehouse this maps 1:1 onto ``MERGE INTO`` (and the version guard
rides along unchanged). One merge is two plans:

1. **Staging** (:func:`_stage_batch`) — ONE ``groupBy(_kind, ns, id)``
   aggregation over the batch: conditional ``max`` of the upsert and of
   the delete versions, and ``max_by`` of each payload column over the
   upsert versions (all-primitive buffers for the default payload, so a
   codegen'd hash aggregate with map-side combine). Drop ops ride along
   as ``(_kind, ns, null id)`` groups carrying their max version. One
   projection then resolves the within-batch tie per key: a delete
   beats an upsert at the same version. :func:`staged_batch` persists
   the staged frame once, and one ``collect`` of it both reads the drop
   rows and fills the cache.
2. **Merge** (:func:`_merge_apply`) — one SQL statement, with only
   batch-sized broadcast build sides and no shuffle of the state:
   ``keep`` = state ⟕ broadcast(staged keys) keeps each stored row the
   batch does not beat; ``win`` = staged ⟕ broadcast(state rows
   semi-joined to the staged keys) keeps each staged row that beats
   its stored row. The two are exact complements on matched keys.

Drop propagation (K6, doDrop monstache.go:3056-3075): ``drop``/
``dropDatabase`` ops delete state rows of the matching namespace(s)
whose version is <= the drop's — version-aware, so a micro-batch
``[drop ns v=25, insert ns/id v=30]`` keeps the post-drop re-create
regardless of batch boundaries (the same convention as
``operators.materialize.apply_drops``). Each drop kind can be switched
off (``dropped_databases`` / ``dropped_collections``). A metadata-only
predicate delete here, a partition drop on a partitioned state table at
scale.

Delete tombstones PERSIST in the committed state (``_tomb=true`` rows,
hidden from ``read()``): a stale insert arriving in a LATER batch
(version < delete version) stays dead — the analogue of Elasticsearch
external versioning + ``index.gc_deletes`` that makes the reference's
at-least-once replay safe (monstache.go:4077-4080). Bound their growth
with ``tombstone_retention`` (version units) or an explicit
``prune_tombstones()``.

Pointer files (``CURRENT``, the bucketed sink's manifests) are written
to a temp file and swapped in with ``os.replace``, so a process that
dies during a commit leaves the previous version readable. That is not
durability against an OS or power failure: the pointer is fsynced, but
Spark's parquet writer does not fsync the data files it points to, and
the previous version's directory is removed right after the swap.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from monstache_spark.envelope import OP_DROP, OP_DROP_DB
from monstache_spark.operators.filters import ns_database
from monstache_spark.operators.materialize import _STATE_COLS

# marker column for persisted delete tombstones (hidden from read())
TOMB_COL = "_tomb"
# staged-frame row kind: 0 = data key, else one of _DROP_KINDS
KIND_COL = "_kind"
_DROP_KINDS = {1: OP_DROP, 2: OP_DROP_DB}


def write_pointer(path: str, text: str) -> None:
    """Replace the pointer file ``path`` atomically: a reader, or a
    process that dies mid-write, sees the old content or the new, never
    a truncated file. The temp file is fsynced before the rename, so
    the rename cannot reach the disk ahead of the pointer's content."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _q(name: str) -> str:
    return f"`{name}`"


def _sql(query: str, **frames: DataFrame) -> DataFrame:
    """``sql()`` over ``frames`` (all of one session), a handful of Py4J
    calls for the whole plan. Each frame enters through a no-op filter:
    ``sql()`` drops the temp views it registers, and dropping a view
    uncaches any cache entry whose plan equals the view's — a cached
    frame (the staged batch, or a caller's persisted batch) passed as is
    would lose its cache before the plan runs."""
    session = next(iter(frames.values())).sparkSession
    return session.sql(query, **{k: f.where("true") for k, f in frames.items()})


def _stage_batch(
    ops: DataFrame,
    payload_cols: tuple[str, ...] = _STATE_COLS,
    prefix: str = "last_",
) -> DataFrame:
    """Stage one batch of envelope ops as ONE keyed aggregation.

    Output ``(_kind, ns, id, <prefix><payload>..., version, _tomb)``,
    one row per data key (``_kind = 0``) with the within-batch tie rule
    applied — a delete beats an upsert at the same version, so the key
    stages as a tombstone (null payload) iff its max delete version is
    >= its max upsert version — plus one ``(_kind, ns, null id,
    version = max drop version)`` row per drop kind and namespace.

    The ``op`` payload column is not carried: after the tie rule a live
    row is always an upsert. Each payload is ``max_by`` over the upsert
    versions (null for deletes, which ``max_by`` skips)."""
    kind = " ".join(f"WHEN '{op}' THEN {code}" for code, op in _DROP_KINDS.items())
    drop_ops = ", ".join(f"'{op}'" for op in _DROP_KINDS.values())
    payload = [c for c in payload_cols if c != "op"]
    aggs = "".join(f"max_by({_q(c)}, _v_live) AS {_q(prefix + c)}, " for c in payload)
    outs = "".join(
        f"IF({TOMB_COL}, NULL, {_q(prefix + c)}) AS {_q(prefix + c)}, " for c in payload
    )
    return _sql(
        f"SELECT {KIND_COL}, ns, id, {outs}greatest(_v_up, _v_del) AS version, {TOMB_COL} "
        "FROM (SELECT *, _v_del IS NOT NULL AND (_v_up IS NULL OR _v_del >= _v_up) "
        f"AS {TOMB_COL} "
        f"FROM (SELECT {KIND_COL}, ns, id, {aggs}"
        "max(_v_live) AS _v_up, max(_v_del) AS _v_del "
        f"FROM (SELECT CAST(CASE op {kind} ELSE 0 END AS TINYINT) AS {KIND_COL}, ns, "
        f"IF(op IN ({drop_ops}), NULL, id) AS id, "
        "IF(op = 'd', NULL, version) AS _v_live, IF(op = 'd', version, NULL) AS _v_del"
        f"{''.join(', ' + _q(c) for c in payload)} FROM {{ops}}) "
        f"GROUP BY {KIND_COL}, ns, id))",
        ops=ops,
    )


@contextmanager
def staged_batch(
    ops: DataFrame,
    payload_cols: tuple[str, ...] = _STATE_COLS,
    prefix: str = "last_",
    dropped_databases: bool = True,
    dropped_collections: bool = True,
    bucket: Column | None = None,
) -> Iterator[tuple[DataFrame, list[tuple], set[int]]]:
    """Stage ``ops`` once (:func:`_stage_batch`), persist the staged
    frame for the duration of the block, and read its control rows with
    ONE collect that also fills the cache.

    Yields ``(staged, drops, buckets)``: ``drops`` is the honoured
    ``(op, ns, max version)`` list (a drop kind switched off is left
    out), ``buckets`` the distinct values of the ``bucket`` expression
    over the data keys (empty unless ``bucket`` is given — the bucketed
    sink's touched buckets)."""
    staged = _stage_batch(ops, payload_cols, prefix).persist()
    try:
        if bucket is None:
            control = staged.where(f"{KIND_COL} != 0")
        else:
            data = F.col(KIND_COL) == 0
            control = staged.select(
                KIND_COL,
                F.when(~data, F.col("ns")).alias("ns"),
                F.when(~data, F.col("version")).alias("version"),
                F.when(data, bucket).alias("_bucket"),
            ).distinct()
        rows = control.collect()
        honoured = {OP_DROP: dropped_collections, OP_DROP_DB: dropped_databases}
        drops = [
            (_DROP_KINDS[r[KIND_COL]], r["ns"], r["version"])
            for r in rows
            if r[KIND_COL] != 0 and honoured[_DROP_KINDS[r[KIND_COL]]]
        ]
        buckets = {r["_bucket"] for r in rows if r[KIND_COL] == 0}
        yield staged, drops, buckets
    finally:
        staged.unpersist(blocking=False)


def _merge_apply(stored: DataFrame | None, staged: DataFrame) -> DataFrame:
    """The cross-batch MERGE of a staged batch into the stored rows, as
    one SQL plan whose broadcast build sides are batch-sized.

    Tie convention (documented, test-pinned, batch-boundary-invariant):
    a delete beats an upsert at the same version, whether they meet
    inside one batch (:func:`_stage_batch`) OR across batches — so
    ``[delete v, insert v]`` stays dead no matter where the batch
    boundary falls. This matches ES external versioning, where an index
    at version <= a stored tombstone's version is rejected
    (monstache.go:4053-4063, gc_deletes monstache.go:4077-4080).
    Between two non-delete rows the batch row beats the stored row at
    the same version (ES accepts version >= stored for upserts).

    ``keep`` = stored ⟕ broadcast(staged keys): a stored row survives
    if the batch lacks its key, is older, or ties it while the stored
    row is a tombstone. ``win`` = staged ⟕ broadcast(stored rows
    semi-joined to the staged keys): the exact complement, so every
    matched key lands exactly once. Tombstones persist into the result
    so stale inserts in LATER batches stay dead. Columns are the staged
    frame's, minus ``_kind``, selected by name on both sides. ``stored``
    must be of ``staged``'s session (the temp views live there)."""
    cols = ", ".join(_q(c) for c in staged.columns if c != KIND_COL)
    if stored is None:
        return _sql(f"SELECT {cols} FROM {{staged}} WHERE {KIND_COL} = 0", staged=staged)
    # a table written before tombstone support has no _tomb column
    tomb = "" if TOMB_COL in stored.columns else f", false AS {TOMB_COL}"
    return _sql(
        f"WITH st AS (SELECT *{tomb} FROM {{stored}}), "
        f"bk AS (SELECT ns AS _k_ns, id AS _k_id, version AS _v_new FROM {{staged}} "
        f"WHERE {KIND_COL} = 0) "
        f"SELECT /*+ BROADCAST(bk) */ {cols} FROM st "
        "LEFT JOIN bk ON ns = _k_ns AND id = _k_id "
        f"WHERE _v_new IS NULL OR version > _v_new OR (version = _v_new AND {TOMB_COL}) "
        "UNION ALL "
        f"SELECT /*+ BROADCAST(cur) */ {cols} FROM {{staged}} "
        "LEFT JOIN (SELECT /*+ BROADCAST(bk) */ ns AS _c_ns, id AS _c_id, "
        f"version AS _v_cur, {TOMB_COL} AS _c_tomb FROM st "
        "LEFT SEMI JOIN bk ON ns = _k_ns AND id = _k_id) cur "
        "ON ns = _c_ns AND id = _c_id "
        f"WHERE {KIND_COL} = 0 "
        "AND (_v_cur IS NULL OR version > _v_cur OR (version = _v_cur AND NOT _c_tomb))",
        stored=stored,
        staged=staged,
    )


def _erase_dropped(state: DataFrame, drop_rows: list[tuple]) -> DataFrame:
    """Version-aware K6 erase over materialized rows: a drop at version
    v removes rows of its namespace(s) with version <= v — only
    strictly-newer post-drop re-creates survive, regardless of
    micro-batch boundaries (same convention as
    operators.materialize.apply_drops; the reference deletes the whole
    index on drop, and a tying op can only precede the drop in the
    oplog)."""
    for op, ns, v in drop_rows:
        if op == OP_DROP_DB:
            hit = ns_database(F.col("ns")) == ns.split(".", 1)[0]
        else:
            hit = F.col("ns") == ns
        state = state.filter(~(hit & (F.col("version") <= F.lit(v))))
    return state


def _prune_old_tombstones(state: DataFrame, staged: DataFrame, retention: int) -> DataFrame:
    """Retention sweep: drop tombstones more than ``retention`` version
    units behind the batch high-water mark (the max version of the
    staged data keys, which is the max version of the batch's data
    ops). The HWM rides along as a broadcast cross join so the whole
    merge stays one lazy plan."""
    hwm = staged.filter(F.col(KIND_COL) == 0).agg(F.max("version").alias("_hwm"))
    return (
        state.crossJoin(F.broadcast(hwm))
        .filter(
            ~(
                F.col(TOMB_COL)
                & F.col("_hwm").isNotNull()
                & (F.col("version") < F.col("_hwm") - F.lit(retention))
            )
        )
        .drop("_hwm")
    )


def protected_deletes(state: DataFrame, deletes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """K3 delete protection (doDelete monstache.go:4065-4147): when a
    delete must be located by id across routed indexes, the reference
    searches the delete-index-pattern and REFUSES the delete unless
    exactly one document matches (monstache.go:4113-4139).

    Set-level twin: join the tombstones against the state table by id
    only; ids matching exactly one state row are applied, others
    (0 or >1 matches) are refused. Returns (applied, refused)."""
    matches = (
        deletes.select(F.col("id"), F.col("version").alias("v_del"))
        .join(state.select("ns", "id"), "id", "left")
        .groupBy("id", "v_del")
        .agg(F.count("ns").alias("n_hits"), F.min("ns").alias("target_ns"))
    )
    applied = matches.filter(F.col("n_hits") == 1).select(
        F.col("target_ns").alias("ns"), "id", F.col("v_del").alias("version")
    )
    refused = matches.filter(F.col("n_hits") != 1).select("id", F.col("n_hits"))
    return applied, refused


class StateTable:
    """Parquet-backed keyed state table with version-guarded merges.

    Directory-versioned commits: each merge writes ``v{n+1}`` then
    swaps the CURRENT pointer file in atomically — readers never see
    partial writes (the poor man's transaction log; Delta/Iceberg
    replace this wholesale at scale).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        tombstone_retention: int | None = None,
        payload_cols: tuple[str, ...] | None = None,
        dropped_databases: bool = True,
        dropped_collections: bool = True,
    ):
        self.spark = spark
        self.path = path
        # keep delete tombstones only while `batch_max_version - version
        # <= retention` (version units — BSON-ts-like int64s here). None
        # = keep forever; prune explicitly via prune_tombstones().
        self.tombstone_retention = tombstone_retention
        # payload carried per key into the materialized row; None = the
        # testdata envelope default (operators.materialize._STATE_COLS).
        # Dynamic-doc pipelines pass e.g. ("op","ts","ts_ord","doc") —
        # note a STRING payload (doc) puts a string in the max_by
        # aggregation buffer, degrading that compaction to
        # SortAggregate; inherent when the payload is the document
        # itself (the reference ships the doc per op too).
        self.payload_cols = payload_cols or _STATE_COLS
        # K6 toggles (dropped-databases / dropped-collections): a drop
        # kind switched off is ignored by merge_batch
        self.dropped_databases = dropped_databases
        self.dropped_collections = dropped_collections
        # (version, schema) of the last version this instance committed
        # or read: reading that version again skips schema inference
        self._schema: tuple[int, object] | None = None
        os.makedirs(path, exist_ok=True)

    def _current_file(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def _current_version(self) -> int:
        try:
            with open(self._current_file()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def read(
        self, include_tombstones: bool = False, session: SparkSession | None = None
    ) -> DataFrame | None:
        """The committed state: live rows, or with tombstones. ``session``
        builds the frame in another session — a foreachBatch frame's,
        whose temp views the merge plan is analyzed against."""
        v = self._current_version()
        if v == 0:
            return None
        reader = (session or self.spark).read
        if self._schema is not None and self._schema[0] == v:
            reader = reader.schema(self._schema[1])
        df = reader.parquet(os.path.join(self.path, f"v{v}"))
        if self._schema is None or self._schema[0] != v:
            self._schema = (v, df.schema)
        if TOMB_COL not in df.columns:  # table written before tombstone support
            return df
        if include_tombstones:
            return df
        return df.filter(~F.col(TOMB_COL)).drop(TOMB_COL)

    def _commit(self, df: DataFrame) -> None:
        v = self._current_version()
        new_dir = os.path.join(self.path, f"v{v + 1}")
        df.write.mode("overwrite").parquet(new_dir)
        write_pointer(self._current_file(), str(v + 1))
        self._schema = (v + 1, df.schema)
        old_dir = os.path.join(self.path, f"v{v}")
        if v and os.path.isdir(old_dir):
            shutil.rmtree(old_dir, ignore_errors=True)

    def merge_batch(self, ops: DataFrame) -> None:
        """Apply one micro-batch of envelope ops: stage it once, then
        commit the merge of the staged keys into the stored rows."""
        with staged_batch(
            ops,
            self.payload_cols,
            dropped_databases=self.dropped_databases,
            dropped_collections=self.dropped_collections,
        ) as (staged, drops, _):
            stored = self.read(include_tombstones=True, session=ops.sparkSession)
            merged = _erase_dropped(_merge_apply(stored, staged), drops)
            if self.tombstone_retention is not None:
                merged = _prune_old_tombstones(merged, staged, self.tombstone_retention)
            self._commit(merged)

    def prune_tombstones(self, before_version: int) -> None:
        """Drop persisted tombstones older than ``before_version`` —
        the explicit gc_deletes sweep (safe once no source can replay
        ops older than that version)."""
        cur = self.read(include_tombstones=True)
        if cur is None or TOMB_COL not in cur.columns:
            return  # empty, or written before tombstone support: nothing to prune
        self._commit(
            cur.filter(~(F.col(TOMB_COL) & (F.col("version") < F.lit(before_version))))
        )
