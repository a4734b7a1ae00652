"""Incremental IVF-PQ index maintenance under CDC
(sinks/annindex.py): restatement equality against a from-scratch
encode, the document sink's version-guard rules (stale replays lose,
deletes tombstone and beat equal-version upserts), arrival-order
independence, and checkpointed streaming restart on both state-store
backends."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from monstache_spark.session import ROCKSDB_PROVIDER, session_conf
from monstache_spark.sinks.annindex import IvfPqIndexTable

DIM = 8
M = 4
K_SUB = 4
N_CEN = 4


def _vec(seed: int) -> list[float]:
    # deterministic, well-spread vectors — no RNG (stable across runs)
    return [float(((seed * 37 + j * 17) % 29) - 14) for j in range(DIM)]


def _emb(spark, n=40):
    rows = [(i, _vec(i)) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _table(spark, path) -> IvfPqIndexTable:
    t = IvfPqIndexTable(
        spark, path, dim=DIM, n_centroids=N_CEN, m=M, k_sub=K_SUB
    )
    t.bootstrap(_emb(spark))
    return t


def _ops(spark, triples):
    """triples: (op, id, version, seed_for_vector|None)."""
    rows = [
        (op, "db.vec", str(i), v, _vec(s if s is not None else i))
        for op, i, v, s in triples
    ]
    return spark.createDataFrame(
        rows, "op string, ns string, id string, version long, embedding array<float>"
    )


def _state(t: IvfPqIndexTable) -> dict:
    return {
        r["id"]: (r["version"], r["cell"], r["codes"])
        for r in t.read().collect()
    }


def test_encode_matches_join_formulation(spark, tmp_path):
    """The r14 fused literal-quantizer encode must be bit-identical to
    the join-based formulation it replaced (ivf_assign rank-1 cell +
    pq_encode packed codes against the same frozen parquet
    quantizers) — same cells, same packed codes, for every row."""
    from monstache_spark.operators.similarity import ivf_assign, pq_encode

    t = _table(spark, str(tmp_path / "idx"))
    rows = _ops(spark, [("i", i, 1, i * 3 + 1) for i in range(25)]).select(
        "id", "embedding"
    )

    cen = spark.read.parquet(os.path.join(t.path, "centroids")).select(
        F.col("cid").alias("id"), F.col("c_vec").alias("embedding")
    )
    cells = ivf_assign(rows, cen, "embedding", "id", rank_limit=1).select(
        "id", F.col("cid").alias("cell")
    )
    packed = (
        pq_encode(
            rows,
            spark.read.parquet(os.path.join(t.path, "codebooks")),
            t.dim,
            t.m,
            "embedding",
            "id",
        )
        .groupBy("id")
        .agg(
            F.sum(
                F.expr("shiftleft(CAST(code AS BIGINT), CAST(m AS INT) * 8)")
            ).alias("codes")
        )
    )
    ref = {
        r["id"]: (r["cell"], r["codes"])
        for r in rows.join(cells, "id").join(packed, "id").collect()
    }
    got = {
        r["id"]: (r["cell"], r["codes"])
        for r in t.encode(rows, id_col="id").collect()
    }
    assert got == ref


def test_incremental_matches_from_scratch_encode(spark, tmp_path):
    t = _table(spark, str(tmp_path / "idx"))
    t.merge_batch(_ops(spark, [("i", i, 10, None) for i in range(20)]))
    t.merge_batch(
        _ops(
            spark,
            [("u", i, 20, i + 100) for i in range(0, 20, 3)]  # re-embed
            + [("d", i, 20, None) for i in (5, 7)],
        )
    )
    got = _state(t)
    # from-scratch: encode exactly the surviving rows with the SAME
    # frozen quantizers through the SAME encode path
    survivors = [
        (str(i), 20 if i % 3 == 0 else 10, _vec(i + 100 if i % 3 == 0 else i))
        for i in range(20)
        if i not in (5, 7)
    ]
    ref_rows = spark.createDataFrame(
        survivors, "id string, version long, embedding array<float>"
    )
    ref = {
        r["id"]: (r["version"], r["cell"], r["codes"])
        for r in t.encode(ref_rows, id_col="id").collect()
    }
    assert got == ref and len(got) == 18


def test_version_guard_stale_replay_and_tombstones(spark, tmp_path):
    t = _table(spark, str(tmp_path / "idx"))
    t.merge_batch(_ops(spark, [("i", 1, 10, 1), ("i", 2, 10, 2)]))
    t.merge_batch(_ops(spark, [("d", 1, 20, None), ("u", 2, 20, 200)]))
    # stale replay: old vector for id 2 (v5) must lose; a stale insert
    # for the DELETED id 1 (v15 < tombstone v20) must stay dead
    t.merge_batch(_ops(spark, [("i", 2, 5, 2), ("i", 1, 15, 1)]))
    got = _state(t)
    assert set(got) == {"2"}
    ref = t.encode(
        spark.createDataFrame(
            [("2", 20, _vec(200))], "id string, version long, embedding array<float>"
        ),
        id_col="id",
    ).collect()[0]
    assert got["2"] == (20, ref["cell"], ref["codes"])
    # delete beats an upsert at the SAME version (cross-batch)
    t2 = IvfPqIndexTable(
        spark, str(tmp_path / "idx2"), dim=DIM, n_centroids=N_CEN, m=M, k_sub=K_SUB
    )
    t2.bootstrap(_emb(spark))
    t2.merge_batch(_ops(spark, [("d", 9, 30, None)]))
    t2.merge_batch(_ops(spark, [("i", 9, 30, 9)]))
    assert _state(t2) == {}


def test_arrival_order_independence(spark, tmp_path):
    batches = [
        [("i", i, 10, None) for i in range(10)],
        [("u", i, 20, i + 100) for i in (0, 3, 6)] + [("d", 4, 20, None)],
        [("i", i, 5, i + 50) for i in (0, 5)],  # stale
    ]
    states = []
    for tag, order in (("fwd", [0, 1, 2]), ("rev", [2, 1, 0])):
        t = _table(spark, str(tmp_path / f"idx_{tag}"))
        for b in order:
            t.merge_batch(_ops(spark, batches[b]))
        states.append(_state(t))
    assert states[0] == states[1] and len(states[0]) == 9


def _rocksdb_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(ROCKSDB_PROVIDER)
        return True
    except Exception:
        return False


@pytest.fixture(params=["hdfs", "rocksdb"])
def backend(request, spark):
    if request.param == "rocksdb" and not _rocksdb_available(spark):
        pytest.skip("RocksDB state store provider not on the classpath")
    return request.param


def test_streaming_restart_matches_fresh_build(spark, tmp_path, backend):
    """Stream CDC batch files into the index with a pinned checkpoint,
    kill/restart with more files present — final index state must
    hash-equal a fresh single run AND the from-scratch encode."""
    from monstache_spark.session import ROCKSDB_PROVIDER as RP

    src = tmp_path / f"src_{backend}"
    src.mkdir()
    b1 = _ops(spark, [("i", i, 10, None) for i in range(15)])
    b2 = _ops(
        spark,
        [("u", i, 20, i + 100) for i in (0, 7, 14)] + [("d", 3, 20, None)],
    )

    def write_file(df, name):
        scratch = str(tmp_path / f"w_{backend}_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(scratch)
        import shutil

        part = next(f for f in os.listdir(scratch) if f.endswith(".parquet"))
        shutil.copyfile(os.path.join(scratch, part), str(src / name))

    def run(table_path, ckpt):
        t = IvfPqIndexTable(
            spark, table_path, dim=DIM, n_centroids=N_CEN, m=M, k_sub=K_SUB
        )
        if not os.path.exists(os.path.join(table_path, "centroids")):
            t.bootstrap(_emb(spark))
        schema = b1.schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        conf_key = "spark.sql.streaming.stateStore.providerClass"
        with session_conf(spark, **{conf_key: RP if backend == "rocksdb" else None}):
            q = (
                stream.writeStream.foreachBatch(
                    lambda df, _eid: t.merge_batch(df)
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return t

    write_file(b1, "b1.parquet")
    tp = str(tmp_path / f"idx_{backend}")
    run(tp, str(tmp_path / f"ckpt_{backend}"))
    write_file(b2, "b2.parquet")
    restarted = run(tp, str(tmp_path / f"ckpt_{backend}"))

    fresh = IvfPqIndexTable(
        spark, str(tmp_path / f"idx_fresh_{backend}"),
        dim=DIM, n_centroids=N_CEN, m=M, k_sub=K_SUB,
    )
    fresh.bootstrap(_emb(spark))
    fresh.merge_batch(b1)
    fresh.merge_batch(b2)
    a, b = _state(restarted), _state(fresh)
    assert a == b and len(a) == 14
    # and both equal the from-scratch encode of the survivors
    survivors = [
        (str(i), 20 if i in (0, 7, 14) else 10,
         _vec(i + 100 if i in (0, 7, 14) else i))
        for i in range(15) if i != 3
    ]
    ref_rows = spark.createDataFrame(
        survivors, "id string, version long, embedding array<float>"
    )
    ref = {
        r["id"]: (r["version"], r["cell"], r["codes"])
        for r in restarted.encode(ref_rows, id_col="id").collect()
    }
    assert a == ref
