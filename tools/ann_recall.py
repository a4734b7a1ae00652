"""ANN recall harness: recall@k of the approximate paths vs the exact
brute-force baseline, at a real scale factor.

    python tools/ann_recall.py [sf_dir] [k] [n_queries]

Defaults: /root/testdata/sf0.1, k=10, 100 queries. Reports recall and
wall time per configuration — the numbers the README quotes. Recall is
macro-averaged over queries: |approx∩exact| / k.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from monstache_spark.session import get_spark
from monstache_spark.sources.testdata import load_table


def _pairs(df) -> set[tuple]:
    return {(r["query_id"], r["corpus_id"]) for r in df.collect()}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_q = int(sys.argv[3]) if len(sys.argv) > 3 else 100

    from monstache_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivfpq_adc_topk,
        kmeans_centroids,
        lsh_topk,
    )

    spark = get_spark("ann-recall")
    emb = load_table(spark, "embeddings", sf_dir).cache()
    n_corpus = emb.count()
    queries = emb.filter(F.col("vec_id") < n_q)

    t0 = time.time()
    exact = _pairs(brute_force_topk(emb, queries, k=k))
    t_exact = time.time() - t0
    print(f"corpus={n_corpus} queries={n_q} k={k}   exact baseline {t_exact:.1f}s")

    km = kmeans_centroids(emb, 16, max_iter=5).cache()
    km.count()

    configs = [
        ("lsh bits=6 single-probe", lambda: lsh_topk(emb, queries, dim=64, k=k, bits=6)),
        (
            "lsh bits=6 multi-probe H1",
            lambda: lsh_topk(emb, queries, dim=64, k=k, bits=6, hamming=1),
        ),
        (
            "lsh bits=6 multi-probe H2",
            lambda: lsh_topk(emb, queries, dim=64, k=k, bits=6, hamming=2),
        ),
        (
            "lsh bits=6 tables=4",
            lambda: lsh_topk(emb, queries, dim=64, k=k, bits=6, n_tables=4),
        ),
        (
            "lsh bits=6 tables=4 H1",
            lambda: lsh_topk(emb, queries, dim=64, k=k, bits=6, n_tables=4, hamming=1),
        ),
        (
            "ivf 16 cells n_probe=1",
            lambda: ivf_topk(emb, queries, k=k, n_centroids=16, n_probe=1),
        ),
        (
            "ivf 16 cells n_probe=4",
            lambda: ivf_topk(emb, queries, k=k, n_centroids=16, n_probe=4),
        ),
        (
            "ivf 16 cells n_probe=8",
            lambda: ivf_topk(emb, queries, k=k, n_centroids=16, n_probe=8),
        ),
        (
            "ivf kmeans16 n_probe=4",
            lambda: ivf_topk(emb, queries, k=k, n_centroids=16, n_probe=4, centroids=km),
        ),
        (
            "ivf kmeans16 n_probe=8",
            lambda: ivf_topk(emb, queries, k=k, n_centroids=16, n_probe=8, centroids=km),
        ),
        # IVF-PQ + exact refine: the compressed-domain scan feeds a
        # cosine re-rank, so recall vs the cosine baseline is bounded
        # by IVF candidate recall x ADC pool quality
        (
            "ivfpq 16c p=4 rr=50",
            lambda: ivfpq_adc_topk(
                emb, queries, dim=64, k=k, n_centroids=16, n_probe=4, m=8, k_sub=16, rerank=50
            ),
        ),
        (
            "ivfpq 16c p=8 rr=100",
            lambda: ivfpq_adc_topk(
                emb, queries, dim=64, k=k, n_centroids=16, n_probe=8, m=8, k_sub=16, rerank=100
            ),
        ),
    ]
    for name, fn in configs:
        t0 = time.time()
        approx = _pairs(fn())
        dt = time.time() - t0
        recall = len(approx & exact) / max(len(exact), 1)
        print(f"{name:28s} recall@{k} {recall:6.3f}   {dt:5.1f}s")

    # PQ approximates L2, so it is measured against an exact-L2
    # baseline (cosine and L2 rank differently unless norms are equal)
    from pyspark.sql.window import Window

    from monstache_spark.functions.vectors import as_double_array
    from monstache_spark.operators.similarity import pq_adc_topk

    q = F.broadcast(
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("c_vec"))
    d2 = F.aggregate(
        F.zip_with(
            as_double_array(F.col("q_vec")),
            as_double_array(F.col("c_vec")),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("corpus_id").asc())
    exact_l2 = _pairs(
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id", d2.alias("d2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    for name, m, k_sub in [("pq m=8 k_sub=16", 8, 16), ("pq m=8 k_sub=64", 8, 64),
                           ("pq m=16 k_sub=64", 16, 64)]:
        t0 = time.time()
        approx = _pairs(pq_adc_topk(emb, queries, dim=64, k=k, m=m, k_sub=k_sub))
        dt = time.time() - t0
        recall = len(approx & exact_l2) / max(len(exact_l2), 1)
        print(f"{name:28s} recall@{k} {recall:6.3f}   {dt:5.1f}s  (vs exact-L2)")

    # knn_join recall: the all-corpus neighbor map, restricted to the
    # same query set for comparability against the exact baseline
    from monstache_spark.operators.similarity import knn_join

    for name, bits, tables in [
        ("knn_join b=6 t=1", 6, 1),
        ("knn_join b=6 t=2", 6, 2),
        ("knn_join b=6 t=4", 6, 4),
    ]:
        t0 = time.time()
        full = knn_join(emb, k=k, dim=64, bits=bits, n_tables=tables)
        approx = {
            (r["id_q"], r["id_n"])
            for r in full.filter(F.col("id_q") < n_q).collect()
        }
        dt = time.time() - t0
        recall = len(approx & exact) / max(len(exact), 1)
        print(f"{name:28s} recall@{k} {recall:6.3f}   {dt:5.1f}s  (full corpus map)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
