"""Registry-scale percolation probe: naive one-projection percolate vs
the anchor-term-indexed path at growing stored-query counts.

    python tools/percolate_probe.py [n_queries ...] [--sf sf_dir]

The naive path compiles EVERY stored query into one projection — fine
for hundreds, but the expression tree grows linearly with the registry
and every doc evaluates every predicate.  percolate_indexed prefilters
per doc via the anchor-term equi-join, so each doc evaluates only the
query groups whose anchor terms it contains (ES percolator's
query-term index).  Both paths must return identical rows — the probe
asserts it while timing.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from monstache_spark.session import get_spark
from monstache_spark.sources.testdata import load_table


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.01"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
    sizes = [int(a) for a in args] or [100, 1000, 5000]
    spark = get_spark("percolate-probe")
    from pyspark.sql import functions as F

    from monstache_spark.operators.search import percolate, percolate_indexed

    docs = load_table(spark, "documents", sf_dir)
    vocab = [
        r["term"]
        for r in docs.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("term")
        .count()
        .orderBy(F.col("count").desc())
        .collect()
    ]

    def registry(n: int, hit_fraction: float) -> dict:
        # synthetic stored queries: two-term conjunctions; a
        # `hit_fraction` of them anchor on corpus vocabulary, the rest
        # on terms the corpus does not contain — the realistic
        # alerting-registry shape (most saved searches fire rarely;
        # their anchor terms miss most documents)
        out = {}
        n_hit = int(n * hit_fraction)
        for i in range(n):
            if i < n_hit:
                a = vocab[i % len(vocab)]
                b = vocab[(i * 7 + 3) % len(vocab)]
            else:
                a, b = f"zzalert{i:05d}", f"zzcond{i:05d}"
            out[f"q{i:05d}"] = {
                "bool": {"must": [{"match": {"text": a}}, {"match": {"text": b}}]}
            }
        return out

    for hit_fraction in (1.0, 0.05):
        print(f"--- hit_fraction {hit_fraction} ---")
        for n in sizes:
            stored = registry(n, hit_fraction)
            t0 = time.time()
            naive = percolate(docs, stored).count()
            t_naive = time.time() - t0
            t0 = time.time()
            indexed = percolate_indexed(docs, stored).count()
            t_indexed = time.time() - t0
            assert naive == indexed, (naive, indexed)
            print(
                f"registry {n:6d}: naive {t_naive:7.2f}s   indexed {t_indexed:7.2f}s"
                f"   matches {naive}"
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
