"""Scale probe: run the heavy operators at N× the sf0.1 corpus and
report the scaling exponent. A fixed-overhead-bound timing at sf0.1
can hide quadratic behavior; this catches it before a cluster does.

    python tools/scale_probe.py [multiplier] [sf_dir]

Builds a multiplied corpus under /tmp (ids offset per copy so dedup
doesn't collapse the copies into one cluster), times each probe at 1×
and N×, and prints time ratios. A healthy operator scales ~linearly
(ratio ≈ N on cold shuffles, usually much less on local[32] because 1×
underuses the cores).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from monstache_spark.session import get_spark
from monstache_spark.sources.testdata import load_table


def multiplied(df, times: int, id_col: str, id_span: int):
    copies = df.crossJoin(
        df.sparkSession.range(times).select(F.col("id").alias("_copy"))
    )
    return copies.withColumn(id_col, F.col(id_col) + F.col("_copy") * id_span).drop("_copy")


def main() -> int:
    times = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("scale-probe")
    base = tempfile.mkdtemp(prefix="scale_probe_")

    docs1 = load_table(spark, "documents", sf_dir)
    docsN = multiplied(docs1, times, "doc_id", 1_000_000)
    docsN_path = f"{base}/docsN.parquet"
    docsN.write.mode("overwrite").parquet(docsN_path)
    docsN = spark.read.parquet(docsN_path)

    ev1 = load_table(spark, "events", sf_dir)
    evN = multiplied(ev1, times, "event_id", 100_000_000)
    evN_path = f"{base}/evN.parquet"
    evN.write.mode("overwrite").parquet(evN_path)
    evN = spark.read.parquet(evN_path)

    from monstache_spark.envelope import events_to_envelope
    from monstache_spark.operators.dedup import (
        exact_duplicates,
        minhash_candidate_pairs,
        minhash_candidate_pairs_collapsed,
        simhash_signatures,
        winnow_fingerprints,
    )
    from monstache_spark.operators.materialize import last_state

    def t(fn):
        t0 = time.time()
        fn().write.mode("overwrite").format("noop").save()
        return time.time() - t0

    from monstache_spark.operators.curation import (
        boilerplate_stats,
        decontaminate,
        pack_sequences,
        repetition_stats,
    )

    bench_docs = docs1.filter(F.col("source") == "src0")

    probes = {
        "exact_dedup": lambda d: exact_duplicates(d),
        "minhash_cands": lambda d: minhash_candidate_pairs(d, num_hashes=16, num_bands=4, shingle_k=2),
        # clone-collapsed variant: the N×-replicated corpus is exactly
        # the duplicate-heavy shape it targets — star edges per clone
        # class + banding on representatives only; connectivity-
        # equivalent output at linear (not quadratic) pair volume
        "minhash_cands_collapsed": lambda d: minhash_candidate_pairs_collapsed(d, num_hashes=16, num_bands=4, shingle_k=2),
        "simhash": lambda d: simhash_signatures(d, shingle_k=2),
        # winnow is clone-collapsed (r11): on the N×-replicated corpus
        # (exact text clones — the duplicate-heavy shape the collapse
        # targets, same rationale as minhash_cands_collapsed) the gram
        # work stays 1×-sized.  The _distinct row is the honest other
        # end: a per-id text suffix makes EVERY text unique, so the
        # collapse buys nothing and the row measures the raw
        # gram-hash/window scaling.
        "winnow": lambda d: winnow_fingerprints(d, k=8, w=4),
        "winnow_distinct": lambda d: winnow_fingerprints(
            d.withColumn(
                "text",
                F.concat(F.col("text"), F.lit(" "),
                         F.col("doc_id").cast("string")),
            ),
            k=8, w=4,
        ),
        # curation ops on the production (xxhash64) hash path; the
        # decontamination benchmark stays 1x while the corpus scales —
        # the realistic shape (benchmarks don't grow with the crawl)
        "boilerplate": lambda d: boilerplate_stats(d, n=3, min_docs=3),
        "repetition": lambda d: repetition_stats(d, n=3),
        "decontaminate": lambda d: decontaminate(d, bench_docs, n=4),
        "seq_packing": lambda d: pack_sequences(d, seq_len=256, n_shards=32),
    }
    print(f"multiplier={times}  docs {docs1.count()} -> {docsN.count()}")
    for name, fn in probes.items():
        t1 = t(lambda: fn(docs1))
        tN = t(lambda: fn(docsN))
        print(f"{name:14s}  1x {t1:6.2f}s   {times}x {tN:7.2f}s   ratio {tN / t1:6.2f}")

    # seq_packing's documented scale knob: shard count grows with the
    # corpus (window width = corpus / (strata × shards) stays
    # constant), so the per-group cumsum sort never grows — the fixed-
    # shards row above measures the knob UNUSED
    sp1 = t(lambda: pack_sequences(docs1, seq_len=256, n_shards=32))
    spN = t(lambda: pack_sequences(docsN, seq_len=256, n_shards=32 * times))
    print(
        f"{'seq_pack_shards':14s}  1x {sp1:6.2f}s   {times}x {spN:7.2f}s   "
        f"ratio {spN / sp1:6.2f}  (n_shards scaled with corpus)"
    )

    e1 = t(lambda: last_state(events_to_envelope(ev1)))
    eN = t(lambda: last_state(events_to_envelope(evN)))
    print(f"{'materialize':14s}  1x {e1:6.2f}s   {times}x {eN:7.2f}s   ratio {eN / e1:6.2f}")

    from monstache_spark.operators.curation import corpus_overlap

    c1 = t(lambda: corpus_overlap(docs1, n=3))
    cN = t(lambda: corpus_overlap(docsN, n=3))
    print(f"{'corpus_overlap':14s}  1x {c1:6.2f}s   {times}x {cN:7.2f}s   ratio {cN / c1:6.2f}")

    # wordpiece MaxMatch segmentation: matching work is paid on the
    # DISTINCT-WORD frame; the N×-replicated corpus shares ONE
    # vocabulary, so a healthy ratio is far under N (only the per-doc
    # stats join scales with rows).  r12 decomposition (warm,
    # best-of-3, 100×): 12.7s total vs a 5.4s floor for ONE corpus
    # tokenize-explode + per-doc agg — the operator's two linear
    # corpus passes (distinct-word counts, per-doc stats) are ~2×
    # that floor and both map-side-combine before any exchange; the
    # ratio reads high only because the 1× run (~1s) is
    # job-overhead-bound.  Sub-linear in rows = the inherent bound;
    # staging one shared explode through a word-keyed exchange was
    # measured WORSE (+5.6s: it shuffles the 27M exploded rows that
    # the second explode re-derives for free in codegen).
    from __spark_entry__ import FIXED_WORDPIECE_VOCAB
    from monstache_spark.operators.wordpiece import wordpiece_segment

    w1 = t(lambda: wordpiece_segment(docs1, FIXED_WORDPIECE_VOCAB))
    wN = t(lambda: wordpiece_segment(docsN, FIXED_WORDPIECE_VOCAB))
    print(f"{'wordpiece_seg':14s}  1x {w1:6.2f}s   {times}x {wN:7.2f}s   ratio {wN / w1:6.2f}")

    # EQL sequence: successor-join candidates are bounded by events per
    # key per maxspan window. Copies keep their timestamps, so reusing
    # the SAME keys would densify every window N× (a quadratic artifact
    # no real corpus has — growth adds keys, not per-key density);
    # offsetting user_id per copy models the real shape.
    from monstache_spark.operators.eql import eql_sequence

    evN_keys = spark.read.parquet(evN_path).withColumn(
        "user_id",
        F.col("user_id") + F.floor(F.col("event_id") / F.lit(100_000_000)) * 10_000,
    )
    steps = [
        {"term": {"event_type": "view"}},
        {"term": {"event_type": "click"}},
        {"term": {"event_type": "purchase"}},
    ]
    q1_ = t(lambda: eql_sequence(ev1, steps, by="user_id", maxspan_s=86400))
    qN_ = t(lambda: eql_sequence(evN_keys, steps, by="user_id", maxspan_s=86400))
    print(f"{'eql_sequence':14s}  1x {q1_:6.2f}s   {times}x {qN_:7.2f}s   ratio {qN_ / q1_:6.2f}")

    # TS RATE: user_id keys NOT offset — the realistic TSDS shape is
    # a fixed series population with N× LONGER history per series.
    # Each copy's timestamps shift by 40 days (so the history really
    # lengthens instead of densifying on duplicate instants) and ids
    # re-key densely (the packed (ts, id) order needs id < 10⁹; the
    # raw copy offsets would breach it at 10×).
    from monstache_spark.operators.esql import esql

    n_ev1 = ev1.count()
    evN_ts = spark.read.parquet(evN_path).withColumn(
        "_copy", F.floor(F.col("event_id") / F.lit(100_000_000))
    ).select(
        (F.pmod(F.col("event_id"), F.lit(100_000_000))
         + F.col("_copy") * F.lit(2 * n_ev1)).alias("event_id"),
        F.timestamp_micros(
            F.unix_micros(F.col("ts"))
            + F.col("_copy") * F.lit(40 * 86_400_000_000)
        ).alias("ts"),
        "user_id", "event_type", "value",
    )
    _ts_q = (
        "TS events | STATS mr = max(RATE(value)), ar = avg(RATE(value))"
        " BY wk = BUCKET(ts, 1 week)"
    )
    ts1 = t(lambda: esql(_ts_q, {"events": ev1}, dimensions=["user_id"]))
    tsN = t(lambda: esql(_ts_q, {"events": evN_ts}, dimensions=["user_id"]))
    print(f"{'ts_rate':14s}  1x {ts1:6.2f}s   {times}x {tsN:7.2f}s   ratio {tsN / ts1:6.2f}")

    # variable_width_histogram: everything after the first hash agg is
    # O(distinct values) — perturb each copy's value so the distinct
    # frame actually grows N× (identical copies would test nothing)
    from monstache_spark.operators.aggs import downsample, variable_width_histogram

    evN_vals = spark.read.parquet(evN_path).withColumn(
        "value",
        F.col("value") + F.floor(F.col("event_id") / F.lit(100_000_000)).cast("double") * 1e-4,
    )
    v1 = t(lambda: variable_width_histogram(ev1, "value", 8))
    vN = t(lambda: variable_width_histogram(evN_vals, "value", 8))
    print(f"{'var_width_hist':14s}  1x {v1:6.2f}s   {times}x {vN:7.2f}s   ratio {vN / v1:6.2f}")

    # TSDB downsample: ONE corpus hash agg (counter last via packed
    # max_by) — rows scale N×, the rolled-up output stays bucket-sized.
    # r12 decomposition (warm, best-of-3, 100× = 10M rows): 10.0s
    # total = 0.5s scan+count floor + ~4s exact-decimal gauge sums +
    # ~5.5s decimal-packed counter max_by — every component constant
    # work per row, map-side combinable; the 22× warm ratio is the
    # overhead-bound 0.43s denominator, not super-linearity (per-row
    # throughput IMPROVES at 100×).  The decimal arithmetic is the
    # price of the partitioning-independent exactness contract:
    # sum(decimal(18,6)) measured no faster (4.5s), scaled-long sums
    # overflow at extreme scale, and max_by over struct(us, id)
    # (3.3s) silently degrades the whole agg to SortAggregate — the
    # explain_audit-pinned HashAggregate is worth the decimal cost.
    d1 = t(lambda: downsample(ev1, "ts", ["event_type"], gauges=["value"], counters=["value"], fixed_interval="6h"))
    dN = t(lambda: downsample(evN, "ts", ["event_type"], gauges=["value"], counters=["value"], fixed_interval="6h"))
    print(f"{'downsample':14s}  1x {d1:6.2f}s   {times}x {dN:7.2f}s   ratio {dN / d1:6.2f}")

    # knn_join: bucket width must scale with the corpus (the documented
    # contract — fixed bits at N× would quadratically inflate co-bucket
    # pairs). bits=6 at 1x (2k vecs -> ~31/bucket); +log2(N) bits at Nx
    # keeps the per-bucket occupancy, so a healthy ratio is ~N.
    import math

    from monstache_spark.operators.similarity import knn_join

    emb1 = load_table(spark, "embeddings", sf_dir)
    # perturb each copy deterministically: 50 EXACT clones of every
    # vector share all bucket bits, which degenerates the probe into a
    # quadratic clone-pair count no real embedding corpus has — the
    # perturbation spreads copies across sign buckets like fresh data
    copies = emb1.crossJoin(
        spark.range(times).select(F.col("id").alias("_copy"))
    )
    embN = copies.select(
        (F.col("vec_id") + F.col("_copy") * 10_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, j: (
                x + ((F.col("_copy") * 31 + j) % 7 - 3).cast("float") * F.lit(0.05)
            ).cast("float"),
        ).alias("embedding"),
        "label",
    )
    embN_path = f"{base}/embN.parquet"
    embN.write.mode("overwrite").parquet(embN_path)
    embN = spark.read.parquet(embN_path)
    extra_bits = max(0, round(math.log2(times)))
    k1_ = t(lambda: knn_join(emb1, k=5, dim=64, bits=6))
    kN = t(lambda: knn_join(embN, k=5, dim=64, bits=6 + extra_bits, max_bucket=500))
    print(
        f"{'knn_join':14s}  1x {k1_:6.2f}s   {times}x {kN:7.2f}s   "
        f"ratio {kN / k1_:6.2f}  (bits 6 -> {6 + extra_bits}, cap 500)"
    )

    # knn_join_pq: the IVF-cell + PQ-SDC scale path — same contract,
    # compressed-domain pair scoring + bounded exact rerank. The code
    # sub-split (sub_codes=2, 3 probes of 16 codewords each) holds
    # pair volume ~linear when natural clusters outgrow the cells.
    # recall@5 for BOTH variants is measured against exact cosine
    # ground truth on a 40-query sample.
    from monstache_spark.operators.similarity import brute_force_topk, knn_join_pq

    p1 = t(lambda: knn_join_pq(emb1, dim=64, k=5, n_centroids=8, n_fine=8, n_probe=2))
    t0 = time.time()
    pq_out_path = f"{base}/pqout.parquet"
    knn_join_pq(
        embN, dim=64, k=5, n_centroids=32, n_fine=32, n_probe=2,
        sub_codes=2, code_probes=3,
    ).write.mode("overwrite").parquet(pq_out_path)
    pN = time.time() - t0
    print(
        f"{'knn_join_pq':14s}  1x {p1:6.2f}s   {times}x {pN:7.2f}s   "
        f"ratio {pN / p1:6.2f}  (cells 32x32, sub_codes 2x3)"
    )
    qs = embN.filter(F.col("vec_id") % 5000 == 17).limit(40)
    want = {
        (r["query_id"], r["corpus_id"])
        for r in brute_force_topk(embN, qs, k=5).collect()
    }
    lsh_out_path = f"{base}/lshout.parquet"
    knn_join(
        embN, k=5, dim=64, bits=6 + extra_bits, max_bucket=500
    ).write.mode("overwrite").parquet(lsh_out_path)
    for name, path in (("knn_join", lsh_out_path), ("knn_join_pq", pq_out_path)):
        res = spark.read.parquet(path).join(
            qs.select(F.col("vec_id").alias("id_q")), "id_q", "left_semi"
        )
        got = {(r["id_q"], r["id_n"]) for r in res.collect()}
        print(
            f"{name:14s}  recall@5 vs exact cosine (40-query sample): "
            f"{len(got & want) / max(len(want), 1):.3f}"
        )

    # bit-quantized kNN (hamming) and the two-phase re-rank: phase 1 is
    # one projection + TakeOrdered over packed words, so the ratio
    # should track the scan (~linear, usually well under N on
    # local[32]); the re-rank adds O(shortlist) exact work regardless
    # of N — the whole point of the shape
    from monstache_spark.operators.similarity import (
        hamming_rerank_topk,
        hamming_topk,
        int8_topk,
    )

    h1 = t(lambda: hamming_topk(emb1, query_vec_id=0, k=10))
    hN = t(lambda: hamming_topk(embN, query_vec_id=0, k=10))
    print(f"{'hamming_knn':14s}  1x {h1:6.2f}s   {times}x {hN:7.2f}s   ratio {hN / h1:6.2f}")
    r1 = t(lambda: hamming_rerank_topk(emb1, query_vec_id=0, k=10, shortlist=40))
    rN = t(lambda: hamming_rerank_topk(embN, query_vec_id=0, k=10, shortlist=40))
    print(f"{'hamming_rerank':14s}  1x {r1:6.2f}s   {times}x {rN:7.2f}s   ratio {rN / r1:6.2f}")
    i1 = t(lambda: int8_topk(emb1, query_vec_id=0, dim=64, k=10))
    iN = t(lambda: int8_topk(embN, query_vec_id=0, dim=64, k=10))
    print(f"{'int8_knn':14s}  1x {i1:6.2f}s   {times}x {iN:7.2f}s   ratio {iN / i1:6.2f}")

    # bit rank_vectors maxSimInvHamming (round 10): Q xor/popcounts
    # per (doc, vector) row + one hash agg — phase-1 bytes are the
    # packed words only, so the ratio should track the hamming scan
    from monstache_spark.operators.similarity import maxsim_inv_hamming_topk

    mq = [[1.0 if (i * 3) % 7 < 3 else -1.0 for i in range(64)],
          [1.0 if (i * 5) % 11 < 5 else -1.0 for i in range(64)]]
    mv1 = emb1.select((F.col("vec_id") % 50).alias("doc_id"), "embedding")
    mvN = embN.select((F.col("vec_id") % 50).alias("doc_id"), "embedding")
    m1 = t(lambda: maxsim_inv_hamming_topk(mv1, mq, k=10))
    mN = t(lambda: maxsim_inv_hamming_topk(mvN, mq, k=10))
    print(f"{'maxsim_invham':14s}  1x {m1:6.2f}s   {times}x {mN:7.2f}s   ratio {mN / m1:6.2f}")

    # --- post-r12 operators (VERDICT r13 task #7 + the r14 pair) ---
    # temperature_sample: ONE corpus hash agg for n_s + broadcast +
    # codegen membership filter — rows scale N×, the stats frame
    # stays O(#sources)
    from monstache_spark.operators.curation import temperature_sample

    tp1 = t(lambda: temperature_sample(docs1, 2.0, 200, group_col="lang"))
    tpN = t(lambda: temperature_sample(docsN, 2.0, 200 * times, group_col="lang"))
    print(f"{'temp_sample':14s}  1x {tp1:6.2f}s   {times}x {tpN:7.2f}s   ratio {tpN / tp1:6.2f}")

    # sliced_scroll: one codegen md5 filter over the scan
    from monstache_spark.operators.search import sliced_scroll

    sl1 = t(lambda: sliced_scroll(docs1, 2, 6))
    slN = t(lambda: sliced_scroll(docsN, 2, 6))
    print(f"{'sliced_scroll':14s}  1x {sl1:6.2f}s   {times}x {slN:7.2f}s   ratio {slN / sl1:6.2f}")

    # ES|QL MATCH_PHRASE: one tokenize per row (lambda-bound array)
    # + codegen exists — pure map work over the corpus
    _mp_q = (
        'FROM d | WHERE MATCH_PHRASE(text, "hash join")'
        " | STATS n = COUNT(*) BY lang"
    )
    mp1 = t(lambda: esql(_mp_q, {"d": docs1}))
    mpN = t(lambda: esql(_mp_q, {"d": docsN}))
    print(f"{'match_phrase':14s}  1x {mp1:6.2f}s   {times}x {mpN:7.2f}s   ratio {mpN / mp1:6.2f}")

    # moving_fn (r14): corpus hash agg to daily buckets + window
    # passes over bucket-cardinality rows — bucket count is fixed, so
    # only the first agg scales
    from monstache_spark.operators.aggs import moving_fn

    def _mfn(df):
        b = df.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        ).agg(F.count("*").cast("long").alias("n"))
        return moving_fn(b, "day", "n", 7, "ewma", parent_cols=["event_type"])

    mf1 = t(lambda: _mfn(ev1))
    mfN = t(lambda: _mfn(evN))
    print(f"{'moving_fn':14s}  1x {mf1:6.2f}s   {times}x {mfN:7.2f}s   ratio {mfN / mf1:6.2f}")

    # containment_pairs (r14): N× EXACT clones would measure a
    # quadratic clone-pair artifact no real corpus has (every cross-
    # copy pair has containment 1.0) — per-copy word tagging keeps
    # each copy's internal containment structure while making copies
    # disjoint, the realistic growth shape (containment clusters stay
    # local; the inverted-index join volume grows ~N)
    from monstache_spark.operators.dedup import containment_pairs

    docsN_tag = spark.read.parquet(docsN_path).withColumn(
        "_copy", F.floor(F.col("doc_id") / F.lit(1_000_000))
    ).withColumn(
        "text",
        F.expr(
            "regexp_replace(text, '(\\\\S+)',"
            " concat('$1#', CAST(_copy AS STRING)))"
        ),
    ).drop("_copy")
    cp1 = t(lambda: containment_pairs(docs1, k=3, threshold=0.5, df_cap=50))
    cpN = t(lambda: containment_pairs(docsN_tag, k=3, threshold=0.5, df_cap=50))
    print(f"{'containment':14s}  1x {cp1:6.2f}s   {times}x {cpN:7.2f}s   ratio {cpN / cp1:6.2f}")

    # Adversarial duplicate-heavy corpus: every doc in one copy-set is
    # the SAME boilerplate text, so unbounded LSH puts the whole set in
    # one bucket per band — O(n²) pair explosion on one executor. The
    # capped default must stay ~flat in pair volume while the stats
    # report the suppression.
    from monstache_spark.operators.dedup import lsh_bucket_stats

    n_boiler = 20_000
    boiler = spark.range(n_boiler).select(
        F.col("id").alias("doc_id"),
        F.lit("all rights reserved terms of service apply to this page").alias("text"),
    )
    boiler_path = f"{base}/boiler.parquet"
    boiler.write.mode("overwrite").parquet(boiler_path)
    boiler = spark.read.parquet(boiler_path)
    tb = time.time()
    capped_pairs = (
        minhash_candidate_pairs(boiler, num_hashes=16, num_bands=4, shingle_k=2).count()
    )
    tb = time.time() - tb
    stats = lsh_bucket_stats(boiler, num_hashes=16, num_bands=4, shingle_k=2).collect()[0]
    print(
        f"{'lsh_adversarial':14s}  {n_boiler} identical docs: capped pairs "
        f"{capped_pairs} in {tb:5.2f}s; dropped {stats['n_dropped']} bucket(s), "
        f"max bucket {stats['max_bucket_size']}, "
        f"{stats['pairs_suppressed']} pairs suppressed "
        f"(unbounded would explode {n_boiler * (n_boiler - 1) // 2} pairs on one executor)"
    )

    shutil.rmtree(base, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
