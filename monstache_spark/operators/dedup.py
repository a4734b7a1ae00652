"""Deduplication operators for the training-data pipeline extensions.

Exact dedup, MinHash+LSH near-dup, SimHash, and n-gram Jaccard — all as
declarative DataFrame plans:

- Exact: canonicalizing fingerprint (md5) → groupBy — one shuffle on the
  16-byte digest, map-side partial agg. At 100 TB this is the cheapest
  possible formulation: the shuffle carries (digest, id), never the text.
- MinHash: per-row signature via array expressions (shingle → md5-based
  hash → array_min), so NO explode/shuffle is needed to build
  signatures; only the candidate-pair band join shuffles, and it
  shuffles band keys, not documents.
- LSH banding: signatures split into bands; docs sharing any band bucket
  become candidate pairs (self-equi-join on the band key); candidates
  verified with exact shingle Jaccard.

The md5-derived hash family (functions/text.py:shingle_hash) is chosen
over xxhash64 deliberately: it is reproducible in any engine (the DuckDB
oracle re-derives identical signatures), at the cost of some CPU — at
scale you would swap in xxhash64 seeds via config.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from monstache_spark.functions.text import fingerprint, shingle_hash, word_shingles
from monstache_spark.session import shuffle_partitions


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Clusters of exact (canonicalized) duplicates: fingerprint,
    member count, and the kept (minimum) id per cluster."""
    return (
        docs.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count("*").alias("n_members"), F.min(id_col).alias("keep_id"))
    )


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per fingerprint — the exact
    dedup pass itself. Equivalent to dropDuplicates on the fingerprint
    but deterministic about WHICH row survives."""
    w_fp = fingerprint(F.col(text_col)).alias("fp")
    keep = (
        docs.select(w_fp, F.col(id_col).alias("__id"))
        .groupBy("fp")
        .agg(F.min("__id").alias(id_col))
    )
    return docs.join(keep, on=id_col, how="left_semi")


def dedup_keep_best(
    docs: DataFrame,
    quality_col: str = "n_chars",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-dup clusters with a quality-aware keeper: within each
    fingerprint cluster keep the document with the highest
    ``quality_col`` (ties → smallest id) — the "keep the best copy"
    policy real pipelines use instead of keep-min when duplicates
    differ in extraction quality (e.g. one copy is truncated).

    One row per cluster: ``(fp, n_members, keep_id, keep_quality)``.

    Scale: same single digest-keyed shuffle as :func:`exact_duplicates`.
    The arg-max travels as ONE packed BIGINT (quality << 32 − id) —
    a struct in the aggregation buffer would silently degrade the
    whole aggregate to SortAggregate (full map-side sort), so the
    (quality, id) lexicographic order is encoded arithmetically
    instead: valid for 0 ≤ quality < 2^31 and 0 ≤ id < 2^32 — enforced
    with a per-row raise_error guard so an out-of-range value fails
    loudly instead of silently electing the wrong keeper.
    """
    q = F.col(quality_col).cast("long")
    idl = F.col(id_col).cast("long")
    bad = (q.isNotNull() & ((q < 0) | (q >= F.lit(1 << 31).cast("long")))) | (
        idl.isNotNull() & ((idl < 0) | (idl >= F.lit(1 << 32).cast("long")))
    )
    pk = F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit("dedup_keep_best: packed argmax out of range (need 0<=quality<2^31, 0<=id<2^32): quality="),
                q.cast("string"),
                F.lit(" id="),
                idl.cast("string"),
            )
        ).cast("long"),
    ).otherwise(q * F.lit(1 << 32).cast("long") - idl)
    by_fp = docs.select(
        fingerprint(F.col(text_col)).alias("fp"),
        F.col(id_col).cast("long").alias("_id"),
        pk.alias("_pk"),
        q.alias("_q"),
    )
    return by_fp.groupBy("fp").agg(
        F.count("*").alias("n_members"),
        F.max_by("_id", "_pk").alias("keep_id"),
        F.max("_q").alias("keep_quality"),
    )


def _spread(docs: DataFrame, id_col: str) -> DataFrame:
    """Hash-distribute documents across the full shuffle width BEFORE a
    row-amplifying explode. Scan partitions are sized by INPUT bytes;
    char/token explosion amplifies rows ~40-250x after the scan, so a
    byte-balanced scan partition becomes a wildly oversized exploded
    partition (and a single small file becomes a single task doing all
    the hashing). The explicit width disables AQE partition coalescing,
    which would shrink this exchange based on the small pre-explode
    byte size. Because the exchange hashes on the id, the per-id window
    that follows reuses the partitioning — the text shuffle REPLACES
    the much larger post-explode exchange rather than adding one
    (measured at 50x sf0.1: 117 s -> 60 s cold, one Exchange in the
    plan instead of two)."""
    nparts = shuffle_partitions(docs.sparkSession)
    return docs.repartition(nparts, F.col(id_col))


def shingle_rows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    distinct: bool = True,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """One row per k-word shingle: posexplode tokens, then lead-window
    concatenation. Docs with < k tokens contribute one whole-doc
    shingle (same contract as functions.text.word_shingles and the
    DuckDB oracle's shingle SQL; empty text yields one '' shingle).

    This rows formulation is ~3.5x faster than exploding the
    transform/slice array HOF (interpreted per element, excluded from
    codegen) and is the scale shape anyway: the lead window shuffles
    (doc, position) once, everything else stays in whole-stage codegen.
    Pass ``distinct=False`` when the consumer is order-insensitive
    min/max aggregation (MinHash) — duplicates can't change a min, and
    skipping the distinct saves a shuffle.

    ``carry`` names per-DOCUMENT columns to thread through to the
    output rows (e.g. a target-membership flag a one-pass consumer
    aggregates by) — they ride the same explode, no join-back.  Under
    ``distinct=True`` carried columns join the dedup key, so they must
    be constant per document."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    carry_cols = [F.col(c) for c in carry]
    t = _spread(docs, id_col).select(
        F.col(id_col), *carry_cols, F.posexplode(toks).alias("_pos", "_tok")
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    parts = [F.col("_tok")] + [F.lead("_tok", j).over(w) for j in range(1, k)]
    n = F.count("*").over(Window.partitionBy(id_col))
    sh = t.select(
        F.col(id_col),
        *carry_cols,
        F.concat_ws(" ", *parts).alias("s"),
        parts[-1].isNotNull().alias("_full"),
        n.alias("_n"),
        F.col("_pos"),
    )
    rows = sh.filter(
        F.col("_full") | ((F.col("_n") < k) & (F.col("_pos") == 0))
    ).select(id_col, *carry, "s")
    return rows.distinct() if distinct else rows


# affine hash family over one base hash: h_i = (A_i * h + B_i) mod P.
# One md5 per shingle instead of num_hashes of them; P prime > 2^32 keeps
# the family pairwise-independent enough for banding, and the arithmetic
# is exact BIGINT in any engine (A_i * max_h + B_i < 2^63).
MINHASH_P = 4294967311


def minhash_a(i: int) -> int:
    return 1000003 * i + 12345


def minhash_b(i: int) -> int:
    return 7919 * i + 271


def minhash_signature(text: Column, num_hashes: int = 16, shingle_k: int = 3) -> Column:
    """MinHash signature as an array<long> of length ``num_hashes``.

    sig[i] = min over shingles of ((A_i * md5hash(shingle) + B_i) mod P).
    Entirely per-row array math — no shuffle, no UDF, one md5 per
    shingle.
    """
    sh = F.array_distinct(word_shingles(text, shingle_k))
    base = F.transform(sh, lambda s: shingle_hash(s, 0))

    def affine(i: int):
        # single-arg lambda factory: extra lambda params would make
        # PySpark treat this as an (element, index) HOF lambda
        a, b = minhash_a(i), minhash_b(i)
        return lambda h: (h * a + b) % MINHASH_P

    return F.array(*[F.array_min(F.transform(base, affine(i))) for i in range(num_hashes)])


def minhash_bands(sig: Column, num_bands: int, rows_per_band: int) -> Column:
    """Split a signature into band-key strings ``band_idx:h1_h2_.."""
    return F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                F.concat_ws("_", *[F.element_at(sig, b * rows_per_band + r + 1) for r in range(rows_per_band)]),
            )
            for b in range(num_bands)
        ]
    )


# Default in-bucket cap: C(500,2) ≈ 125k pairs is the most one band
# bucket may explode into. Unbounded is the classic LSH scale-killer —
# one boilerplate mega-bucket at 100 TB serializes O(bucket²) pair
# generation onto a single executor. Oversize buckets are near-useless
# for dedup anyway (boilerplate), but they are never dropped SILENTLY:
# use ``lsh_bucket_stats`` to observe how many buckets the cap removed.
DEFAULT_MAX_BUCKET = 500


def minhash_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """LSH band buckets: one row per band key with ≥2 members, carrying
    the sorted member-id list and its size (``band``, ``ids``,
    ``n_ids``). The shared first half of candidate generation and
    bucket statistics.

    Plan shape: signature (narrow, one md5 per shingle, num_hashes
    min-aggregates with map-side partial combine) → explode bands →
    groupBy band key. One shuffle on band keys; signatures are computed
    exactly once (a self-join would recompute them per side)."""
    exploded = minhash_band_rows(docs, text_col, id_col, num_hashes, num_bands, shingle_k)
    buckets = exploded.groupBy("band").agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
    return buckets.filter(F.size("ids") > 1).withColumn("n_ids", F.size("ids"))


def minhash_band_rows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, band-key) rows — ``num_bands`` rows per document. The
    shared signature/banding stage of bucket generation, bucket stats,
    and fuzzy decontamination.

    Shingles as rows, hashed ONCE each with fully codegen'd
    expressions, then the signature as num_hashes min-aggregates
    (map-side partial agg). The array formulation (transform +
    array_min) is interpreted per element AND Catalyst's projection
    collapse re-inlines the md5 subtree into every hash column — 16x
    recompute. The rows shape is also the right one at scale: no
    giant per-row arrays, shuffle volume = num_hashes longs per doc.
    distinct=False: duplicates can't change a min."""
    sig = minhash_sig_frame(docs, text_col, id_col, num_hashes, shingle_k)
    band_cols = _sig_band_cols(num_hashes, num_bands)
    banded = sig.select(F.col(id_col), F.array(*band_cols).alias("bands"))
    return banded.select(id_col, F.explode("bands").alias("band"))


def minhash_sig_frame(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, h0..h{n-1}) — the MinHash signature as COLUMNS via
    num_hashes min-aggregates over hashed shingle rows (map-side
    partial combine; one md5 per shingle).  The shared signature
    stage of banding and clone collapsing."""
    rows = shingle_rows(docs, text_col, id_col, shingle_k, distinct=False)
    hashed = rows.select(F.col(id_col), shingle_hash(F.col("s"), 0).alias("h"))
    return hashed.groupBy(id_col).agg(
        *[
            F.min((F.col("h") * minhash_a(i) + minhash_b(i)) % MINHASH_P).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def _sig_band_cols(num_hashes: int, num_bands: int) -> list[Column]:
    rows_per_band = num_hashes // num_bands
    return [
        F.concat_ws(
            ":",
            F.lit(str(b)),
            F.concat_ws("_", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]),
        ).alias(f"band{b}")
        for b in range(num_bands)
    ]


def lsh_bucket_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """One-row bucket census for the cap: candidate buckets, dropped
    (oversize) buckets, the largest bucket, and the pair volume the cap
    saved. This is how a pipeline REPORTS truncation instead of
    silently losing recall — run it beside ``minhash_candidate_pairs``
    with the same parameters (same single shuffle shape; the bucket
    frame is recomputed, which at scale is the cheap half of the job).
    """
    b = minhash_buckets(docs, text_col, id_col, num_hashes, num_bands, shingle_k)
    dropped = F.col("n_ids") > F.lit(max_bucket) if max_bucket is not None else F.lit(False)
    pair_count = (F.col("n_ids").cast("long") * (F.col("n_ids") - 1) / 2).cast("long")
    return b.agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.when(dropped, 1).otherwise(0)).cast("long").alias("n_dropped"),
        F.max("n_ids").cast("long").alias("max_bucket_size"),
        F.sum(F.when(dropped, pair_count).otherwise(F.lit(0)))
        .cast("long")
        .alias("pairs_suppressed"),
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band bucket, id_a < id_b.

    Plan shape: ``minhash_buckets`` (one shuffle) → generate in-bucket
    pairs from the collected id list → distinct. Degenerate buckets
    (boilerplate-heavy corpora) are bounded by ``max_bucket``
    (default ``DEFAULT_MAX_BUCKET``): oversize buckets are dropped —
    the standard LSH safeguard; at 100 TB an unbounded bucket is an
    O(bucket²) explosion on one executor. The drop is observable, not
    silent: ``lsh_bucket_stats`` with the same parameters reports how
    many buckets and pairs the cap suppressed. ``max_bucket=None``
    keeps everything.
    """
    buckets = minhash_buckets(docs, text_col, id_col, num_hashes, num_bands, shingle_k)
    if max_bucket is not None:
        buckets = buckets.filter(F.col("n_ids") <= max_bucket)
    # pairs within a bucket: for index i, pair ids[i] with every later id
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))), lambda y: F.struct(
                            x.alias("id_a"), y.alias("id_b")
                        )
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def minhash_candidate_pairs_collapsed(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Clone-collapsed LSH candidates — the 100 TB shape for
    duplicate-heavy corpora.

    ``minhash_candidate_pairs`` enumerates C(n,2) pairs inside every
    band bucket; a corpus with k-fold duplicated documents (mirrors,
    reposts, crawler re-fetches — the COMMON case at web scale) puts
    each clone set in one bucket per band and pays O(k²) pairs per
    set.  Those pairs carry no information beyond "these are clones":
    for dedup/connectivity purposes a STAR over the clone class is
    equivalent.  So, applying the knn_join_pq lesson (split/collapse
    candidates along the data's own quantization):

    1. group documents by their FULL MinHash signature (h0..h{n-1}) —
       one hash agg; identical texts (and k-shingle-identical texts)
       land in one class;
    2. emit star edges (class representative = min id → each member):
       |class|−1 edges instead of C(|class|,2);
    3. run banding/bucketing on the REPRESENTATIVES ONLY (one row per
       class) and enumerate pairs there — cross-class candidates at
       clone-free volume, with the same ``max_bucket`` cap.

    The pair set is a CONNECTIVITY-EQUIVALENT cover of the full
    enumeration: every clone reaches its representative in one hop,
    clones share every band with their representative, so each
    cross-class co-bucket pair maps to a rep pair in the same bucket,
    and ``connected_components`` over these pairs yields EXACTLY the
    clusters the full pair set yields — when the bucket cap does not
    bind.  When it does, the collapsed variant keeps strictly MORE
    connectivity: the cap now counts clone CLASSES, so a bucket the
    full enumeration dropped as "500 clones + 2 neighbors" survives
    here as 3 representatives.  Pair volume drops from
    Σ C(k_i,2) to Σ (k_i−1) + cross-pairs — linear in the clone
    count.  Not a drop-in replacement where the consumer needs every
    co-bucket pair individually (e.g. per-pair Jaccard reporting);
    use the uncollapsed variant there.

    Returns (id_a, id_b) with id_a < id_b.
    """
    sig = minhash_sig_frame(docs, text_col, id_col, num_hashes, shingle_k)
    hcols = [f"h{i}" for i in range(num_hashes)]
    # clone classes: same full signature → same class; the groupBy and
    # the membership join share the h0..h15 partitioning (exchange
    # reuse), and no per-class array is ever materialized (a 100k-clone
    # class stays k rows, never one giant collect_list row)
    classes = sig.groupBy(*hcols).agg(F.min(id_col).alias("_rep"))
    star = (
        sig.join(classes, hcols)
        .filter(F.col(id_col) != F.col("_rep"))
        .select(F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    reps = classes.select(F.col("_rep").alias(id_col), *hcols)
    band_cols = _sig_band_cols(num_hashes, num_bands)
    rep_rows = reps.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    )
    buckets = (
        rep_rows.groupBy("band")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
        .withColumn("n_ids", F.size("ids"))
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.col("n_ids") <= max_bucket)
    rep_pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    return star.unionByName(rep_pairs).distinct()


def dedup_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """End-to-end corpus cleaning: exact dedup (keep min id per
    canonical fingerprint), then near-dup removal (MinHash-LSH
    candidates verified by shingle Jaccard >= threshold; the higher id
    of each verified pair is dropped — the standard keep-lowest greedy,
    deterministic, no transitive closure pass).

    ``max_bucket`` bounds the LSH pair explosion exactly as in
    ``minhash_candidate_pairs``; audit what it suppressed with
    ``lsh_bucket_stats`` at the same parameters.

    Plan shape: everything composes the operators above — the corpus
    is scanned once for fingerprints, once for shingles of survivors;
    joins key on digests/bands, never on text."""
    kept_exact = dedup_exact(docs, text_col, id_col)
    cands = minhash_candidate_pairs(
        kept_exact,
        text_col,
        id_col,
        num_hashes=num_hashes,
        num_bands=num_bands,
        shingle_k=shingle_k,
        max_bucket=max_bucket,
    )
    verified = ngram_jaccard_pairs(
        kept_exact, cands, text_col, id_col, shingle_k=shingle_k, threshold=threshold
    )
    drop = verified.select(F.col("id_b").alias(id_col)).distinct()
    return kept_exact.join(drop, id_col, "left_anti")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a candidate-pair graph: one row per
    node appearing in ``pairs``, labeled ``cluster_id`` = the minimum
    id in its component. This is the step that turns pairwise near-dup
    verdicts into dedup GROUPS (keep ``id == cluster_id``, drop the
    rest) — pairwise keep-lowest alone under-deletes on transitive
    chains (a~b, b~c, but a!~c leaves c alive).

    Iterative min-label propagation with pointer jumping: each round a
    node takes the min of its own label, its neighbors' labels, and its
    label's label (the pointer jump — contracts chains in O(log n)
    rounds instead of O(diameter)). Labels only decrease and stay
    inside the component, so the fixpoint is exactly the component
    minimum.

    Scale: each round is two hash joins + a hash aggregate keyed on
    node id; labels are ``localCheckpoint``-ed per round to truncate
    lineage, and the ONLY driver-side action per round is a limit(1)
    convergence probe (control-plane, one row). Near-dup graphs are
    overwhelmingly small dense clusters, so rounds ≈ 3-4 in practice;
    ``max_iter`` hard-bounds adversarial chains.
    """
    # Materialize the edge list ONCE: ``pairs`` is typically the tail
    # of an expensive pipeline (LSH + verification) and every loop
    # round below re-reads it — without this checkpoint each iteration
    # would recompute the whole upstream plan.  (A persist()-based
    # variant — InMemoryRelation keeps statistics, enabling broadcast
    # rounds — was tried in the r14 optimization round and measured
    # 4x SLOWER: the un-truncated lineage makes per-round analysis
    # and cache lookup grow with iteration depth.  localCheckpoint's
    # lineage cut is the point, not just the caching.)
    edges = pairs.select(
        F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v")
    ).localCheckpoint()
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = (
        sym.select(F.col("u").alias("id")).distinct().withColumn("lab", F.col("id"))
    ).localCheckpoint()
    for _ in range(max_iter):
        nbr = (
            sym.alias("e")
            .join(labels.alias("l"), F.col("e.v") == F.col("l.id"))
            .groupBy(F.col("e.u").alias("id"))
            .agg(F.min("l.lab").alias("nlab"))
        )
        step = labels.join(nbr, "id", "left").select(
            "id",
            F.col("lab").alias("lab0"),
            F.least(F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))).alias("lab"),
        )
        ptr = step.select(F.col("id").alias("pid"), F.col("lab").alias("plab"))
        newlab = F.least(F.col("s.lab"), F.coalesce(F.col("p.plab"), F.col("s.lab")))
        step = (
            step.alias("s")
            .join(ptr.alias("p"), F.col("s.lab") == F.col("p.pid"), "left")
            .select(
                F.col("s.id").alias("id"),
                newlab.alias("lab"),
                # convergence flag carried THROUGH the checkpoint: the
                # probe below reads cached blocks instead of planning
                # a step-vs-old-labels join per round (one fewer join
                # job per iteration; r14 optimization round).  Labels
                # only decrease, so new != old is exactly the old
                # probe's inequality.
                (newlab != F.col("s.lab0")).alias("_chg"),
            )
        ).localCheckpoint()
        changed = step.filter(F.col("_chg")).limit(1).count()
        labels = step.select("id", "lab")
        if changed == 0:
            break
    return labels.select(F.col("id"), F.col("lab").alias("cluster_id"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    shingle_k: int = 3,
    n_bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs from SimHash signatures: the signature
    splits into ``n_bands`` bit-bands; documents sharing any band value
    become candidates, verified by exact Hamming distance
    (``bit_count(xor)``) ≤ ``max_hamming``. By pigeonhole, any pair
    within Hamming ``n_bands - 1`` shares at least one intact band, so
    with the defaults (4 bands, max_hamming 3) recall over the
    signature space is exact — unlike MinHash banding, which is
    probabilistic.

    Returns (id_a, id_b, hamming), id_a < id_b.

    Plan shape mirrors ``minhash_candidate_pairs``: one shuffle on the
    band key, the signature rides in the bucket so verification needs
    no second join, and degenerate buckets (all-boilerplate corpora
    collapse to few signatures) are bounded by ``max_bucket`` — the
    O(bucket²) guard; suppressed buckets are observable via
    :func:`simhash_bucket_stats` with the same parameters."""
    bands = simhash_band_rows(docs, text_col, id_col, bits, shingle_k, n_bands)
    buckets = bands.groupBy("band").agg(
        F.sort_array(F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("s")))).alias(
            "members"
        )
    ).filter(F.size("members") > 1)
    if max_bucket is not None:
        buckets = buckets.filter(F.size("members") <= max_bucket)
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("members"),
                    lambda x, i: F.transform(
                        F.slice(F.col("members"), i + 2, F.size(F.col("members"))),
                        lambda y: F.struct(
                            x.getField("i").alias("id_a"),
                            y.getField("i").alias("id_b"),
                            F.bit_count(x.getField("s").bitwiseXOR(y.getField("s"))).alias(
                                "hamming"
                            ),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b", F.col("p.hamming").cast("long").alias("hamming"))
    return pairs.filter(F.col("hamming") <= max_hamming).dropDuplicates(["id_a", "id_b"])


def simhash_band_rows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    shingle_k: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """(id, simhash, band-key) rows — ``n_bands`` per document; the
    shared banding stage of simhash pairing and its bucket census."""
    band_width = bits // n_bands
    mask = (1 << band_width) - 1
    sig = simhash_signatures(docs, text_col, id_col, bits, shingle_k)
    return sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(b)),
                        F.shiftright(F.col("simhash"), b * band_width)
                        .bitwiseAND(F.lit(mask))
                        .cast("string"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    )


def simhash_bucket_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    shingle_k: int = 3,
    n_bands: int = 4,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """One-row census of the simhash band buckets under the cap —
    ``simhash_near_dup_pairs``'s truncation report, mirroring
    :func:`lsh_bucket_stats`: candidate buckets (≥2 members), dropped
    (oversize) buckets, the largest bucket, and the pair volume the
    cap suppressed. Run it beside the pairing with the same
    parameters so recall loss is reported, never silent."""
    counts = (
        simhash_band_rows(docs, text_col, id_col, bits, shingle_k, n_bands)
        .groupBy("band")
        .agg(F.count("*").alias("n_ids"))
        .filter(F.col("n_ids") > 1)
    )
    dropped = F.col("n_ids") > F.lit(max_bucket) if max_bucket is not None else F.lit(False)
    pair_count = (F.col("n_ids").cast("long") * (F.col("n_ids") - 1) / 2).cast("long")
    return counts.agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.when(dropped, 1).otherwise(0)).cast("long").alias("n_dropped"),
        F.max("n_ids").cast("long").alias("max_bucket_size"),
        F.sum(F.when(dropped, pair_count).otherwise(F.lit(0)))
        .cast("long")
        .alias("pairs_suppressed"),
    )


def near_dup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    max_iter: int = 20,
) -> DataFrame:
    """Label every document with its near-dup cluster id: MinHash-LSH
    candidates → exact Jaccard verification → connected components over
    the verified pairs. Documents with no verified neighbor are their
    own cluster. Output ``(id_col, cluster_id)``; dedup = keep
    ``id_col == cluster_id``.
    """
    cands = minhash_candidate_pairs(
        docs, text_col, id_col,
        num_hashes=num_hashes, num_bands=num_bands, shingle_k=shingle_k,
        max_bucket=max_bucket,
    )
    verified = ngram_jaccard_pairs(
        docs, cands, text_col, id_col, shingle_k=shingle_k, threshold=threshold
    )
    labels = connected_components(verified, max_iter=max_iter)
    return (
        docs.alias("d")
        .join(labels.alias("c"), F.col(f"d.{id_col}") == F.col("c.id"), "left")
        .select(
            F.col(f"d.{id_col}").alias(id_col),
            F.coalesce(F.col("c.cluster_id"), F.col(f"d.{id_col}")).alias("cluster_id"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    hash_fn=None,
) -> DataFrame:
    """Document fingerprinting by winnowing (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every k-char gram of the canonicalized text, keep
    the minimum of each window of ``w`` consecutive gram hashes; the
    distinct sorted minima are the fingerprint set. Every exact match
    of length >= w+k-1 shares a fingerprint.

    Exploded-row formulation on purpose: one row per gram position,
    window-min over a ``w``-row frame, then collect per doc. An
    array-HOF version (transform over sequence + slice) looks natural
    but Catalyst's projection collapse re-inlines the gram array into
    every window element — O(len^2) md5 calls per document, unusable
    beyond toy docs. Here each gram hashes exactly once; the only
    exchange is the pre-explode text spread (see ``_spread``), which
    the window sort then reuses — gram rows never shuffle, and at
    corpus scale the exploded rows are also the right input for
    fingerprint-join dedup (hash-partition on the fingerprint).

    ``hash_fn`` picks the gram hash family. Default is ``xxhash64`` —
    the production choice (one JVM hash per gram; the hash count is
    the whole cost of winnowing, ~n_chars per doc). Pass the md5-based
    ``shingle_hash`` family for cross-engine-reproducible output (the
    DuckDB oracle does) at ~2x the runtime.

    Clone-collapsed (round 11, the minhash_candidate_pairs_collapsed
    lesson): the fingerprint set is a PURE FUNCTION of the canonical
    text, so the gram-hash/window work runs once per DISTINCT text —
    one hash agg to the distinct-text frame, winnowing there, then an
    equi-join maps each doc id to its text class's fingerprints.  A
    duplicate-heavy corpus (mirrors, re-fetches — the shape dedup
    exists for) pays for its distinct texts only; a clone-free corpus
    pays one extra md5 per doc and a cheap agg+join.  Output is
    row-for-row identical to the per-doc formulation."""
    if hash_fn is None:
        hash_fn = F.xxhash64
    canon = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    # coalesce: a NULL text must still join back to its class row
    # (group keys keep NULLs; equi-joins drop them)
    ck = F.coalesce(F.md5(canon), F.lit("\x00null"))
    keyed = docs.select(F.col(id_col), ck.alias("_ck"))
    # distinct texts: BOTH columns as group keys (md5 determines the
    # text, and a string in the agg BUFFER — first(_canon) — would
    # degrade the agg to SortAggregate); then an explicit-width
    # repartition on _ck alone so the row-amplifying explode below
    # runs at full shuffle width (AQE would coalesce this exchange
    # based on the small pre-explode bytes) and the per-class window
    # reuses the partitioning
    nparts = shuffle_partitions(docs.sparkSession)
    base = (
        docs.select(ck.alias("_ck"), canon.alias("_canon"))
        .distinct()
        .repartition(nparts, F.col("_ck"))
    )
    n = F.length(F.col("_canon"))
    positions = base.select(
        "_ck",
        "_canon",
        F.explode(F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))).alias("i"),
    )
    grams = positions.select(
        "_ck",
        "i",
        hash_fn(F.col("_canon").substr(F.col("i"), F.lit(k))).alias("h"),
        (F.greatest(F.length("_canon") - F.lit(k) + 1, F.lit(1)) - w + 1).alias("_last_win"),
    )
    win = Window.partitionBy("_ck").orderBy("i").rowsBetween(0, w - 1)
    mins = grams.select(
        "_ck",
        "i",
        "_last_win",
        F.min("h").over(win).alias("win_min"),
    ).filter(F.col("i") <= F.greatest(F.col("_last_win"), F.lit(1)))
    fps_by_text = mins.groupBy("_ck").agg(
        F.array_sort(F.collect_set("win_min")).alias("fps")
    )
    return keyed.join(fps_by_text, "_ck").select(id_col, "fps")


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 6,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup: candidate pairs from a sign-sketch
    LSH bucket self-join, verified with exact cosine >= threshold.

    The bucket equi-join replaces the O(n^2) cross join — at corpus
    scale, cost is sum of squared bucket sizes (~n^2 / 2^bits for
    balanced buckets) and the shuffle key is the bucket id, so the
    join co-locates without moving vectors twice. Sketches come from
    fixed md5-derived hyperplanes (similarity.lsh_bucket), so the
    result is deterministic and oracle-reproducible. Recall misses
    pairs whose sketches differ; raise recall with fewer bits or
    multi-probe — the standard LSH trade."""
    from monstache_spark.functions.vectors import as_double_array, dot_pre, norm_pre
    from monstache_spark.operators.similarity import lsh_bucket

    # Pre-cast to double and pre-compute the norm ONCE PER VECTOR
    # before the pair join (the semantic_dedup/knn_join pattern):
    # cosine_rounded per PAIR pays three interpreted HOF folds plus
    # six cast transforms; with both staged through the exchange the
    # per-pair work is a single fold.  sqrt(v·v)·sqrt(w·w) keeps the
    # exact op order of functions.vectors.cosine, so scores stay
    # bit-identical.  The explicit-width exchange on the bucket also
    # spreads the quadratic in-bucket pair work across the shuffle
    # width (the pre-join bytes are tiny, so AQE would coalesce the
    # join to tasks sized by input bytes — the explode-parallelism
    # trap).
    v = as_double_array(F.col(vec_col))
    nparts = shuffle_partitions(embeddings.sparkSession)
    sk = embeddings.select(
        F.col(id_col),
        v.alias("_v"),
        norm_pre(v).alias("_n"),
        lsh_bucket(F.col(vec_col), dim, bits).alias("bucket"),
    ).repartition(nparts, F.col("bucket"))
    a = sk.select(
        F.col(id_col).alias("id_a"), F.col("_v").alias("v_a"),
        F.col("_n").alias("n_a"), "bucket",
    )
    b = sk.select(
        F.col(id_col).alias("id_b"), F.col("_v").alias("v_b"),
        F.col("_n").alias("n_b"), "bucket",
    )
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    den = F.col("n_a") * F.col("n_b")
    cos = F.round(
        F.when(den > 0, dot_pre(F.col("v_a"), F.col("v_b")) / den).otherwise(F.lit(0.0)),
        6,
    )
    scored = pairs.select("id_a", "id_b", cos.alias("cosine"))
    return scored.filter(F.col("cosine") >= threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard; keep
    pairs with similarity ≥ threshold.

    Shingle sets are computed only for docs that appear in a candidate
    pair (semi-join first): at corpus scale the candidate set is
    orders of magnitude smaller than the corpus.

    Optimization round r14, two changes (results bit-identical):

    * ``pairs`` is referenced three times in this plan (two member
      projections + the verify join) and the shingle rows twice (one
      join per side); Spark re-plans — and can re-execute — a subtree
      per reference, so when ``pairs`` is the tail of the LSH
      pipeline the whole signature/banding stage would run 3x
      (measured: 10 Window / 24 HashAggregate nodes in minhash_pairs'
      static plan).  Both frames are lazily ``localCheckpoint``-ed —
      materialized once at first action, shared by every reference,
      recomputed per run (nothing persists across separate calls).
      Both are the post-prune small frames (id pairs; member shingle
      rows), never the corpus.
    * The shingle sets are computed in the ROWS formulation
      (:func:`shingle_rows` — codegen'd window, documented-identical
      shingle contract) rather than per-doc
      ``array_distinct(word_shingles(...))``: the array HOF is
      interpreted per element (CodegenFallback) and dominated the
      verify phase.  |A∩B| is a count over the shingle-row equi-join
      routed THROUGH the candidate pairs, and |A∪B| = |A| + |B| −
      |A∩B| — integer-identical to the former
      array_intersect/array_union sizes, so the rounded jaccard is
      bit-identical."""
    pairs = pairs.localCheckpoint(eager=False)
    members = pairs.select(F.col("id_a").alias(id_col)).unionByName(
        pairs.select(F.col("id_b").alias(id_col))
    ).distinct()
    needed = docs.join(members, id_col, "left_semi")
    rows = shingle_rows(
        needed, text_col, id_col, shingle_k, distinct=True
    ).localCheckpoint(eager=False)
    sizes = rows.groupBy(id_col).agg(F.count("*").alias("_nsh"))
    inter = (
        pairs.join(rows.select(F.col(id_col).alias("id_a"), "s"), "id_a")
        .join(rows.select(F.col(id_col).alias("id_b"), "s"), ["id_b", "s"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_ni"))
    )
    j = (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col(id_col).alias("id_a"), F.col("_nsh").alias("_na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("_nsh").alias("_nb")), "id_b")
        .withColumn("_ni", F.coalesce(F.col("_ni"), F.lit(0)))
        .withColumn(
            "jaccard",
            F.col("_ni").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_ni")).cast("double"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """Asymmetric near-CONTAINMENT detection (r14): for candidate
    pairs, both directed containments ``c_ab = |S(a)∩S(b)| / |S(a)|``
    and ``c_ba`` over distinct k-word shingle sets — the
    quote/inclusion-detection complement to symmetric Jaccard dedup
    (a short doc fully quoted inside a long one has high containment
    but low Jaccard; the RefinedWeb/Dolma-style pipelines run both).
    Keeps pairs with ``max(c_ab, c_ba) ≥ threshold``; returns
    ``(id_a, id_b, n_inter, n_a, n_b, c_ab, c_ba)`` with id_a < id_b.

    Scale shape: shingles key on the first 15 md5 hex digits as a
    60-bit integer (the temperature_sample / hash_sample family —
    cross-engine-exact, and the inverted-index self-join shuffles
    8-byte keys instead of shingle text; collision odds ~n²/2⁶¹ are
    negligible and the same for every engine).  The join is the
    inverted index on the shingle key — never an all-pairs cross
    join; ``df_cap`` drops shingles appearing in more than that many
    docs BEFORE the join (the stop-gram guard every containment
    pipeline needs — a corpus-wide boilerplate shingle would
    otherwise fan out |df|² pair rows).  Set sizes are computed
    AFTER the cap so both containment denominators live in the same
    capped shingle space (the metric stays internally consistent).
    One shingle pass (the ``shingle_rows`` spread), one hash-agg per
    doc for sizes, one key equi-join with map-side-combined pair
    counts."""
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1]: {threshold}")
    # The (id, h) distinct SUBSUMES shingle_rows' text-level distinct
    # (h is a function of s), so take the rows non-distinct and dedup
    # once on the 8-byte key instead of twice — one dedup pass on
    # hashes instead of one on shingle TEXT plus one on keys (r15;
    # guide §2.3 narrower types).  Both distincts plan exchange-free
    # on shingle_rows' id-spread partitioning, so the plan shape is
    # unchanged; only the per-row dedup work shrinks.  (An explicit
    # repartition(h) here — to also elide the consumers' h-exchanges —
    # measured as a NON-win: the four ENSURE_REQUIREMENTS h-exchanges
    # below are canonically identical and runtime-reused into one,
    # while the repartition would shuffle the pre-dedup rows and cost
    # sizes its free id-clustering.)
    sh = shingle_rows(docs, text_col, id_col, k, distinct=False)
    key = F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10).cast("long")
    keyed = sh.select(F.col(id_col), key.alias("h")).distinct()
    if df_cap is not None:
        hot = (
            keyed.groupBy("h")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > df_cap)
            .select("h")
        )
        keyed = keyed.join(hot, "h", "left_anti")
    # NOTE (r14 optimization round, negative result): eager-localCheckpoint-ing
    # the capped key set here — to share one shingle pass across the four
    # consumers (sizes, both self-join sides, stop-gram census) — MEASURED
    # SLOWER (2.0 -> 2.4 s warm at sf0.1, build 0.6 -> 8.2 s): the static
    # plan shows 8 scans, but AQE's runtime stage reuse already dedupes the
    # distinct exchange across consumers, while the checkpoint job itself
    # materializes WITHOUT adaptive execution.  Left as the AQE-reused shape.
    sizes = keyed.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_sh")
    )
    a = keyed.select(F.col(id_col).alias("id_a"), "h")
    b = keyed.select(F.col(id_col).alias("id_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    out = (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"),
                         F.col("n_sh").alias("n_a")), "id_a"
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"),
                         F.col("n_sh").alias("n_b")), "id_b"
        )
        .withColumn(
            "c_ab",
            F.round(F.col("n_inter").cast("double")
                    / F.col("n_a").cast("double"), 6),
        )
        .withColumn(
            "c_ba",
            F.round(F.col("n_inter").cast("double")
                    / F.col("n_b").cast("double"), 6),
        )
    )
    return out.filter(
        F.greatest(F.col("c_ab"), F.col("c_ba")) >= threshold
    ).select("id_a", "id_b", "n_inter", "n_a", "n_b", "c_ab", "c_ba")


def simhash(text: Column, bits: int = 32, shingle_k: int = 3) -> Column:
    """SimHash: per-bit majority vote over shingle hashes, packed into a
    long. bit_b(doc) = 1 iff sum over shingles of ±1 (sign of hash bit
    b) is positive. Pure array aggregation — no UDF."""
    sh = F.array_distinct(word_shingles(text, shingle_k))
    hashes = F.transform(sh, lambda s: shingle_hash(s, 0))
    # per-shingle ±1 bit vector (bit positions unrolled at plan-build
    # time, so shift amounts are literals inside codegen)
    bitvecs = F.transform(
        hashes,
        lambda h: F.array(
            *[(F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).cast("long") for b in range(bits)]
        ),
    )
    # counters[b] = sum of ±1 across shingle hashes
    counters = F.aggregate(
        bitvecs,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, bv: F.zip_with(acc, bv, lambda a, x: a + x),
    )
    packed = F.lit(0).cast("long")
    for b in range(bits):
        packed = packed + F.when(F.element_at(counters, b + 1) > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return packed


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32, shingle_k: int = 3
) -> DataFrame:
    """Exploded-aggregate formulation (preferred at scale): one hash
    per DISTINCT shingle row (the majority vote counts each shingle
    once), then ``bits`` codegen'd sum-aggregates with map-side
    partial aggregation — no interpreted array HOFs in the hot path
    (cf. minhash_candidate_pairs rationale)."""
    rows = shingle_rows(docs, text_col, id_col, shingle_k, distinct=True)
    hashed = rows.select(F.col(id_col), shingle_hash(F.col("s"), 0).alias("h"))
    counters = hashed.groupBy(id_col).agg(
        *[
            F.sum((F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")).alias(f"c{b}")
            for b in range(bits)
        ]
    )
    packed = F.lit(0).cast("long")
    for b in range(bits):
        packed = packed + F.when(F.col(f"c{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return counters.select(F.col(id_col), packed.alias("simhash"))


class FingerprintRegistry:
    """Append-only fingerprint registry for incremental corpus dedup —
    the state a crawl pipeline keeps between batches so arriving
    documents dedup against ALL history, not just their own batch.

    Append-only is the at-scale choice: admitting a batch writes only
    the batch's new fingerprints (no rewrite of history), and the
    history side of the anti-join is a parquet scan that prunes to the
    (fp, keeper) columns.

    ``n_buckets > 0`` adds the 100 TB layout: the registry partitions
    by a digest-prefix bucket (first 3 hex chars of the md5, folded to
    ``n_buckets`` directories), and a batch's membership probe prunes
    the history scan to the buckets the batch actually touches
    (PartitionFilters at the source). Admission cost then scales with
    ``min(batch buckets, n_buckets)/n_buckets`` of history — i.e. with
    BATCH size while batches are smaller than the bucket count — not
    with total history; size ``n_buckets`` a few times the typical
    batch fingerprint count (tools/registry_probe.py measures this).
    ``n_buckets = 0`` keeps the flat single-directory layout."""

    #: membership probes collect at most this many distinct batch
    #: fingerprints to push an ``In(fp)`` predicate into the history
    #: scan (row-group skipping INSIDE touched buckets — see
    #: ``known``); larger batches fall back to bucket pruning alone
    PROBE_FP_LIMIT = 4096

    def __init__(
        self,
        spark,
        path: str,
        n_buckets: int = 0,
        tune_in_pushdown: bool = True,
    ):
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        if n_buckets and tune_in_pushdown:
            # SESSION-WIDE, DELIBERATE, and flag-controlled: Spark
            # pushes an In predicate to parquet only while the value
            # count is under this threshold (above it the filter
            # degrades to a [min,max] range — useless for uniformly
            # distributed digests), and the conf is read at SCAN
            # execution time, after known() has returned its lazy
            # frame — so a try/finally around plan construction cannot
            # scope it. Raising it (never lowering) makes the
            # fp-sorted row groups compact() writes actually skip;
            # other scans only see larger In-pushdowns, a sorted-array
            # row-group check. Pass tune_in_pushdown=False to leave
            # the session untouched and manage the conf yourself.
            cur = int(
                spark.conf.get(
                    "spark.sql.parquet.pushdown.inFilterThreshold", "10"
                )
            )
            if cur < self.PROBE_FP_LIMIT:
                spark.conf.set(
                    "spark.sql.parquet.pushdown.inFilterThreshold",
                    str(self.PROBE_FP_LIMIT),
                )

    def _bucket(self, col: Column) -> Column:
        # digest prefix, not a rehash: human-inspectable directories
        # (bucket=0x000..0xfff folded) and any engine can recompute it
        return F.pmod(
            F.conv(F.substring(col, 1, 3), 16, 10).cast("long"), F.lit(self.n_buckets)
        ).cast("int")

    def known(self, touching: DataFrame | None = None) -> DataFrame | None:
        """History fingerprints; with ``touching`` (a frame carrying a
        ``fp`` column — the current batch), a bucketed registry prunes
        the scan to the batch's buckets. The bucket list collect is
        O(min(batch, n_buckets)) control-plane rows."""
        # Probe through Spark itself (not os.listdir) so any Hadoop
        # filesystem the session can read (hdfs://, s3a://, file:)
        # works: a missing path or an empty directory raises
        # AnalysisException, which IS the "no history yet" signal.
        from pyspark.errors import AnalysisException

        try:
            df = self.spark.read.parquet(self.path)
            df.schema  # force analysis so empty/missing paths fail here
        except AnalysisException:
            return None
        if self.n_buckets and touching is not None:
            # ONE control-plane pass collects (bucket, fp) pairs,
            # capped at PROBE_FP_LIMIT+1 rows; past the cap, fall back
            # to a buckets-only collect (the bucket list must stay
            # COMPLETE — a truncated one would silently hide history).
            pairs = (
                touching.select(
                    self._bucket(F.col("fp")).alias("b"), "fp"
                )
                .distinct()
                .limit(self.PROBE_FP_LIMIT + 1)
                .collect()
            )
            if len(pairs) <= self.PROBE_FP_LIMIT:
                buckets = sorted({r["b"] for r in pairs})
            else:
                buckets = [
                    r[0]
                    for r in touching.select(
                        self._bucket(F.col("fp")).alias("b")
                    )
                    .distinct()
                    .collect()
                ]
            df = df.filter(F.col("bucket").isin(buckets))
            # second pruning level: push the batch's own fingerprints
            # as an In predicate so parquet row-group stats skip
            # INSIDE the touched buckets (compact() writes each bucket
            # fp-SORTED, so a row group covers a narrow contiguous fp
            # range and a probe decodes ~1 group per batch fp instead
            # of the whole bucket). Membership semantics are
            # preserved: callers anti-join/semi-join on fp, and
            # history ∩ batch is exactly what the filter keeps. Past
            # the cap the probe is bucket-dominated anyway and the
            # fp filter is skipped.
            if len(pairs) <= self.PROBE_FP_LIMIT:
                df = df.filter(
                    F.col("fp").isin([r["fp"] for r in pairs])
                )
        return df

    def compact(self, write_options: dict | None = None) -> int:
        """Rewrite the registry so every bucket holds ONE file,
        fp-SORTED (row-group stats then skip inside buckets — see
        ``known``).  ``write_options`` passes parquet writer options
        through — most usefully ``parquet.block.size`` to match the
        row-group grain to the probe workload (a row group is the
        skip granularity: smaller groups skip more precisely, at more
        footer-stats overhead).

        Each admission appends one file per touched bucket, so after B
        batches a bucket lists B files — compaction bounds the
        file-listing cost of ``known()`` between crawls.  The rewrite
        goes to a sibling directory and swaps in via two Hadoop
        FileSystem renames (works on any scheme the session can
        write).  Single-writer, like admission itself: run it between
        batches, never concurrently with one — and a crash between
        the two renames leaves the data under ``<path>__old`` for
        manual recovery (the transactional answer at 100 TB is a
        table format with a transaction log, Delta or Iceberg).  Returns the
        pre-compaction file count."""
        df = self.known()
        if df is None:
            return 0
        n_before = len(df.inputFiles())
        tmp = self.path.rstrip("/") + "__compacting"
        if self.n_buckets:
            # fp-SORTED within each bucket: every parquet row group
            # then covers a narrow contiguous fp range, so known()'s
            # pushed In(fp) probe skips row groups inside touched
            # buckets — the scan decodes ~1 group per batch fp, not
            # the whole bucket (tools/registry_probe.py measures it)
            w = (
                df.repartition(F.col("bucket"))
                .sortWithinPartitions("bucket", "fp")
                .write.mode("overwrite")
            )
            for k, v in (write_options or {}).items():
                w = w.option(k, v)
            w.partitionBy("bucket").parquet(tmp)
        else:
            w = df.sortWithinPartitions("fp").write.mode("overwrite")
            for k, v in (write_options or {}).items():
                w = w.option(k, v)
            w.parquet(tmp)
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        HPath = jvm.org.apache.hadoop.fs.Path
        fs = HPath(self.path).getFileSystem(conf)
        old = HPath(self.path.rstrip("/") + "__old")
        if fs.exists(old):
            fs.delete(old, True)
        fs.rename(HPath(self.path), old)
        fs.rename(HPath(tmp), HPath(self.path))
        fs.delete(old, True)
        return n_before

    def admit(self, fps: DataFrame) -> None:
        if self.n_buckets:
            # repartition on the bucket BEFORE partitionBy: without it
            # every write task emits a file into every bucket directory
            # it sees (tasks x buckets small files per admission); with
            # it each bucket lands in exactly one task -> one file per
            # bucket per batch, and the directory count stays the
            # file-listing bound instead of growing per task
            (
                fps.withColumn("bucket", self._bucket(F.col("fp")))
                .repartition(F.col("bucket"))
                .write.mode("append")
                .partitionBy("bucket")
                .parquet(self.path)
            )
        else:
            fps.write.mode("append").parquet(self.path)


def incremental_dedup_batch(
    registry: FingerprintRegistry,
    batch_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ids_only: bool = False,
) -> DataFrame:
    """Admit one batch into an incrementally deduplicated corpus:
    returns the batch rows that survive (canonical fingerprint unseen
    in ALL prior batches; within the batch the min id wins) and
    registers their fingerprints. Because batches are admitted in
    order, the surviving occupant of every fingerprint across a run
    equals the global keep-min dedup of the concatenated corpus —
    the invariant the oracle checks.

    Plan per batch: fingerprint (narrow) → within-batch keep-min
    (one digest-keyed shuffle) → anti-join history on the digest.
    Only (digest, id) pairs ever shuffle; history text is never read.

    ``ids_only=True`` returns just the surviving ``id_col`` frame —
    the survivor set is already pinned by the admission checkpoint, so
    a caller that only needs the ids (manifest writes, audit counts)
    skips the semi-join job back through the batch scan entirely
    (guide §2.2: don't re-derive what an exchange already carries).
    The id SET is identical to the default frame's.
    """
    fp = fingerprint(F.col(text_col))
    in_batch = (
        batch_docs.select(fp.alias("fp"), F.col(id_col).alias("_id"))
        .groupBy("fp")
        .agg(F.min("_id").alias(id_col))
    )
    seen = registry.known(touching=in_batch)
    fresh = in_batch if seen is None else in_batch.join(seen.select("fp"), "fp", "left_anti")
    # Materialize the survivors BEFORE admitting them: admit() appends
    # to the very path the anti-join above reads, so a lazy `fresh`
    # re-evaluated after the write (file-index refresh, cache
    # invalidation, plan re-resolution) would anti-join away its own
    # just-admitted fingerprints and silently return an empty frame.
    # localCheckpoint(eager=True) pins the survivor set — O(batch new
    # fingerprints), tiny relative to the batch text.
    admitted = fresh.select("fp", id_col).localCheckpoint(eager=True)
    registry.admit(admitted)
    keep_ids = admitted.select(id_col)
    if ids_only:
        return keep_ids
    return batch_docs.join(keep_ids, id_col, "left_semi")


def incremental_near_dup_batch(
    registry: FingerprintRegistry,
    batch_docs: DataFrame,
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    ids_only: bool = False,
) -> DataFrame:
    """Admit one batch into an incrementally NEAR-deduplicated corpus:
    first-writer-claims-the-band, the parallel-safe crawl rule.

    A batch document survives iff every one of its MinHash band keys
    is unclaimed — absent from the registry (claimed by no earlier
    batch) and held by no smaller id within the batch.  ALL fresh
    band claims are admitted (claims, not survivor fingerprints), so
    across ordered batches a document survives iff it is the
    admission-order arg-min holder of every band it carries over the
    whole corpus — a closed-form invariant the oracle checks without
    replaying batches.  This is deliberately PESSIMISTIC versus
    chain-transitive near-dup clustering (a doc can lose to a claimant
    that itself lost) — deterministic, one pass per batch, no
    iteration; the batch-mode :func:`near_dup_clusters` is the
    transitive answer when the corpus is static.

    Plan per batch: signature/banding (the shared
    :func:`minhash_band_rows` stage) → ONE band-key exchange carrying
    the within-batch min-id claim (window min, no self-join) and the
    registry membership flag (left join on the band key, the same
    partitioning — exchange reused) → one eager checkpoint of the
    verdict-flagged band rows, from which BOTH consumers read without
    recomputing the signature stage: the survivor set (per-doc
    any-loser aggregate) and the fresh claims the registry admits
    (rows where the doc IS the claim holder and the band is
    unregistered).  Before the r14 optimization round this was a
    claims self-join + two loser joins + union + distinct, and —
    because the keep checkpoint and the admit write are separate
    actions with no cross-job reuse — the whole MinHash stage
    executed twice per batch.  Verdicts are pointwise identical
    (min-over-band and membership are the same predicates), so
    survivor sets and admitted claims are unchanged.  Only
    (band-key, id) pairs shuffle; history text is never read.

    ``ids_only=True`` returns just the surviving ``id_col`` frame —
    the verdicts are already pinned by the eager checkpoint, so a
    caller that only needs the ids skips the semi-join job back
    through the batch scan entirely (guide §2.2; the same knob as
    :func:`incremental_dedup_batch`).  The id SET is identical to the
    default frame's (``keep``'s ids are a subset of the batch's by
    construction).
    """
    bands = minhash_band_rows(
        batch_docs, text_col, id_col, num_hashes, num_bands, shingle_k
    ).select(F.col("band").alias("fp"), F.col(id_col))
    seen = registry.known(touching=bands)
    w = Window.partitionBy("fp")
    flagged = bands.withColumn("_claim", F.min(id_col).over(w))
    if seen is None:
        flagged = flagged.withColumn("_prior", F.lit(False))
    else:
        prior = seen.select("fp").distinct().withColumn("_p", F.lit(True))
        flagged = flagged.join(prior, "fp", "left").withColumn(
            "_prior", F.coalesce(F.col("_p"), F.lit(False))
        )
    # ONE materialization (eager checkpoint) of the verdict rows —
    # O(num_bands x batch) narrow columns — shared by the keep
    # derivation, the admit write, and the returned semi-join; also
    # pins the survivor set BEFORE admit(), which appends to the very
    # path the membership flag was read from (same re-read hazard as
    # incremental_dedup_batch).
    flagged = flagged.select(
        "fp", F.col(id_col), "_claim", "_prior"
    ).localCheckpoint(eager=True)
    keep = (
        flagged.groupBy(id_col)
        .agg(
            F.max(
                (F.col("_claim") != F.col(id_col)) | F.col("_prior")
            ).alias("_loser")
        )
        .filter(~F.col("_loser"))
        .select(id_col)
    )
    fresh_claims = (
        flagged.filter((F.col("_claim") == F.col(id_col)) & ~F.col("_prior"))
        .select("fp", id_col)
    )
    registry.admit(fresh_claims)
    if ids_only:
        return keep
    return batch_docs.join(keep, id_col, "left_semi")
