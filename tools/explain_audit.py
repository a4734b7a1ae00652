"""Physical-plan audit: assert the plans have the shape they must have
at 100 TB — filters pushed to the parquet scan, columns pruned,
dimension joins broadcast, codegen in the hot path.

    python tools/explain_audit.py [sf_dir]

Prints PASS/FAIL per assertion and each audited plan on failure.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from monstache_spark.session import get_spark


def plan_of(df) -> str:
    # execute first so AQE finalizes; '*' node markers == codegen'd
    df.collect()
    full = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    # keep the final-plan tree + node details, drop the initial-plan tree
    head, _, rest = full.partition("== Initial Plan ==")
    details = rest.partition("\n\n")[2] if rest else ""
    return head + details


CHECKS = [
    # (query, description, predicate over formatted plan text)
    (
        "q1_pricing_summary",
        "shipdate filter pushed to lineitem scan",
        lambda p: re.search(r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", p),
    ),
    (
        "q1_pricing_summary",
        "column pruning: scan reads only needed lineitem columns",
        lambda p: "l_comment" not in p and "l_shipmode" not in p,
    ),
    (
        "q3_top_orders",
        "customer dim side broadcast",
        lambda p: "BroadcastHashJoin" in p,
    ),
    (
        "q3_top_orders",
        "top-10 executes as TakeOrderedAndProject (no global sort)",
        lambda p: "TakeOrderedAndProject" in p,
    ),
    (
        "relate_orders_customer",
        "relate join broadcasts the target collection",
        lambda p: "BroadcastHashJoin" in p,
    ),
    (
        "cdc_materialize",
        "materialize is a codegen hash agg: partial+final, ONE exchange, no sort",
        lambda p: p.count("Exchange (") == 1
        and "* HashAggregate" in p
        and "SortAggregate" not in p,
    ),
    (
        "ns_include_filter",
        "namespace filters fused into the scan stage as one codegen filter",
        lambda p: "* Filter" in p and "SortAggregate" not in p,
    ),
    (
        "customers_without_orders",
        "anti join broadcasts when the build side is small",
        lambda p: "BroadcastHashJoin" in p and "LeftAnti" in p,
    ),
    (
        "dedup_exact_clusters",
        "documents scan prunes to (doc_id, text)",
        lambda p: "lang" not in p and "n_chars" not in p,
    ),
    (
        "minhash_pairs",
        "shingle pipeline is hash-agg/codegen throughout (no sort agg)",
        lambda p: "* HashAggregate" in p and "SortAggregate" not in p,
    ),
    (
        "embedding_near_dup",
        "near-dup candidates come from a bucket equi-join, not a cross join",
        lambda p: "CartesianProduct" not in p and "HashJoin" in p,
    ),
    (
        "ivf_ann_topk",
        "IVF centroid assignment broadcasts the centroid set",
        lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p,
    ),
    (
        "drop_propagation",
        "drop list broadcasts; the stream never shuffles for the drop joins",
        lambda p: "BroadcastHashJoin" in p,
    ),
    (
        "merge_patch_json",
        "RFC-7386 patches: ONE window exchange, the diff UDF is Arrow-batched",
        lambda p: p.count("Exchange (") == 1 and "ArrowEvalPython" in p,
    ),
    (
        "ann_lsh_multiprobe",
        "multi-probe stays a broadcast bucket equi-join (no cross join)",
        lambda p: "BroadcastHashJoin" in p and "CartesianProduct" not in p,
    ),
    (
        "lsh_bucket_stats",
        "bucket census is hash-agg end-to-end (no sort agg)",
        lambda p: "* HashAggregate" in p and "SortAggregate" not in p,
    ),
    (
        "pii_redact",
        "PII redaction is one codegen'd projection: no shuffle, no Python",
        lambda p: "Exchange (" not in p and "Python" not in p,
    ),
    (
        "decontaminate",
        "benchmark gram set broadcasts; the corpus side never shuffles for the join",
        lambda p: "BroadcastHashJoin" in p,
    ),
    (
        "boilerplate_ngrams",
        "boilerplate census is hash-agg on fixed-width gram hashes (no sort agg)",
        lambda p: "* HashAggregate" in p and "SortAggregate" not in p,
    ),
    (
        "repetition_stats",
        "per-doc repetition reduces map-side: partial hash agg before the exchange",
        lambda p: "* HashAggregate" in p and "SortAggregate" not in p,
    ),
    (
        "stratified_sample",
        "stratified sampling is a pure narrow scan+filter (no shuffle at all)",
        lambda p: "Exchange (" not in p,
    ),
    (
        "span_dedup_rewrite",
        "span-dedup census is hash-agg on a packed BIGINT keeper (no sort agg)",
        lambda p: "SortAggregate" not in p,
    ),
    (
        "winnow_fingerprints",
        "clone-collapsed winnowing (r11): distinct-text agg + explicit "
        "spread are the only exchanges before the join-back; the "
        "per-class window and fps agg reuse the spread partitioning; "
        "ONE Generate (grams hash once per distinct text); no sort agg",
        lambda p: p.count("Exchange (") <= 3
        and p.count("Generate (") == 1
        and "SortAggregate" not in p
        and "CartesianProduct" not in p,
    ),
    (
        "domain_cap",
        "per-domain cap: both rank stages reuse ONE exchange (salted "
        "window partitioning subsumes the domain window's)",
        lambda p: p.count("Exchange (") <= 2 and "CartesianProduct" not in p,
    ),
    (
        "quality_classifier",
        "hashed-linear scoring is a hash aggregate with map-side "
        "partial combine (no sort agg, no Python)",
        lambda p: "* HashAggregate" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "dedup_keep_best",
        "quality keeper: packed-BIGINT arg-max keeps the whole "
        "aggregate a hash aggregate (no sort agg)",
        lambda p: "* HashAggregate" in p and "SortAggregate" not in p,
    ),
    (
        "chunk_documents",
        "chunking is a narrow per-row transform: no exchange, no Python",
        lambda p: "Exchange (" not in p and "Python" not in p,
    ),
    (
        "token_budget_sample",
        "token-budget slice: the two-pass distributed prefix sum — no "
        "single-partition exchange anywhere (the global-order cumsum "
        "decomposes over range buckets), offsets broadcast back",
        lambda p: "SinglePartition" not in p
        and "BroadcastHashJoin" in p
        and "CartesianProduct" not in p,
    ),
    (
        "train_val_test_split",
        "leakage-safe split assignment is a pure narrow projection "
        "(hash-cut per row: no exchange, no Python, codegen end to end)",
        lambda p: "Exchange (" not in p and "Python" not in p,
    ),
    (
        "fuzzy_decontaminate",
        "benchmark band-key set broadcasts; no sort agg anywhere",
        lambda p: "BroadcastHashJoin" in p and "SortAggregate" not in p,
    ),
    (
        "quality_top_fraction",
        "per-stratum quota joins broadcast; no cartesian product",
        lambda p: "BroadcastHashJoin" in p and "CartesianProduct" not in p,
    ),
    (
        "pq_ann_topk",
        "PQ: codebooks/LUT broadcast, codes join is an equi-join "
        "(no cartesian), no sort agg",
        lambda p: "CartesianProduct" not in p and "SortAggregate" not in p,
    ),
    (
        "ivfpq_ann_topk",
        "IVF-PQ refine: candidate restriction and LUT joins stay "
        "equi/broadcast joins (no cartesian beyond the broadcast "
        "centroid assignment)",
        lambda p: "CartesianProduct" not in p,
    ),
    (
        "simhash_near_dup",
        "simhash pairing: one band-key shuffle, verification rides "
        "in the bucket (no second join against signatures)",
        lambda p: "CartesianProduct" not in p and "SortMergeJoin" not in p,
    ),
    (
        "bigram_lm_quality",
        "bigram LM: model broadcasts back into scoring; hash aggs "
        "throughout, no Python, no sort agg",
        lambda p: "BroadcastHashJoin" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "simhash_bucket_stats",
        "simhash census: hash-agg count per band then a one-row "
        "reduce (no sort agg, no Python)",
        lambda p: "SortAggregate" not in p and "Python" not in p,
    ),
    (
        "semantic_dedup",
        "semantic dedup: no cartesian (nested-loop joins are all the "
        "broadcast centroid cross), losers anti-join, and the repeated "
        "cell-assignment branches execute ONCE via ReusedExchange",
        lambda p: "LeftAnti" in p
        and "CartesianProduct" not in p
        and "ReusedExchange" in p,
    ),
    (
        "gopher_quality",
        "Gopher signals: one narrow codegen projection — no exchange, "
        "no Python, no aggregate",
        lambda p: "Exchange" not in p
        and "Python" not in p
        and "Aggregate" not in p,
    ),
    (
        "bm25_search",
        "BM25: top-k is TakeOrderedAndProject, stats broadcast, no "
        "sort agg, no Python",
        lambda p: "TakeOrderedAndProject" in p
        and "BroadcastHashJoin" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_bool_filter",
        "bool query: compiled predicate reaches the parquet scan "
        "(price range + status pushed)",
        lambda p: re.search(r"PushedFilters: \[.*o_totalprice", p)
        and "Exchange" not in p,
    ),
    (
        "dsir_importance",
        "DSIR: final rank is a range-bucketed parallel window — no "
        "single-partition window, no sort agg, no Python",
        lambda p: "SortAggregate" not in p
        and "Python" not in p
        and "SinglePartition" not in p,
    ),
    (
        "es_terms_agg",
        "ES terms agg: codegen hash agg (2 exchanges: group + distinct "
        "cardinality), size via TakeOrderedAndProject, no window, no Python",
        lambda p: p.count("Exchange hashpartitioning") <= 2
        and "TakeOrderedAndProject" in p
        and "Window" not in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_date_histogram_agg",
        "nested ES bucket tree flattens to ONE grouping exchange — no "
        "per-level shuffle",
        lambda p: p.count("Exchange hashpartitioning") <= 2  # agg + window rank
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_range_agg",
        "ES range agg: scan reads only the range field (column pruning "
        "through the explode), hash agg, no Python",
        lambda p: "o_comment" not in p
        and "o_orderdate" not in p
        and "HashAggregate" in p
        and "Python" not in p,
    ),
    (
        "es_composite_agg",
        "ES composite page: hash agg + TakeOrderedAndProject, and the "
        "after-cursor's leading-key bound reaches the scan as a "
        "PushedFilter (deep pages shrink BEFORE the agg)",
        lambda p: "TakeOrderedAndProject" in p
        and "SortAggregate" not in p
        and "Python" not in p
        and re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(event_type", p),
    ),
    (
        "search_highlight",
        "highlighting is one codegen projection over the scan: no "
        "exchange, no Python, no aggregate",
        lambda p: "Exchange" not in p
        and "Python" not in p
        and "Aggregate" not in p,
    ),
    (
        "significant_terms",
        "significant terms: one corpus pass (fg flag rides the explode), "
        "totals broadcast, top-k via TakeOrderedAndProject, no sort agg",
        lambda p: "TakeOrderedAndProject" in p
        and "BroadcastNestedLoopJoin" in p  # one-row totals broadcast
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "collapse_topk",
        "field collapse: scored frame joins doc meta as equi-join, "
        "per-group window partitioned by collapse field (parallel), "
        "final top-k TakeOrderedAndProject",
        lambda p: "TakeOrderedAndProject" in p
        and "CartesianProduct" not in p
        and "Python" not in p,
    ),
    (
        "percolate",
        "percolation: every stored query evaluates in one projection + "
        "bounded explode — no exchange, no join, no Python",
        lambda p: "Exchange" not in p
        and "Join" not in p
        and "Python" not in p,
    ),
    (
        "fuzzy_suggest",
        "fuzzy suggest: query deletion keys broadcast into the vocab "
        "key equi-join — no cartesian, no all-pairs levenshtein, no Python",
        lambda p: "BroadcastHashJoin" in p
        and "CartesianProduct" not in p
        and "Python" not in p,
    ),
    (
        "hybrid_rrf_topk",
        "hybrid RRF: both lists truncated before fusion; final top-k "
        "TakeOrderedAndProject; no Python",
        lambda p: "TakeOrderedAndProject" in p
        and "CartesianProduct" not in p
        and "Python" not in p,
    ),
    (
        "rank_eval",
        "rank eval: one corpus token pass shared across queries "
        "(broadcast (query,term) attribution), no sort agg, no Python",
        lambda p: "BroadcastHashJoin" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "match_phrase_slop",
        "sloppy phrase: nested array-exists predicate is a narrow "
        "filter over the scan — no exchange, no join, no Python",
        lambda p: "Exchange" not in p
        and "Join" not in p
        and "Python" not in p,
    ),
    (
        "es_sibling_aggs",
        "sibling aggs: union of independent hash-agg branches (each "
        "with its own pruned scan), terms size via TakeOrdered, no "
        "sort agg, no Python",
        lambda p: "Union" in p
        and "TakeOrderedAndProject" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "fuzzy_suggest_dl",
        "DL fuzzy suggest: swap-exists verify stays a per-candidate "
        "expression on the broadcast equi-join — no cartesian, no Python",
        lambda p: "BroadcastHashJoin" in p
        and "CartesianProduct" not in p
        and "Python" not in p,
    ),
    (
        "percolate_indexed",
        "indexed percolation: anchor-term index BROADCASTs into the "
        "candidate equi-join, groups verify over left-semi-restricted "
        "docs — no cartesian, no Python",
        lambda p: "BroadcastHashJoin" in p
        and "LeftSemi" in p
        and "CartesianProduct" not in p
        and "Python" not in p,
    ),
    (
        "es_rare_terms",
        "rare_terms: one hash agg + post-agg filter on bucket totals "
        "— no second corpus pass, no sort agg, no Python",
        lambda p: "HashAggregate" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_multi_terms",
        "multi_terms: compound key is a codegen projection; size via "
        "TakeOrderedAndProject, no sort agg, no Python",
        lambda p: "TakeOrderedAndProject" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_bucket_script",
        "bucket_script/selector: bucket-cardinality projections after "
        "ONE corpus aggregation (one grouping exchange, no Python)",
        lambda p: p.count("Exchange hashpartitioning") <= 1
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "completion_suggest",
        "completion suggester: vocab hash agg, prefixes broadcast "
        "(no cartesian fallback to shuffle), no Python",
        lambda p: ("BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p)
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_adjacency_matrix",
        "adjacency matrix: one projection + bounded explode + a "
        "distinct-id hash agg pair (2 exchanges: (key,id) dedup then "
        "key count) — corpus touched once for all filter pairs, no join",
        lambda p: p.count("Exchange hashpartitioning") <= 2
        and "Join" not in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_nested_query",
        "nested query: per-element exists is a plain predicate Filter "
        "(no explode of the array, no Python); the status term pushes "
        "to the orders scan",
        lambda p: re.search(r"PushedFilters: \[.*EqualTo\(o_orderstatus", p)
        and "Generate" not in p
        and "Python" not in p,
    ),
    (
        "es_nested_agg",
        "nested agg: parent filter BEFORE the explode (the generate "
        "sees filtered rows only), then one hash agg — no sort agg, "
        "no Python",
        lambda p: re.search(r"PushedFilters: \[.*EqualTo\(o_orderstatus", p)
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "match_phrase_slop_swap",
        "transposed slop: still ONE Column predicate — no explode, no "
        "join, no Python",
        lambda p: "Generate" not in p
        and "Join" not in p
        and "Python" not in p,
    ),
    (
        "bm25_search_analyzed",
        "analyzed BM25: the analyzer chain is a codegen projection on "
        "the exploded tokens (no Python UDF), stats still broadcast, "
        "top-k still TakeOrderedAndProject",
        lambda p: "Python" not in p
        and "TakeOrderedAndProject" in p
        and "BroadcastHashJoin" in p,
    ),
    (
        "bm25_search_porter",
        "Porter BM25: the stem cascade runs ONCE — dl/df/stats read "
        "the (id, term, cnt) frame through ReusedExchange instead of "
        "re-stemming the corpus, and the tokenizing explode is spread "
        "to full shuffle width before the cascade (final tree: at most "
        "2 Generate nodes — the stem pass + the literal query terms)",
        lambda p: p.split("\n\n")[0].count("ReusedExchange") >= 2
        and len(re.findall(r"Generate \(\d+\)", p.split("\n\n")[0])) <= 2
        and "Python" not in p,
    ),
    (
        "hamming_knn_topk",
        "bit-vector kNN: sign-mask packing + xor/popcount are pure "
        "expressions (no Generate, no Python), query row broadcast, "
        "top-k a TakeOrderedAndProject",
        lambda p: "Python" not in p
        and "TakeOrderedAndProject" in p
        and "SortAggregate" not in p,
    ),
    (
        "int8_quantize_codes",
        "int8 quantization: ONE corpus hash agg for the per-dim "
        "min/max (broadcast 1-row), codes a codegen projection — "
        "no Python, no sort agg",
        lambda p: "Python" not in p
        and "HashAggregate" in p
        and "SortAggregate" not in p,
    ),
    (
        "es_rank_vectors_inv_hamming",
        "bit rank-vectors maxSimInvHamming: Q xor/popcount "
        "similarities in one codegen projection, per-query maxes in "
        "ONE hash agg, top-k a TakeOrderedAndProject — no Python, no "
        "join, no sort agg",
        lambda p: "Python" not in p
        and "TakeOrderedAndProject" in p
        and "HashAggregate" in p
        and "SortAggregate" not in p
        and "SortMergeJoin" not in p,
    ),
    (
        "es_knn_similarity_cutoff",
        "knn similarity threshold: ONE corpus scan, the cutoff an "
        "extra codegen predicate — no join beyond the control-plane "
        "query fetch, no Python, top-k a TakeOrderedAndProject",
        lambda p: "Python" not in p
        and "TakeOrderedAndProject" in p
        and "SortMergeJoin" not in p
        and "CartesianProduct" not in p,
    ),
    (
        "es_retriever_linear",
        "linear retriever node: every child window truncated BEFORE "
        "fusion (TakeOrderedAndProject), minmax normalization a "
        "global WINDOW over the truncated frame (one consumption of "
        "each child's scoring subtree — the agg+crossJoin form "
        "re-executed it per consumer), no Python (the full-outer "
        "fuse may plan as a sort-merge join, but over already-"
        "truncated window-sized frames, same as the rrf node; the "
        "remaining cross join is the knn child's 1-row query fetch)",
        lambda p: "Python" not in p
        and "TakeOrderedAndProject" in p
        and "Window" in p
        and "BroadcastNestedLoopJoin Cross" in p,
    ),
    (
        "es_retriever_pinned",
        "pinned retriever node: pin list is a broadcast literal "
        "explode (no shuffle for the pin joins), child window "
        "truncated, no Python",
        lambda p: "Python" not in p
        and "BroadcastHashJoin" in p
        and "TakeOrderedAndProject" in p,
    ),
    (
        "es_retriever_rrf",
        "retriever tree: every leaf truncated before fusion "
        "(TakeOrderedAndProject present), no Python anywhere",
        lambda p: "Python" not in p and "TakeOrderedAndProject" in p,
    ),
    (
        "es_esql_inlinestats",
        "ES|QL INLINESTATS: ONE window aggregate on the BY keys (no "
        "self-join back), WHERE reaches the parquet scan",
        lambda p: "Window" in p
        and "PushedFilters: [" in p
        and "o_orderstatus" in p.split("PushedFilters")[1][:200]
        and "Python" not in p,
    ),
    (
        "es_knn_filtered",
        "filtered knn: the PRE-filter reaches the parquet scan as a "
        "pushed predicate (label), no Python, top-k rank-limited "
        "(WindowGroupLimit — Spark's rank-limit pushdown for the "
        "per-query window)",
        lambda p: "Python" not in p
        and ("WindowGroupLimit" in p or "TakeOrderedAndProject" in p)
        and "In(label" in p,
    ),
    (
        "es_text_sim_reranker",
        "text_similarity_reranker: the vector frame is semi-"
        "restricted by the BROADCAST child window before any dot "
        "product (BroadcastHashJoin, no SortMergeJoin, no cartesian), "
        "maxSim collapses in a hash agg, no Python",
        lambda p: "Python" not in p
        and "BroadcastHashJoin" in p
        and "SortMergeJoin" not in p
        and "CartesianProduct" not in p
        and "HashAggregate" in p,
    ),
    (
        "es_esql_match",
        "ES|QL MATCH(): the full-text predicate compiles to a codegen "
        "arrays_overlap against literal tokens inside the scan stage — "
        "no Python, no join, ONE hash agg for the STATS",
        lambda p: "Python" not in p
        and "Join" not in p
        and "HashAggregate" in p
        and "SortAggregate" not in p,
    ),
    (
        "es_esql_qstr",
        "ES|QL QSTR(): the Lucene tree compiles to codegen predicates "
        "and the SQL conjunct still reaches the parquet scan "
        "(PushedFilters on n_chars) — no Python, ONE hash agg",
        lambda p: "Python" not in p
        and "HashAggregate" in p
        and "PushedFilters" in p
        and "n_chars" in p.split("PushedFilters")[1][:300],
    ),
    (
        "es_eql_sample",
        "EQL sample: per-filter earliest pick is a hash agg over the "
        "packed decimal (no sort agg, no Python), key joins stay "
        "equi-joins (no cartesian)",
        lambda p: "Python" not in p
        and "SortAggregate" not in p
        and "CartesianProduct" not in p
        and "HashAggregate" in p,
    ),
    (
        "es_esql_bucket",
        "ES|QL BUCKET: ONE hash agg over the bucketed projection, "
        "notnull filters pushed to the scan, no Python",
        lambda p: "Python" not in p
        and "HashAggregate" in p
        and "SortAggregate" not in p
        and "PushedFilters: [IsNotNull" in p,
    ),
    (
        "geo_bbox_filter",
        "geo bbox: four exact comparisons as a codegen Filter — no "
        "Python, no join, no shuffle",
        lambda p: "Python" not in p
        and "Join" not in p
        and "Exchange" not in p,
    ),
    (
        "geo_distance_buckets",
        "geo rings: one haversine projection + CASE + ONE hash agg — "
        "no Python, no sort agg, single grouping exchange",
        lambda p: "Python" not in p
        and "SortAggregate" not in p
        and p.count("Exchange hashpartitioning") <= 1,
    ),
    (
        "geo_geohash_grid",
        "geohash grid: codegen cell projection + ONE hash agg + "
        "TakeOrderedAndProject — no Python, no join",
        lambda p: "TakeOrderedAndProject" in p
        and "SortAggregate" not in p
        and "Join" not in p
        and "Python" not in p,
    ),
    (
        "knn_join_pq",
        "kNN join scale path: packed-code SDC pairs via BROADCAST "
        "cell index (no shuffle-side skew), every aggregate hash, no "
        "Python, no cartesian",
        lambda p: "BroadcastHashJoin" in p
        and "CartesianProduct" not in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_fuzzy_query_tokens",
        "fuzzy over token field: edit work on the distinct-token vocab "
        "(hash agg) behind a deletion-key BroadcastHashJoin; corpus "
        "re-enters via LeftSemi joins — no per-row corpus levenshtein "
        "Filter, no Python, no cartesian",
        lambda p: "BroadcastHashJoin" in p
        and "LeftSemi" in p
        and "HashAggregate" in p
        and "CartesianProduct" not in p
        and "Python" not in p,
    ),
    (
        "es_fuzzy_query_routed",
        "fuzzy leaf routed via mappings: the corpus plan is ONE codegen "
        "filter over the pre-expanded term overlap — no levenshtein, no "
        "join, no Python anywhere in the scan stage",
        lambda p: "* Filter" in p
        and "arrays_overlap" in p
        and "levenshtein" not in p
        and "Join" not in p
        and "Python" not in p,
    ),
    (
        "es_diversified_sampler",
        "diversified sampler: per-value window with group limit + "
        "TakeOrderedAndProject global cut — no full sort, no Python",
        lambda p: "WindowGroupLimit" in p
        and "TakeOrderedAndProject" in p
        and "Python" not in p,
    ),
    (
        "es_serial_diff",
        "serial_diff: one grouping exchange + one bucket-cardinality "
        "window — no Python, no sort agg",
        lambda p: "SortAggregate" not in p and "Python" not in p,
    ),
    (
        "es_stats_bucket",
        "stats_bucket: hash aggs end-to-end (sibling summary is an "
        "agg over bucket rows, not a window), no Python",
        lambda p: "* HashAggregate" in p
        and "SortAggregate" not in p
        and "Window" not in p
        and "Python" not in p,
    ),
    (
        "es_top_metrics",
        "top_metrics: ONE max_by hash agg over numeric payloads — no "
        "sort agg (string payload would degrade), no window, no Python",
        lambda p: "* HashAggregate" in p
        and "SortAggregate" not in p
        and "Window" not in p
        and "Python" not in p,
    ),
    (
        "es_top_metrics_string",
        "top_metrics string sort: extremes from the hash-agg'd distinct "
        "(bucket, key) frame + bounded window, broadcast tie join, final "
        "hash agg keyed on (bucket, key) — NO SortAggregate, the corpus "
        "never sorts (the one Sort orders the post-agg distinct frame)",
        lambda p: "* HashAggregate" in p
        and "SortAggregate" not in p
        and "BroadcastHashJoin" in p
        and "WindowGroupLimit" in p
        and "Python" not in p,
    ),
    (
        "es_terms_filtered",
        "terms include/exclude: the key predicate is a codegen filter "
        "before the agg (excluded rows never shuffle), no Python",
        lambda p: "* Filter" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_date_histogram_filled",
        "gap filling: timeline generates from bucket-cardinality "
        "bounds (no second corpus scan), left join, no Python",
        lambda p: "Python" not in p and "SortAggregate" not in p,
    ),
    (
        "function_score_boost",
        "function_score: field factor joins on the id (equi-join, no "
        "cartesian), top-k TakeOrderedAndProject, no Python",
        lambda p: "TakeOrderedAndProject" in p
        and "CartesianProduct" not in p
        and "Python" not in p,
    ),
    (
        "corpus_overlap",
        "corpus overlap: membership arrays replace a grams self-join "
        "(no SortMergeJoin on gram rows), group totals broadcast, no "
        "cartesian, no Python",
        lambda p: "SortMergeJoin" not in p
        and "BroadcastHashJoin" in p
        and "CartesianProduct" not in p
        and "Python" not in p,
    ),
    (
        "es_knn_search",
        "knn search: literal query vector in ONE corpus scan — no "
        "cartesian, no second-frame join, top-k TakeOrderedAndProject, "
        "no Python",
        lambda p: "CartesianProduct" not in p
        and "TakeOrderedAndProject" in p
        and "Join" not in p
        and "Python" not in p,
    ),
    (
        "es_matrix_stats",
        "matrix_stats: ALL raw-moment sums in hash aggregates (decimal "
        "buffers), no sort aggregate, no Python",
        lambda p: "* HashAggregate" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "dpo_pairs",
        "dpo_pairs: numeric extremes hash agg + tie-join — no string in "
        "any agg buffer (no SortAggregate), no cartesian, no Python",
        lambda p: "SortAggregate" not in p
        and "CartesianProduct" not in p
        and "Python" not in p,
    ),
    (
        "es_frequent_item_sets",
        "frequent_item_sets: Apriori joins are hash equi-joins on the "
        "basket key with a broadcast singleton prune — no cartesian, "
        "no Python",
        lambda p: "CartesianProduct" not in p
        and "BroadcastHashJoin" in p
        and "Python" not in p,
    ),
    (
        "es_has_child",
        "has_child: child filter -> hash count per parent key -> "
        "parent SEMI-join (no parent-row fan-out, no cartesian, no "
        "Python)",
        lambda p: "LeftSemi" in p
        and "* HashAggregate" in p
        and "CartesianProduct" not in p
        and "Python" not in p,
    ),
    (
        "es_sparse_vector",
        "sparse_vector: literal weights frame BROADCAST into the "
        "token-tf hash agg, top-k TakeOrderedAndProject, no Python "
        "(the literal frame is a LocalRelation, not a Python RDD)",
        lambda p: "BroadcastHashJoin" in p
        and "TakeOrderedAndProject" in p
        and "Python" not in p,
    ),
    (
        "es_ip_prefix",
        "ip_prefix: one codegen projection (BIGINT mask arithmetic) "
        "+ hash agg, no sort aggregate, no Python",
        lambda p: "* HashAggregate" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "match_phrase_slop_repeat4",
        "repeated-term slop: ONE filter over the scan (the greedy "
        "matching is a HOF expression — interpreted, so outside "
        "whole-stage codegen, but fully JVM-side) — no explode, no "
        "join, no Python",
        lambda p: "Filter" in p
        and "Generate" not in p
        and "Join" not in p
        and "Python" not in p,
    ),
    (
        "es_search_after",
        "search_after: the cursor predicate PUSHES to the scan and the "
        "page is TakeOrderedAndProject — O(size) at any depth, no "
        "global sort, no window",
        lambda p: re.search(r"PushedFilters: \[.*o_totalprice", p)
        and "TakeOrderedAndProject" in p
        and "Window" not in p,
    ),
    (
        "es_geo_grid",
        "geo_grid query: one codegen filter over the scan (cell id is "
        "an expression) — no join, no explode, no Python",
        lambda p: "* Filter" in p
        and "Join" not in p
        and "Generate" not in p
        and "Python" not in p,
    ),
    (
        "es_variable_width_histogram",
        "variable_width_histogram: every aggregate a HashAggregate; "
        "the gap windows are range-partitioned (never a global "
        "single-partition corpus sort), cuts enter as literals — no "
        "cartesian, no Python",
        lambda p: "HashAggregate" in p
        and "SortAggregate" not in p
        and "CartesianProduct" not in p
        and "Python" not in p,
    ),
    (
        "es_downsample",
        "downsample rollup: gauge stats + max-ts in ONE hash agg, "
        "counter last via equi tie-join — no SortAggregate, no "
        "cartesian, no Python",
        lambda p: "* HashAggregate" in p
        and "SortAggregate" not in p
        and "CartesianProduct" not in p
        and "Python" not in p,
    ),
    (
        "wordpiece_segment_stats",
        "WordPiece MaxMatch: vocab joins BROADCAST, the greedy walk "
        "is a HOF fold (JVM-side), stats are hash aggs — no "
        "cartesian, no Python, no sort aggregate",
        lambda p: "BroadcastHashJoin" in p
        and "SortAggregate" not in p
        and "CartesianProduct" not in p
        and "Python" not in p,
    ),
    (
        "es_rank_vectors_maxsim",
        "rank_vectors maxsim: Q literal dots in one projection, "
        "per-query maxes in ONE hash agg, TakeOrderedAndProject — "
        "no join, no explode, no Python",
        lambda p: "HashAggregate" in p
        and "TakeOrderedAndProject" in p
        and "Join" not in p
        and "Generate" not in p
        and "Python" not in p,
    ),
    (
        "es_children_agg",
        "children agg: parent filter pushes to the scan, child frame "
        "SEMI-joins the key set, one hash agg — no fan-out join, no "
        "Python",
        lambda p: "LeftSemi" in p
        and "* HashAggregate" in p
        and "Python" not in p,
    ),
    (
        "es_random_sampler",
        "random_sampler: the keyed-hash sample is a pure narrow "
        "filter BEFORE the agg (no shuffle added), one hash agg",
        lambda p: "* Filter" in p
        and "* HashAggregate" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_eql_sequence",
        "EQL sequence: step filters push to the scans, every "
        "earliest-successor pick a HashAggregate over the packed "
        "decimal (no struct buffers, no sort agg, no cartesian, no "
        "Python)",
        lambda p: re.search(r"PushedFilters: \[.*event_type", p)
        and "HashAggregate" in p
        and "SortAggregate" not in p
        and "CartesianProduct" not in p
        and "Python" not in p,
    ),
    (
        "es_esql_pipeline",
        "ES|QL pipe compiles to ONE plan: the WHERE reaches the "
        "parquet scan as PushedFilters, STATS is a codegen hash agg, "
        "SORT|LIMIT is TakeOrderedAndProject — no Python anywhere",
        lambda p: re.search(r"PushedFilters: \[.*o_orderstatus", p)
        and "* HashAggregate" in p
        and "TakeOrderedAndProject" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_esql_enrich",
        "ES|QL LOOKUP JOIN broadcasts the lookup frame; DISSECT is a "
        "codegen regex projection; STATS one hash agg — no sort "
        "aggregate, no Python",
        lambda p: "BroadcastHashJoin" in p
        and "* HashAggregate" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_transform_latest",
        "transform latest: two-phase extreme + broadcast tie joins, "
        "whole-row recovery — every aggregate a HashAggregate, the "
        "corpus never sorts",
        lambda p: "BroadcastHashJoin" in p
        and "HashAggregate" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_graph_explore",
        "graph explore: seed predicate pushes to the scan, vertex "
        "lists TakeOrderedAndProject, connections semi-join the "
        "broadcast vertex sets — no cartesian, no Python",
        lambda p: re.search(r"PushedFilters: \[.*value", p)
        and "TakeOrderedAndProject" in p
        and "LeftSemi" in p
        and "CartesianProduct" not in p
        and "Python" not in p,
    ),
    (
        "es_terms_enum",
        "terms_enum: index_filter pushes to the scan, one "
        "hash-DISTINCT, TakeOrderedAndProject — never a count, never "
        "a second scan",
        lambda p: re.search(r"PushedFilters: \[.*lang", p)
        and "* HashAggregate" in p
        and "TakeOrderedAndProject" in p
        and "Python" not in p,
    ),
    (
        "es_eql_pipes",
        "EQL head/tail pipes compile to TakeOrderedAndProject "
        "(per-partition top-N heaps, never a full sort) with the "
        "event_type filter pushed to the scan",
        lambda p: "TakeOrderedAndProject" in p
        and re.search(r"PushedFilters: \[.*event_type", p)
        and "Python" not in p,
    ),
    (
        "es_ingest_pipeline",
        "ingest pipeline is map-only: ZERO exchanges (the whole "
        "processor chain is one codegen projection + filter over "
        "the scan), no Python",
        lambda p: "Exchange" not in p and "Python" not in p,
    ),
    (
        "es_esql_grok",
        "GROK extraction stays JVM-side codegen feeding one hash "
        "agg — no Python, no sort aggregate",
        lambda p: "Python" not in p
        and "HashAggregate" in p
        and "SortAggregate" not in p,
    ),
    (
        "es_eql_missing",
        "the missing-event step is ONE left-anti join on the packed "
        "order — no cartesian product, no Python",
        lambda p: "LeftAnti" in p
        and "Cartesian" not in p
        and "Python" not in p,
    ),
    (
        "es_esql_lookup_join",
        "LOOKUP JOIN pins a broadcast hash join (lookup indices are "
        "single-shard small by contract); the STATS stays a codegen "
        "hash agg — no sort aggregate, no Python",
        lambda p: "BroadcastHashJoin" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_esql_mv_expand_join",
        "MV_EXPAND + LOOKUP JOIN: the dim side broadcasts, no "
        "cartesian product, no Python in the plan",
        lambda p: "BroadcastHashJoin" in p
        and "Cartesian" not in p
        and "Python" not in p,
    ),
    (
        "es_eql_join",
        "EQL join: per-filter earliest picks are codegen hash aggs "
        "over the packed decimal — no sort aggregate, no cartesian "
        "product, no Python",
        lambda p: "* HashAggregate" in p
        and "SortAggregate" not in p
        and "Cartesian" not in p
        and "Python" not in p,
    ),
    # --- round-13 additions ---
    (
        "es_esql_fork",
        "FORK is a Union of aggregate subtrees — codegen hash aggs, "
        "no per-row Python, no cartesian product",
        lambda p: "Union" in p
        and "* HashAggregate" in p
        and "Cartesian" not in p
        and "Python" not in p,
    ),
    (
        "es_esql_match_phrase",
        "MATCH_PHRASE compiles to a codegen filter + hash agg — one "
        "tokenize per row (lambda-bound array), no join, no Python",
        lambda p: "* HashAggregate" in p
        and "Join" not in p
        and "Python" not in p,
    ),
    (
        "es_ingest_reroute",
        "reroute is a map-only projection + ONE codegen hash agg — "
        "no sort aggregate, no Python",
        lambda p: "* HashAggregate" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_sliced_scroll",
        "each slice is a codegen filter over the scan — no shuffle "
        "beyond the per-slice agg exchanges, no Python, no sort agg",
        lambda p: "* HashAggregate" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    # --- round-14 additions ---
    (
        "es_esql_to_date_nanos",
        "TO_DATE_NANOS: codegen projection + ONE hash agg — the "
        "typeof() dispatch folds, no Python, no sort agg",
        lambda p: "* HashAggregate" in p
        and "SortAggregate" not in p
        and "Python" not in p,
    ),
    (
        "es_ingest_uri_full",
        "uri_parts with keep_original/remove_if_successful stays a "
        "map-only projection — no shuffle, no join, no Python",
        lambda p: "Exchange" not in p
        and "Join" not in p
        and "Python" not in p,
    ),
    (
        "es_moving_fn",
        "moving_fn: ONE corpus hash agg to buckets, then Window "
        "passes over bucket-cardinality rows — no Python, no "
        "cartesian product",
        lambda p: "* HashAggregate" in p
        and "Window" in p
        and "Cartesian" not in p
        and "Python" not in p,
    ),
    (
        "containment_pairs",
        "containment: inverted-index equi-join on the 60-bit shingle "
        "key (SortMergeJoin/ShuffledHashJoin, never cartesian), "
        "map-side-combined pair counts, no Python",
        lambda p: "Cartesian" not in p
        and "BroadcastNestedLoop" not in p
        and "* HashAggregate" in p
        and "Python" not in p,
    ),
    (
        "es_esql_round_to",
        "ROUND_TO: one projection + ONE hash agg — no Python, no "
        "sort aggregate, no join",
        lambda p: "* HashAggregate" in p
        and "SortAggregate" not in p
        and "Join" not in p
        and "Python" not in p,
    ),
    (
        "temperature_mixture",
        "temperature sampling: the O(#sources) stats frame broadcasts "
        "back onto the scan (no corpus shuffle for membership), hash "
        "aggs throughout, no Python, no cartesian product",
        lambda p: "BroadcastHashJoin" in p
        and "* HashAggregate" in p
        and "SortAggregate" not in p
        and "Cartesian" not in p
        and "Python" not in p,
    ),
]


def extra_checks(spark, sf_dir):
    """Audits over intermediate frames that the entry queries
    checkpoint away (the checkpoint cuts the visible plan)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from monstache_spark.operators.curation import (
        dsir_bucket_model,
        dsir_importance_weights,
    )

    from monstache_spark.functions.text import shingle_hash

    docs = e.load_table(spark, "documents", sf_dir)
    target = docs.filter(F.col("lang") == "en")
    hasher = lambda c: shingle_hash(c, 1)  # noqa: E731 — mirrors the entry query
    model = dsir_bucket_model(docs, target, n_buckets=256, k=2, hasher=hasher)
    wts = dsir_importance_weights(docs, model, n_buckets=256, k=2, hasher=hasher)
    yield (
        "dsir_importance[weights stage]",
        "DSIR weights: bucket model hash-agg'd and BROADCAST into the "
        "scoring join (no sort agg, no Python)",
        lambda p: "SortAggregate" not in p
        and "Python" not in p
        and "BroadcastHashJoin" in p,
        wts,
    )

    from monstache_spark.operators.curation import dsir_scores

    fused = dsir_scores(docs, F.col("lang") == "en", n_buckets=256, k=2, hasher=hasher)
    yield (
        "dsir_importance[fused one-pass]",
        "fused DSIR (the entry-query path): model derives from the "
        "checkpointed histogram and BROADCASTS into the scoring join; "
        "exactly one Generate (the single gram pass feeding the "
        "checkpoint is upstream of it), no sort agg, no Python",
        lambda p: "SortAggregate" not in p
        and "Python" not in p
        and "BroadcastHashJoin" in p
        and p.count("Generate") == 0,  # gram pass already checkpointed away
        fused,
    )

    from monstache_spark.operators.aggs import top_metrics

    ev = e.load_table(spark, "events", sf_dir)
    tm = top_metrics(ev, "event_type", "value", ["user_id"], id_col="event_id")
    yield (
        "top_metrics[double sort_col]",
        "top_metrics generic (non-timestamp sort): two-phase extreme + "
        "broadcast tie join + id-pick — every aggregate a HashAggregate",
        lambda p: "HashAggregate" in p
        and "BroadcastHashJoin" in p
        and "SortAggregate" not in p
        and "Window" not in p
        and "Python" not in p,
        tm,
    )

    from monstache_spark.operators.esql import esql

    # r14 (VERDICT r13 task #3): pin FORK's CURRENT execution
    # contract — Spark does NOT dedupe identical subtrees, so an
    # N-branch FORK over a raw scan plans N scans of the input
    # (mirroring ES's per-branch shard reads).  If a future Spark
    # starts reusing the scan this assertion flags the (welcome)
    # contract change rather than letting the docstring drift.
    fk = esql(
        "FROM documents | FORK ( WHERE lang == \"en\" | STATS n = "
        "COUNT(*) ) ( STATS m = COUNT(*) BY lang )",
        {"documents": docs},
    )
    yield (
        "esql_fork[branch scan count]",
        "2-branch FORK over a raw scan = Union of exactly TWO parquet "
        "scans (no cross-branch subtree reuse — the documented "
        "contract), hash aggs, no Python",
        # count TREE nodes ("- Scan parquet"), not the detail
        # sections that repeat each node header
        lambda p: "Union" in p
        and p.count("- Scan parquet") == 2
        and "* HashAggregate" in p
        and "Python" not in p,
        fk,
    )
    # fork_persist=True replaces the N scans with InMemoryTableScans
    # over ONE materialization — the documented knob for computed
    # upstreams
    fkp = esql(
        "FROM documents | FORK ( WHERE lang == \"en\" | STATS n = "
        "COUNT(*) ) ( STATS m = COUNT(*) BY lang )",
        {"documents": docs},
        fork_persist=True,
    )
    yield (
        "esql_fork[persist knob]",
        "fork_persist=True: both branches read the ONE cached input "
        "(two InMemoryTableScans over one InMemoryRelation; the raw "
        "scan appears only inside the cache-build definition, "
        "executed once at fill)",
        lambda p: "Union" in p
        and p.count("- InMemoryTableScan") == 2
        and "InMemoryRelation" in p
        and "Python" not in p,
        fkp,
    )
    spark.catalog.clearCache()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit")
    qs = entrymod.queries()
    failures = 0
    plans: dict[str, str] = {}
    for name, desc, pred in CHECKS:
        if name not in plans:
            plans[name] = plan_of(qs[name](spark, sf_dir))
        ok = bool(pred(plans[name]))
        print(f"{'PASS' if ok else 'FAIL'} {name}: {desc}")
        if not ok:
            failures += 1
            print(plans[name][:4000])
    total = len(CHECKS)
    for name, desc, pred, frame in extra_checks(spark, sf_dir):
        total += 1
        p = plan_of(frame)
        ok = bool(pred(p))
        print(f"{'PASS' if ok else 'FAIL'} {name}: {desc}")
        if not ok:
            failures += 1
            print(p[:4000])
    # machine-readable total (VERDICT r9 task #6): round docs must
    # quote THIS line, never a hand-counted number
    print(f"\nTOTAL: {total} assertions, {failures} failures")
    print(f"{failures} failures" if failures else "all plans clean")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
