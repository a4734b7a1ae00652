"""Incrementally-maintained IVF-PQ index under CDC.

The reference engine's whole purpose is keeping a SEARCH-SIDE artifact
(the Elasticsearch index) continuously in sync with versioned
upserts/deletes — external versions make stale replays lose
(monstache.go:4053-4063), deletes tombstone (monstache.go:4077-4080),
and the artifact follows the stream rather than being rebuilt.  An ANN
index is the vector-search analogue of that artifact: a
monstache-style deployment that syncs an embedding column needs the
index to follow the CDC stream under the SAME version guard as the
document sink, not a batch-only rebuild (``write_ivfpq_index`` is the
bootstrap, this module is the steady state).

Design — the FAISS IVF ``add()`` contract:

* the coarse quantizer (centroids) and the PQ codebooks train ONCE at
  :meth:`IvfPqIndexTable.bootstrap` and FREEZE as index metadata;
* every CDC batch only ASSIGNS (nearest frozen centroid, exact
  rounded-cosine argmax) and ENCODES (per-subspace argmin codeword)
  its upserts — so index state after ANY op sequence is bit-identical
  to a from-scratch encode of the surviving rows against the same
  quantizers.  That restatement equality is what the driver gate
  hashes, and it also makes the merge ARRIVAL-ORDER-INDEPENDENT: the
  version guard converges to the same state under any batch split.

State layout: one row per live id — ``(ns, id, version, embedding,
cell, codes)`` with the ``m`` PQ codes PACKED into one BIGINT
(``m ≤ 8``, ``k_sub ≤ 256``: 8 bits per subspace), so no array or
string enters an aggregation buffer over index state (the packed
argmin inside :func:`pq_encode` obeys the same rule).  Batch staging
is the document sink's single keyed aggregation; there the winning
vector rides a ``max_by`` buffer, a sort-based aggregate over the
micro-batch's rows only.  Staging, merge, commit, versioning and
tombstones are the document sink's own
(:mod:`monstache_spark.sinks.merge`): the index state IS a
``StateTable``, committed by the one shared versioned commit
(``VersionedTable``: write ``v{n+1}``, swap CURRENT), so stale replays
lose, a delete beats an equal-version upsert, and tombstones persist so
late stale inserts stay dead.

Scale notes (100 TB): centroids and codebooks are broadcast metadata;
per-batch assign/encode touches micro-batch-sized rows only; the
cross-batch merge is two broadcast-able equi-joins on the key (state
size × batch-key count, no aggregation over state).  Nothing
corpus-sized reaches the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monstache_spark.sinks.merge import TOMB_COL, StateTable, staged_batch
from monstache_spark.operators.similarity import pq_codebooks


class IvfPqIndexTable:
    """Version-guarded, incrementally-maintained IVF-PQ index."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        dim: int,
        n_centroids: int = 16,
        m: int = 8,
        k_sub: int = 16,
        vec_col: str = "embedding",
    ):
        if m > 8 or k_sub > 256:
            raise ValueError("packed codes require m <= 8 and k_sub <= 256")
        self.spark = spark
        self.path = path
        self.dim = dim
        self.n_centroids = n_centroids
        self.m = m
        self.k_sub = k_sub
        self.vec_col = vec_col
        os.makedirs(path, exist_ok=True)
        self._state = StateTable(
            spark,
            os.path.join(path, "cells_state"),
            payload_cols=(vec_col, "cell", "codes"),
        )
        # frozen-quantizer cache: centroids/codebooks never change
        # after bootstrap (the FAISS add() contract), so collect them
        # ONCE into a single-row checkpointed quantizer frame instead
        # of running two broadcast joins + three shuffle aggregates
        # per micro-batch — they are control-plane-sized (n_centroids
        # / m*k_sub rows), the same bounded-collect class as the ADC
        # lookup tables (optimization guide §2.4: remove shuffles
        # outright; §3.1: the "join" side is index metadata)
        self._quant_cache: tuple[list, dict] | None = None
        self._expr_cache: tuple | None = None
        self._qf: DataFrame | None = None

    # -- frozen quantizers ------------------------------------------------
    def bootstrap(self, training: DataFrame, id_col: str = "vec_id") -> None:
        """Train and FREEZE the quantizers from ``training``:
        centroids = the ``n_centroids`` lowest-id vectors, codebooks =
        subvectors of the ``k_sub`` lowest ids — the deterministic
        oracle-reproducible convention shared with
        :func:`pq_codebooks` / ``ivf_topk`` (a learned k-means variant
        would write the same two frames).  Indexes NOTHING: data
        enters through :meth:`merge_batch` like any CDC batch, so the
        initial backfill and the steady state share one code path."""
        training.filter(F.col(id_col) < self.n_centroids).select(
            F.col(id_col).alias("cid"), F.col(self.vec_col).alias("c_vec")
        ).write.mode("overwrite").parquet(os.path.join(self.path, "centroids"))
        pq_codebooks(
            training, self.dim, self.m, self.k_sub, self.vec_col, id_col
        ).write.mode("overwrite").parquet(os.path.join(self.path, "codebooks"))
        # re-bootstrap invalidates the frozen-quantizer cache, the
        # compiled encode expressions, and the quantizer frame
        self._quant_cache = None
        self._expr_cache = None
        self._qf = None

    def _quantizers(self) -> tuple[list, dict]:
        """Frozen quantizers as PLAIN VALUES: ``(centroids,
        codebooks)`` with ``centroids = [(cid, [double...], norm)]``
        and ``codebooks = {mi: [(code, [double...])]}``.

        The derived values (double-cast centroid components, centroid
        norms, double-cast codeword subvectors) are computed by the
        SAME Spark expressions the join-based encode used
        (``as_double_array``/``norm``), then collected — a bounded
        control-plane collect of ``n_centroids + m*k_sub`` rows — so
        every float that re-enters the plan as a literal is the
        bit-identical IEEE double the old broadcast build produced
        (py4j round-trips doubles exactly)."""
        if self._quant_cache is None:
            from monstache_spark.functions.vectors import as_double_array, norm

            cen_rows = (
                self.spark.read.parquet(os.path.join(self.path, "centroids"))
                .select(
                    "cid",
                    as_double_array(F.col("c_vec")).alias("cvd"),
                    norm(F.col("c_vec")).alias("nc"),
                )
                .collect()
            )
            cen = [(r["cid"], list(r["cvd"]), r["nc"]) for r in cen_rows]
            cb_rows = self.spark.read.parquet(
                os.path.join(self.path, "codebooks")
            ).collect()
            cbs: dict[int, list] = {}
            for r in cb_rows:
                cbs.setdefault(int(r["m"]), []).append((int(r["code"]), list(r["sub"])))
            self._quant_cache = (cen, cbs)
        return self._quant_cache

    # -- per-batch encode --------------------------------------------------
    def _quant_frame(self) -> DataFrame:
        """The frozen quantizers as ONE eagerly-checkpointed 1-row
        frame ``(_q_cids, _q_cvecs, _q_cnorms, _q_cbcodes,
        _q_cbvecs)``.

        Why a frame and not inline literals: the literal form put
        ~2k doubles (n_centroids·dim + m·k_sub·d_sub) plus their
        arithmetic into EVERY per-batch plan, and each analyzer /
        optimizer pass walks that tree again — per micro-batch the
        driver burned ~1 s building and ~1-2 s optimizing plans whose
        data work is 300 rows.  The checkpoint
        collapses the constants into a single-row ``LogicalRDD`` —
        the mega-literal plan is analyzed ONCE per table instance,
        and every batch plan just broadcast-cross-joins one tiny
        node (guide §7.3 "very large plans: planning time itself
        becomes the bottleneck"; §5 ``localCheckpoint`` truncates
        lineage).  The doubles come from the same
        :meth:`_quantizers` collect and re-enter via ``F.lit`` —
        py4j round-trips IEEE doubles exactly, and the checkpoint
        stores them binary, so every value the expressions see is
        bit-identical to the old literal/broadcast builds."""
        if self._qf is None:
            cen, cbs = self._quantizers()

            # one selectExpr per column — a single py4j call each with
            # the literals as SQL text (2k element-wise F.lit calls
            # cost seconds of py4j round-trips); floats re-enter as
            # CAST('<repr>' AS DOUBLE): Python repr is
            # shortest-round-trip and Spark's parser is correctly
            # rounded, so each double is bit-identical to the
            # collected value (the old literal form's proven
            # mechanism)
            def d(x: float) -> str:
                return f"CAST('{x!r}' AS DOUBLE)"

            def arr(xs: list) -> str:
                return "array(" + ", ".join(d(x) for x in xs) + ")"

            books = [sorted(cbs.get(mi, [])) for mi in range(self.m)]
            qf = self.spark.range(1).selectExpr(
                "array(" + ", ".join(str(int(cid)) for cid, _, _ in cen)
                + ") AS _q_cids",
                "array(" + ", ".join(arr(cvd) for _, cvd, _ in cen)
                + ") AS _q_cvecs",
                arr([nc for _, _, nc in cen]) + " AS _q_cnorms",
                "array(" + ", ".join(
                    "array(" + ", ".join(str(int(c)) for c, _ in book) + ")"
                    for book in books
                ) + ") AS _q_cbcodes",
                "array(" + ", ".join(
                    "array(" + ", ".join(arr(sub) for _, sub in book) + ")"
                    for book in books
                ) + ") AS _q_cbvecs",
            )
            self._qf = qf.localCheckpoint(eager=True)
        return self._qf

    def encode(self, rows: DataFrame, id_col: str = "id") -> DataFrame:
        """``rows`` (…, id, vector) + frozen quantizers → the same rows
        with ``cell`` (nearest-centroid argmax, rounded-cosine
        contract) and ``codes`` (packed BIGINT of the ``m`` subspace
        argmins).  Used for every batch AND for from-scratch
        restatements in tests — one code path, no drift.

        ONE map-only projection over a broadcast 1-row quantizer
        frame (guide §2.4).  The join-based formulation
        (``ivf_assign`` + ``pq_encode`` + two join-backs) cost 4
        exchanges, 2 broadcast builds and an m-way explode PER
        MICRO-BATCH for quantizers that are frozen index metadata;
        here the same arithmetic runs per row with no shuffle — the
        only join is a broadcast cross join against one checkpointed
        row (:meth:`_quant_frame`), which keeps the per-batch plan
        TINY.  Bit-equivalence to the join path (pinned by
        tests/test_annindex.py::test_encode_matches_join_formulation):

        * cell — per centroid ``i``, ``score = round(when(na*nc > 0,
          dot_pre(vd, cvd)/(na*nc)).otherwise(0.0), 6)`` over the SAME
          pre-cast doubles in the same fold order, packed by the same
          ``_pack_score_id`` arithmetic; ``array_max`` over the
          n_centroids packs is exactly ``max`` over the
          crossJoin+HashAggregate rows (packs are distinct — cid
          occupies the low bits).
        * codes — per subspace ``mi``, ``array_min`` over
          ``dist_micro*1024 + code`` replicates ``pq_encode``'s packed
          ``min`` (codes are distinct), and the fold of ``m``
          shiftlefts sums the identical packed BIGINT the old per-row
          aggregate built (integer addition, order-exact).

        The two expressions are compiled ONCE per table instance
        (unresolved Columns are frame-independent)."""
        cell, codes = self._encode_exprs()
        return (
            rows.crossJoin(F.broadcast(self._quant_frame()))
            .withColumn(
                "_vd", F.expr(f"transform({self.vec_col}, x -> CAST(x AS DOUBLE))")
            )
            .withColumn(
                "_na",
                F.expr(
                    "sqrt(aggregate(zip_with(_vd, _vd, (x, y) -> x * y),"
                    " 0.0D, (acc, x) -> acc + x))"
                ),
            )
            .withColumn("cell", cell)
            .withColumn("codes", codes)
            .drop(
                "_vd", "_na",
                "_q_cids", "_q_cvecs", "_q_cnorms", "_q_cbcodes", "_q_cbvecs",
            )
        )

    def _encode_exprs(self):
        """Build (cell, codes) Columns over the quantizer-frame
        columns — two ``F.expr`` calls total, cached on the instance.
        The arithmetic is the literal form's, verbatim, with each
        per-centroid / per-code copy replaced by a ``transform`` over
        ``sequence`` indexing the frame's arrays (same dot/sq fold
        order, same rounding, same packing)."""
        if getattr(self, "_expr_cache", None) is not None:
            return self._expr_cache

        mask = (1 << 21) - 1
        d_sub = self.dim // self.m
        # per centroid i: pack(round(score, 6)) with score the
        # rounded-cosine; array_max == greatest == crossJoin max
        cell_sql = (
            f"CAST({mask} - pmod(array_max(transform("
            "sequence(0, size(_q_cids) - 1), i -> "
            "CAST(round(round(CASE WHEN (_na * element_at(_q_cnorms, i + 1)) > 0 "
            "THEN aggregate(zip_with(_vd, element_at(_q_cvecs, i + 1), "
            "(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
            " / (_na * element_at(_q_cnorms, i + 1)) "
            f"ELSE 0.0D END, 6) * 1000000.0D) AS BIGINT) * {1 << 21}"
            f" + ({mask} - element_at(_q_cids, i + 1)))), {1 << 21}) AS BIGINT)"
        )
        # per subspace mi: argmin codeword by packed squared distance,
        # then fold the m shiftlefts into the packed BIGINT
        codes_sql = (
            f"CAST(aggregate(sequence(0, {self.m - 1}), 0L, (acc, mi) -> acc + "
            "shiftleft(CAST(pmod(array_min(transform("
            "sequence(0, size(element_at(_q_cbcodes, mi + 1)) - 1), j -> "
            f"CAST(round(aggregate(zip_with(slice(_vd, mi * {d_sub} + 1, {d_sub}), "
            "element_at(element_at(_q_cbvecs, mi + 1), j + 1), "
            "(x, y) -> (x - y) * (x - y)), 0.0D, (a2, x) -> a2 + x)"
            " * 1000000.0D) AS BIGINT) * 1024"
            " + element_at(element_at(_q_cbcodes, mi + 1), j + 1))), "
            "1024) AS BIGINT), mi * 8)) AS BIGINT)"
        )
        self._expr_cache = (F.expr(cell_sql), F.expr(codes_sql))
        return self._expr_cache

    # -- CDC merge ----------------------------------------------------------
    def merge_batch(self, ops: DataFrame) -> None:
        """Apply one micro-batch of envelope ops ``(op, ns, id,
        version, <vec_col>)`` under the document sink's version guard.

        Staging is the document sink's own (:func:`sinks.merge.
        staged_batch`): one keyed aggregation keeps each key's winning
        vector (``max_by`` over the upsert versions — versions are
        unique per event, envelope contract, so the winner is
        deterministic) or stages the key as a tombstone, and the staged
        frame is persisted once for the merge.  The live rows then
        assign+encode against the frozen quantizers inside the merge
        plan, which reads the encoded columns once (tombstones carry
        null ``cell``/``codes``).  The encoded frame then goes through
        the document sink's own merge-and-commit step
        (``StateTable._apply``): the cross-batch rules of
        :func:`sinks.merge._merge_apply`, the drop erase, and the one
        versioned commit (:class:`sinks.merge.VersionedTable`)."""
        with staged_batch(ops, (self.vec_col,), prefix="") as (staged, drops):
            enriched = (
                self.encode(staged, id_col="id")
                .withColumn("cell", F.when(~F.col(TOMB_COL), F.col("cell")))
                .withColumn("codes", F.when(~F.col(TOMB_COL), F.col("codes")))
            )
            self._state._apply(enriched, drops)

    # -- read side -----------------------------------------------------------
    def read(self) -> DataFrame | None:
        """Live index rows ``(ns, id, version, <vec_col>, cell,
        codes)`` — tombstones hidden, ready for the probed-cell /
        ADC read path (the ``cells`` frame of the batch index
        layout, with codes pre-packed)."""
        return self._state.read()
