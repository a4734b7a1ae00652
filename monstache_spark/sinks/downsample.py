"""Continuous TSDB downsampling under a stream.

ES pairs its ``_downsample`` API with continuous transforms so the
rollup FOLLOWS the live index; the Spark-native equivalent is a
``foreachBatch`` sink that maintains the rolled-up frame
incrementally.  Every statistic :func:`operators.aggs.downsample`
produces merges ASSOCIATIVELY:

* ``doc_count`` / ``{g}_count`` — sum
* ``{g}_min`` / ``{g}_max`` — min / max
* ``{g}_sum`` — exact ``decimal(38,6)`` sums (kept as DECIMAL in the
  persisted state so cross-batch totals stay order-independent; cast
  to double only at read)
* ``{c}_last`` — the value at the max packed ``unix_micros·10⁹ + id``
  decimal (the ``top_metrics`` packing contract), so the winner is
  picked by ``max_by(value, pack)`` with a numeric-only agg buffer

which makes the merged state BIT-IDENTICAL to a from-scratch batch
``downsample`` over the union of every batch, in any arrival order —
restatement equality, the property the gate query hash-checks.

Contract: TSDB documents are immutable measurement points, so the
stream is APPEND-ONLY — there is no version guard because there are
no updates or deletes to guard (ES enforces the same: downsample
sources must be read-only indices).  Additive stats cannot
distinguish a replay from a new point, so the sink carries its own
exactly-once guard at the MICRO-BATCH grain: ``merge_batch`` takes
the ``foreachBatch`` epoch id, records the last applied id with each
committed state version, and SKIPS a batch it has already folded —
the standard idempotent-foreachBatch pattern, closing the
crash-between-commit-and-checkpoint replay window.  Duplicate points
WITHIN a delivery (at-least-once sources that re-emit rows inside
new batch ids) still need ``streaming.windows.stream_dedup_keys``
upstream.

Storage is the pointer-versioned parquet commit of
``sinks.merge.StateTable`` (write ``v{n+1}``, flip CURRENT): readers
never see a partial merge.  Scale: each micro-batch costs ONE hash
agg over (state ∪ state-shaped batch points) — the groupBy's
map-side partial aggregation rolls the batch up before the exchange,
so the shuffle carries bucket-cardinality-sized partials; the
corpus-sized work is only ever the arriving batch.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monstache_spark.operators.aggs import fixed_interval_seconds
from monstache_spark.sinks.merge import write_pointer


class DownsampleTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        ts_col: str,
        dims: list[str],
        gauges: list[str],
        counters: list[str] | tuple = (),
        fixed_interval: str = "1h",
        id_col: str = "event_id",
    ):
        w = fixed_interval_seconds(fixed_interval)
        if w is None:
            raise ValueError(f"unsupported fixed_interval: {fixed_interval}")
        self.spark = spark
        self.path = path
        self.ts_col = ts_col
        self.dims = list(dims)
        self.gauges = list(gauges)
        self.counters = list(counters)
        self.id_col = id_col
        self._w_us = w * 1_000_000
        os.makedirs(path, exist_ok=True)

    # -- pointer-versioned commits (the StateTable shape) -------------
    def _current_file(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def _current_version(self) -> int:
        try:
            with open(self._current_file()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _read_raw(self) -> DataFrame | None:
        v = self._current_version()
        if v == 0:
            return None
        return self.spark.read.parquet(os.path.join(self.path, f"v{v}"))

    def _last_applied(self) -> int:
        # the applied batch id lives INSIDE the current version dir, so
        # the CURRENT pointer flip advances state and batch id
        # ATOMICALLY — a crash on either side of the flip leaves a
        # consistent (state, last-batch) pair: before it the replayed
        # batch re-folds against the OLD state (the orphaned v-dir is
        # simply overwritten), after it the replay is skipped
        v = self._current_version()
        if v == 0:
            return -1
        try:
            with open(os.path.join(self.path, f"v{v}", "_BATCH_ID")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _commit(self, df: DataFrame, batch_id: int | None = None) -> None:
        v = self._current_version()
        new_dir = os.path.join(self.path, f"v{v + 1}")
        df.write.mode("overwrite").parquet(new_dir)
        if batch_id is not None:
            with open(os.path.join(new_dir, "_BATCH_ID"), "w") as f:
                f.write(str(batch_id))
        write_pointer(self._current_file(), str(v + 1))
        old_dir = os.path.join(self.path, f"v{v}")
        if v and os.path.isdir(old_dir):
            shutil.rmtree(old_dir, ignore_errors=True)

    # -- rollup arithmetic --------------------------------------------
    # the packed ordering key (built inside downsample_aggs) carries
    # the top_metrics precondition: 0 <= id < 10^9 (ids above that
    # bleed into the microsecond digits)
    def _rollup(self, df: DataFrame) -> DataFrame:
        from monstache_spark.operators.aggs import downsample_aggs

        us = F.unix_micros(F.col(self.ts_col))
        base = df.filter(F.col(self.ts_col).isNotNull()).withColumn(
            "bucket", F.timestamp_micros(us - F.pmod(us, F.lit(self._w_us)))
        )
        # the SAME aggregate expressions as the batch operator
        # (state_form keeps decimal sums + max packs for merging) —
        # restatement equality holds by construction, not by
        # parallel maintenance
        return base.groupBy(*self.dims, "bucket").agg(
            *downsample_aggs(
                self.ts_col, self.gauges, self.counters,
                id_col=self.id_col, state_form=True,
            )
        )

    def _state_shaped(self, df: DataFrame) -> DataFrame:
        """Raw points projected to STATE-ROW shape (each point = a
        1-point rollup row), so ``state ∪ points`` folds in ONE hash
        aggregate: the groupBy's map-side partial aggregation IS the
        per-batch rollup (guide §2.4 — two operations keyed the same
        way share one exchange; previously each micro-batch paid a
        batch-rollup exchange AND a merge exchange).  Exactness vs
        the two-phase shape, column by column: ``sum(1L) = count(*)``;
        ``min``/``max`` associate; the gauge sums are exact
        ``decimal(38,6)`` (order-independent); ``sum(is-not-null) =
        count(g)``; ``max_by(c, pack)`` picks the value at the global
        max pack either way (packs are unique per event — envelope
        contract)."""
        us = F.unix_micros(F.col(self.ts_col))
        pack = (
            us.cast("decimal(38,0)") * F.lit(1_000_000_000)
            + F.col(self.id_col).cast("decimal(38,0)")
        )
        cols = [
            *[F.col(d) for d in self.dims],
            F.timestamp_micros(us - F.pmod(us, F.lit(self._w_us))).alias("bucket"),
            F.lit(1).cast("long").alias("doc_count"),
        ]
        for g in self.gauges:
            c = F.col(g)
            cols += [
                c.alias(f"{g}_min"),
                c.alias(f"{g}_max"),
                c.cast("decimal(38,6)").alias(f"_sum_{g}"),
                F.when(c.isNotNull(), 1).otherwise(0).cast("long").alias(f"{g}_count"),
            ]
        for c_name in self.counters:
            cols += [
                F.col(c_name).alias(f"{c_name}_last"),
                pack.alias(f"_pk_{c_name}"),
            ]
        return df.filter(F.col(self.ts_col).isNotNull()).select(*cols)

    def _merge(self, cur: DataFrame, batch: DataFrame) -> DataFrame:
        both = cur.unionByName(batch)
        aggs = [F.sum("doc_count").cast("long").alias("doc_count")]
        for g in self.gauges:
            aggs += [
                F.min(f"{g}_min").alias(f"{g}_min"),
                F.max(f"{g}_max").alias(f"{g}_max"),
                F.sum(f"_sum_{g}").cast("decimal(38,6)").alias(f"_sum_{g}"),
                F.sum(f"{g}_count").cast("long").alias(f"{g}_count"),
            ]
        for c_name in self.counters:
            aggs += [
                F.max_by(F.col(f"{c_name}_last"), F.col(f"_pk_{c_name}")).alias(
                    f"{c_name}_last"
                ),
                F.max(f"_pk_{c_name}").alias(f"_pk_{c_name}"),
            ]
        return both.groupBy(*self.dims, "bucket").agg(*aggs)

    # -- public surface -------------------------------------------------
    def merge_batch(self, df: DataFrame, batch_id: int | None = None) -> None:
        """Fold one micro-batch of points into the rollup state — ONE
        batch-sized hash agg (whose map-side partial aggregation is
        the per-batch rollup, state rows riding the same exchange).
        Pass the
        ``foreachBatch`` epoch id: a batch the table has already
        folded is SKIPPED (idempotent replay after a crash between the
        state commit and the stream checkpoint).  Epoch ids must be
        monotonically increasing, which Structured Streaming
        guarantees per checkpoint."""
        if batch_id is not None and batch_id <= self._last_applied():
            return
        cur = self._read_raw()
        # first batch: the plain rollup; thereafter: ONE hash agg over
        # state ∪ state-shaped points (map-side partial aggregation
        # rolls the batch up inside the same exchange — see
        # _state_shaped)
        merged = (
            self._rollup(df) if cur is None
            else self._merge(cur, self._state_shaped(df))
        )
        self._commit(merged, batch_id)

    def read(self) -> DataFrame | None:
        """The rollup in :func:`operators.aggs.downsample`'s exact
        output shape (sums cast to double, pack columns dropped) —
        restatement-equal to the batch operator over every point the
        sink has absorbed."""
        raw = self._read_raw()
        if raw is None:
            return None
        cols = [*self.dims, "bucket", "doc_count"]
        out = raw
        for g in self.gauges:
            out = out.withColumn(f"{g}_sum", F.col(f"_sum_{g}").cast("double"))
            cols += [f"{g}_min", f"{g}_max", f"{g}_sum", f"{g}_count"]
        for c_name in self.counters:
            cols += [f"{c_name}_last"]
        return out.select(*cols)
