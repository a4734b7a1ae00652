"""The ``query_mix`` workload: a fixed subset of ``__spark_entry__.queries()``
over seeded tables in the testdata layout.

One cold pass runs every query once and collects its rows; then
``WARM_PASSES`` untimed passes take the JVM down the steep part of its
warm-up curve, and ``seconds / PASS_S`` timed passes (about ``seconds``
of work on a 4-core box; the count is fixed so every run samples the
same stretch of the warm-up curve) build each query and execute it
through a ``noop`` write. Every execution times the plan build
(including the jobs builders launch eagerly) and the execution. After
the timed passes, the rows collected by the cold pass are compared with
each query's ``oracle_sql()`` on DuckDB.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

import expected
import tracing as tr
from gen import write_registry_tables

# sub-second fixed cost (3), eager plan build (mlt_analyzed: 12 jobs
# while building), compute (bm25 over the analyzed token stream)
QUERIES = (
    "system_guards",
    "cdc_materialize",
    "dedup_exact_clusters",
    "mlt_analyzed",
    "bm25_search_analyzed",
)
# run once after the timed passes, in traced runs only: the incremental
# ANN index sink (sinks.annindex) costs more than a whole run's budget
# if it rides in every pass
ANN_PROBE = "ann_index_cdc"
WARM_PASSES = 1
PASS_S = 5.0
TABLES = ("events", "documents", "embeddings")


class QueryMix:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.sf_dir = os.path.join(work, "sf")
        self.gen_s = 0.0
        self.attempted = 0  # query executions started

    def prepare(self) -> None:
        t = time.perf_counter()
        write_registry_tables(self.seed, self.sf_dir)
        self.gen_s = time.perf_counter() - t

    def warm_up(self, spark) -> None:
        """Take the JVM past its cold first jobs: one parquet scan and
        aggregation, no registry query."""
        spark.read.parquet(os.path.join(self.sf_dir, "events.parquet")).groupBy(
            "event_type").count().collect()

    def _execute(self, spark, fn, name: str, tracer: tr.Tracer, collect: bool = False):
        """(seconds, collected rows or None) of one build + execution."""
        self.attempted += 1
        t = time.perf_counter()
        with tracer.span("registry.build", query=name):
            df = fn(spark, self.sf_dir)
        if tracer.enabled:
            with tracer.span("registry.plan", query=name):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("registry.exec", query=name):
            if collect:
                rows = (df.columns, [tuple(r) for r in df.collect()])
            else:
                rows = None
                df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t, rows

    def run(self, spark, seconds: float, tracer: tr.Tracer) -> dict:
        import __spark_entry__ as entry

        qs = entry.queries()
        undo = _wrap_load_table(tracer) if tracer.enabled else []
        try:
            cold, results = {}, {}
            for n in QUERIES:
                cold[n], results[n] = self._execute(spark, qs[n], n, tracer, collect=True)
            for _ in range(WARM_PASSES):
                for n in QUERIES:
                    self._execute(spark, qs[n], n, tracer)
            warm: dict[str, list[float]] = {n: [] for n in QUERIES}
            passes = max(1, math.ceil(seconds / PASS_S))
            cpu0 = tr.cpu_seconds(spark)
            for _ in range(passes):
                with tracer.span("registry.pass"):
                    for n in QUERIES:
                        warm[n].append(self._execute(spark, qs[n], n, tracer)[0])
            cpu_s = tr.cpu_seconds(spark) - cpu0
            if tracer.enabled:
                self._ann_probe(spark, qs[ANN_PROBE], tracer)
        finally:
            for u in undo:
                u()
        with tracer.span("check"):
            self.check(results, entry.oracle_sql())
        per_query = {n: tr.median(v) for n, v in warm.items()}
        tr.log("query cold / warm median (s): " + ", ".join(
            f"{n} {cold[n]:.2f}/{per_query[n]:.2f}" for n in QUERIES))
        tr.log("warm passes (s): " + " ".join(
            f"{sum(v[i] for v in warm.values()):.2f}" for i in range(passes)))
        n_warm = passes * len(QUERIES)
        return {
            "attempted": self.attempted,
            "first_run_s": sum(cold.values()),
            "warm_p50_s": sum(per_query.values()),
            "throughput_per_s": n_warm / sum(sum(v) for v in warm.values()),
            "cpu_s_per_op": cpu_s / passes,
            "per_query": per_query,
        }

    def _ann_probe(self, spark, fn, tracer: tr.Tracer) -> None:
        from monstache_spark.sinks import annindex

        undo = tr.wrap(annindex.IvfPqIndexTable, "merge_batch", tracer, "annindex.merge_batch")
        try:
            with tracer.span("registry.ann_probe"):
                fn(spark, self.sf_dir).write.format("noop").mode("overwrite").save()
        finally:
            undo()

    def check(self, results: dict, oracles: dict) -> None:
        """Compare each query's collected (columns, rows) with its oracle."""
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            got = {}
            for n, (cols, rows) in results.items():
                res = con.execute(oracles[n])
                got[n] = (cols, rows, [d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        expected.check_queries(got)


def _wrap_load_table(tracer: tr.Tracer) -> list:
    """Trace ``sources.testdata.load_table`` under every name it is
    imported as."""
    from monstache_spark.sources import testdata

    orig = testdata.load_table
    undo = []
    for mod in list(sys.modules.values()):
        if getattr(mod, "load_table", None) is orig:
            undo.append(tr.wrap(mod, "load_table", tracer, "sources.load_table"))
    return undo


def layer_metrics(res: dict, tracer: tr.Tracer, jobs: dict) -> dict:
    """Per-layer figures of one traced query_mix run: totals per warm
    pass (medians over passes), per-query median warm seconds."""
    passes = tracer.named("registry.pass")

    def per_pass(name):
        secs, njobs, tasks = [], [], []
        for p in passes:
            spans = [s for s in tracer.named(name) if p.start <= s.start and s.end <= p.end]
            costs = tr.cost_of(spans, jobs)
            secs.append(sum(s.seconds for s in spans))
            njobs.append(sum(n for n, _ in costs))
            tasks.append(sum(c.tasks for _, c in costs))
        return tr.median(secs), tr.median(njobs), tr.median(tasks)

    lt_s, lt_jobs, _ = per_pass("sources.load_table")
    calls = tr.median(
        len([s for s in tracer.named("sources.load_table") if p.start <= s.start <= p.end])
        for p in passes
    )
    b_s, b_jobs, _ = per_pass("registry.build")
    p_s, _, _ = per_pass("registry.plan")
    e_s, e_jobs, e_tasks = per_pass("registry.exec")
    merges = tracer.named("annindex.merge_batch")
    out = {
        "sources.load_table_s": lt_s,
        "sources.load_table_calls": calls,
        "sources.load_table_jobs": lt_jobs,
        "registry.build_s": b_s,
        "registry.build_jobs": b_jobs,
        "registry.plan_s": p_s,
        "registry.exec_s": e_s,
        "registry.exec_jobs": e_jobs,
        "registry.exec_tasks": e_tasks,
        "annindex.merge_s": tr.median(s.seconds for s in merges),
        "annindex.jobs_per_batch": tr.median(n for n, _ in tr.cost_of(merges, jobs)),
    }
    for n, v in res["per_query"].items():
        out[f"query.{n}_s"] = v
    return out
