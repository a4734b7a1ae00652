"""Benchmark of the CDC sync path and the query registry.

    python3 perfbench/run.py --workload cdc_wide_state --seed 1 --seconds 10 --trace 0

Runs one workload in this process on ``local[<cores>]`` with the
engine's own session defaults (``session.get_spark``), checks every
output against an independently computed answer, and prints one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (and
writes the spans to ``perfbench/out/``). See README.md.
"""

from __future__ import annotations

import time


def _process_age() -> float:
    """Seconds since this process started (Linux /proc), else 0."""
    try:
        import os

        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, AttributeError):
        return 0.0


STARTED = time.perf_counter() - _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_wide_state", "cdc_hot_keys", "query_mix")


def _declared(kind: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics in
    BENCHMARK.json, the one list of the benchmark's metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _isolate(work: str, trace: bool) -> None:
    """Give this run its own temp, Spark-local and event-log directories
    and let Python workers import the program from any cwd."""
    from tracing import event_log_conf

    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # no hsperfdata file under /tmp, from the driver JVM or from
    # spark-submit's launcher JVM: the run writes only inside its work dir
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    submit = f"--driver-java-options '{jvm_opts}'"
    if trace:
        submit += " " + event_log_conf(os.path.join(work, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit + " pyspark-shell"
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import tracing as tr

    if workload == "query_mix":
        import querymix

        wl = querymix.QueryMix(seed, work)
        layers = querymix.layer_metrics
    else:
        import cdc

        wl = cdc.CdcWorkload(workload, seed, work)
        layers = cdc.layer_metrics
    wl.prepare()

    from monstache_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t
    tr.log(f"session started in {session_s:.1f} s (inputs took {wl.gen_s:.1f} s)")
    tracer = tr.Tracer(trace, spark)
    error = None
    try:
        with tracer.span("warm_up"):
            wl.warm_up(spark)
        setup_s = time.perf_counter() - STARTED - wl.gen_s
        res = wl.run(spark, seconds, tracer)
    except Exception as e:  # noqa: BLE001 - any failure of the workload is a failed run
        tr.log(f"{workload}: {type(e).__name__}: {e}")
        error = e
    finally:
        peak_mb, gc_ms = tr.jvm_stats(spark) if trace else (0.0, 0.0)
        _stop(spark)
    leaked = os.listdir(os.path.join(work, "tmp"))
    tr.log(f"{len(leaked)} entries left in the run's TMPDIR: {sorted(leaked)}")
    if error is not None:
        # a failed check names how many operations gave a wrong answer;
        # any other error is the one operation that raised it
        failed = getattr(error, "failed", 1)
        return {"correct": False, "attempted": max(wl.attempted, failed), "failed": failed, "metrics": {}}

    units = _declared("end_to_end")
    end_to_end = {k: setup_s if k == "setup_s" else res[k] for k in units}
    tr.log("end to end: " + json.dumps(end_to_end))
    if not trace:
        values = end_to_end
    else:
        units = _declared("per_layer")
        values = dict.fromkeys(units, 0.0)
        values.update(layers(res, tracer, tr.parse_event_log(os.path.join(work, "eventlog"))))
        values.update({"session.start_s": session_s, "jvm.peak_rss_mb": peak_mb, "jvm.gc_ms": gc_ms})
        undeclared = sorted(set(values) - set(units))
        if undeclared:
            raise ValueError(f"per-layer metrics missing from BENCHMARK.json: {undeclared}")
        tracer.write(os.path.join(HERE, "out", f"spans-{workload}-{seed}.jsonl"))
    return {
        "correct": True,
        "attempted": res["attempted"],
        "failed": 0,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "monstache_spark", "__init__.py")):
        print(f"perfbench: the program (monstache_spark/) is not in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        _isolate(work, bool(args.trace))
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
