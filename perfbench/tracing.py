"""Tracing for the traced mode: spans, Spark job-id ranges and an
offline parse of Spark's event log.

Spans are recorded by the benchmark around calls into the program's
public functions; nothing inside the program is changed. Each span
keeps the range of Spark job ids launched while it was open, so the
event log (written to a directory the run owns) attributes jobs,
stages, tasks and task metrics to it after the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import time
import uuid
from dataclasses import dataclass, field


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    job_lo: int = 0  # first Spark job id launched inside the span
    job_hi: int = 0  # one past the last
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> range:
        return range(self.job_lo, self.job_hi)


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing and
    costs one attribute test per span."""

    def __init__(self, enabled: bool, spark):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._dag = spark.sparkContext._jsc.sc().dagScheduler() if enabled else None

    def _next_job(self) -> int:
        return int(self._dag.nextJobId())

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                 job_lo=self._next_job(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.job_hi = self._next_job()
            s.end = time.perf_counter()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "run_id": self.run_id, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "jobs": [s.job_lo, s.job_hi],
                    **s.attrs,
                }) + "\n")


def wrap(owner, attr: str, tracer: Tracer, span_name: str, after=None):
    """Replace ``owner.attr`` by a wrapper that runs it inside a span and
    then calls ``after(args)`` with the call's positional arguments.
    Returns an undo function."""
    orig = getattr(owner, attr)

    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            out = orig(*args, **kwargs)
        if after is not None:
            after(args)
        return out

    setattr(owner, attr, wrapper)
    return lambda: setattr(owner, attr, orig)


def event_log_conf(log_dir: str) -> str:
    """spark-submit arguments that write one plain-JSON event log."""
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false"
    )


@dataclass
class JobCost:
    stages: int = 0
    tasks: int = 0
    cpu_ms: float = 0.0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0

    def add(self, o: "JobCost") -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(o, k))


def parse_event_log(log_dir: str) -> dict[int, JobCost]:
    """Per-job cost from the event log: stages that ran, tasks that
    ended, and the sum of their task metrics."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, JobCost] = {}
    ran: set[int] = set()
    for path in glob.glob(os.path.join(log_dir, "*")):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs.setdefault(jid, JobCost())
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid not in ran and sid in stage_job:
                        ran.add(sid)
                        jobs[stage_job[sid]].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    c = jobs[jid]
                    c.tasks += 1
                    c.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    c.run_ms += m.get("Executor Run Time", 0)
                    c.gc_ms += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics", {})
                    c.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    c.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    c.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs


def cost_of(spans: list[Span], jobs: dict[int, JobCost]) -> list[tuple[int, JobCost]]:
    """(job count, summed cost) per span."""
    out = []
    for s in spans:
        c = JobCost()
        n = 0
        for j in s.jobs:
            if j in jobs:
                c.add(jobs[j])
                n += 1
        out.append((n, c))
    return out


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def cpu_seconds(spark) -> float:
    """CPU seconds used so far by the driver JVM (which runs every Spark
    task in local mode) and this Python process. Unlike wall time, this
    does not grow when the machine's hypervisor takes CPU away."""
    with open(f"/proc/{_jvm_pid(spark)}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    me = os.times()
    return jvm + me.user + me.system


def jvm_stats(spark) -> tuple[float, float]:
    """(peak RSS MB of the driver JVM, total GC ms so far)."""
    jvm = spark.sparkContext._jvm
    pid = _jvm_pid(spark)
    gc_ms = sum(
        max(0, int(b.getCollectionTime()))
        for b in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    )
    peak_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                peak_kb = int(line.split()[1])
    return peak_kb / 1024.0, float(gc_ms)
