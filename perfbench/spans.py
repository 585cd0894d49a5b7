"""Traced-run instruments: timing spans around public functions and a
parser for Spark's uncompressed event log.

Spans time calls into the program's modules by wrapping the attributes
the engine looks up at call time; they are installed only in a traced
run.  The event log supplies job, task and SQL accumulables.  A job is
attributed to the module named in its ``callSite.short`` when that names
one of ours; jobs without a call site (DataFrame writes, jobs launched
from the snapshot thread pool) go to the innermost span that encloses
their submission time.
"""
from __future__ import annotations

import functools
import json
import os
import re
import threading
import time
from dataclasses import dataclass, field

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Spans:
    """Records (layer, name, start, end) for wrapped calls."""

    def __init__(self) -> None:
        self.records: list[Span] = []
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def add(self, layer: str, name: str, start: float, end: float) -> None:
        with self._lock:
            self.records.append(Span(layer, name, start, end))

    def wrap(self, owner, attr: str, layer: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                self.add(layer, attr, t0, time.time())

        self.patch(owner, attr, timed)

    def patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` with *new* until restore()."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def total(self, layer: str, names: tuple[str, ...] = ()) -> float:
        return sum(s.seconds for s in self.records
                   if s.layer == layer and (not names or s.name in names))


@dataclass
class Job:
    job_id: int
    submitted: float            # epoch seconds
    completed: float = 0.0
    call_site: str = ""
    stages: list[int] = field(default_factory=list)
    layer: str = "unattributed"
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    py_init_s: float = 0.0
    py_run_s: float = 0.0
    py_sent: int = 0
    py_returned: int = 0

    @property
    def seconds(self) -> float:
        return max(self.completed - self.submitted, 0.0)


_PY_ACCUMS = {
    "time to initialize Python workers": ("py_init_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
    "data sent to Python workers": ("py_sent", 1),
    "data returned from Python workers": ("py_returned", 1),
}
_MODULE_RE = re.compile(r"sparkharvester/(\w+)\.py")


def eventlog_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(os.listdir(log_dir))}")
    return files[0]


def parse_jobs(path: str) -> list[Job]:
    """Jobs with their task metrics and Python-boundary accumulables."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], ev["Submission Time"] / 1e3,
                          call_site=props.get("callSite.short", ""),
                          stages=list(ev.get("Stage IDs", [])))
                jobs[job.job_id] = job
                for s in job.stages:
                    stage_job[s] = job.job_id
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].completed = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                if job is None:
                    continue
                job.tasks += 1
                tm = ev.get("Task Metrics") or {}
                job.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                job.gc_s += tm.get("JVM GC Time", 0) / 1e3
                job.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}) \
                    .get("Shuffle Bytes Written", 0)
                job.spill_bytes += tm.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    hit = _PY_ACCUMS.get(acc.get("Name"))
                    if hit and acc.get("Update") is not None:
                        attr, scale = hit
                        setattr(job, attr,
                                getattr(job, attr) + float(acc["Update"]) * scale)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute(jobs: list[Job], spans: Spans) -> None:
    """Set each job's layer from its call site, else its enclosing span."""
    for job in jobs:
        m = _MODULE_RE.search(job.call_site)
        if m:
            job.layer = m.group(1)
            continue
        enclosing = [s for s in spans.records
                     if s.start <= job.submitted <= s.end]
        if enclosing:
            job.layer = min(enclosing, key=lambda s: s.seconds).layer


def within(jobs: list[Job], start: float, end: float) -> list[Job]:
    return [j for j in jobs if start <= j.submitted <= end]


def engine_metrics(jobs: list[Job]) -> dict[str, tuple[float, str]]:
    """The Python-boundary and engine metrics over *jobs*."""
    mb = 1 / (1 << 20)
    return {
        "python.init_s": (sum(j.py_init_s for j in jobs), "s"),
        "python.run_s": (sum(j.py_run_s for j in jobs), "s"),
        "python.mb_sent": (sum(j.py_sent for j in jobs) * mb, "MB"),
        "python.mb_returned": (sum(j.py_returned for j in jobs) * mb, "MB"),
        "jvm.task_cpu_s": (sum(j.cpu_s for j in jobs), "s"),
        "jvm.gc_s": (sum(j.gc_s for j in jobs), "s"),
        "shuffle.mb_written": (sum(j.shuffle_bytes for j in jobs) * mb, "MB"),
        "spill.mb": (sum(j.spill_bytes for j in jobs) * mb, "MB"),
    }


class Tracer:
    """Spans plus the executor-side counters of the wrapped fetch stage."""

    def __init__(self, spark) -> None:
        self.spans = Spans()
        self._rows = spark.sparkContext.accumulator(0)
        self._secs = spark.sparkContext.accumulator(0.0)

    def wrap_fetch_stage(self, module) -> None:
        """Wrap ``module.make_fetch_stage`` so the fetch function it
        returns counts its input rows and its own time in accumulators."""
        orig = module.make_fetch_stage
        rows, secs = self._rows, self._secs

        def make_fetch_stage(cfg):
            inner = orig(cfg)

            def fetch(batches):
                def counted():
                    for pdf in batches:
                        rows.add(len(pdf))
                        yield pdf

                it = inner(counted())
                while True:
                    t = time.perf_counter()
                    out = next(it, None)
                    secs.add(time.perf_counter() - t)
                    if out is None:
                        return
                    yield out

            return fetch

        self.spans.patch(module, "make_fetch_stage", make_fetch_stage)

    def fetch_counters(self) -> tuple[int, float]:
        return self._rows.value, self._secs.value
