"""In-memory tracing for the benchmark: spans around calls into the
program's layers, Spark job attribution, and host resource sampling.

A span is (name, start, end, parent, attrs). Spans are kept in a list
and written out once, when the run ends. Each call span also records
the Spark job ids submitted while it ran (the status-tracker job-id
delta), so the event log can attribute jobs, stages and their executor
time to the call that caused them.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench.eventlog import union_s


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def last_job_id(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup()
    return max(ids) if ids else -1


class Tracer:
    """Spans of one run. ``call`` wraps one call into the program: it
    records the wall interval and the ids of the Spark jobs submitted
    during it (job ids are allocated in submission order)."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                  attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    @contextmanager
    def call(self, name: str, **attrs):
        first = last_job_id(self.spark) + 1
        with self.span(name, **attrs) as sp:
            try:
                yield sp
            finally:
                sp.attrs["jobs"] = [first, last_job_id(self.spark)]

    def child(self, parent: Span, name: str, start: float, end: float, **attrs) -> None:
        """Record a child span whose interval was measured elsewhere
        (e.g. the per-phase laps a program call returns)."""
        self.spans.append(Span(name, start, end, self.spans.index(parent), dict(attrs)))

    def children(self, parent: Span) -> list:
        i = self.spans.index(parent)
        return [s for s in self.spans if s.parent == i]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = [(c.start, c.end) for c in self.children(sp)]
        return sp.dur - union_s(kids, sp.start, sp.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


# largest share of a call's wall time its job self times plus driver gap
# may miss or overshoot before the attribution counts as a failed check
ACCOUNTING_TOLERANCE = 0.10


def _intervals(jobs) -> list:
    return [(j.submit_ms / 1e3, (j.complete_ms or j.submit_ms) / 1e3) for j in jobs]


def driver_gap_s(log, sp: Span) -> float:
    """The part of a call's span in which the JVM ran no Spark job."""
    return sp.dur - union_s(_intervals(log.jobs.values()), sp.start, sp.end)


def job_accounting(log, sp: Span) -> dict:
    """Split a call's wall time into its Spark jobs' self times and the
    driver gap, each taken from its own source. The call's jobs are the
    job ids the driver's status tracker allocated while the call ran
    (``sp.attrs["jobs"]``); a job's self time is its wall time as the
    event log reports it, less the part that overlaps the call's jobs
    submitted before it; the driver gap is the part of the span in
    which the JVM ran no job at all. ``accounted`` = (self times +
    driver gap) / wall is 1 when the call's jobs are exactly the jobs
    that ran during it; a job of another call running inside the span,
    or one of this call's jobs running outside it, moves it off 1."""
    first, last = sp.attrs["jobs"]
    jobs = [log.jobs[i] for i in range(first, last + 1) if i in log.jobs]
    self_s = union_s(_intervals(jobs), float("-inf"), float("inf"))
    gap = driver_gap_s(log, sp)
    return {
        "jobs": jobs,
        "job_s": self_s,
        "driver_gap_s": gap,
        "accounted": (self_s + gap) / sp.dur if sp.dur > 0 else 1.0,
    }


def check_accounting(run, name: str, accs: list) -> float:
    """The worst |accounted - 1| over a workload's calls, checked
    against ACCOUNTING_TOLERANCE."""
    worst = max((abs(a["accounted"] - 1.0) for a in accs), default=0.0)
    run.check(f"{name}: job self times + driver gap = wall", worst <= ACCOUNTING_TOLERANCE,
              f"off by {worst:.1%} of a call's wall time")
    return worst


# -- host sampling -------------------------------------------------------


def _proc_stat() -> list:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _descendants(root: int) -> list:
    children: dict[int, list] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class HostSampler:
    """Background sampler: peak summed RSS of this process's
    descendants (the driver JVM and its Python workers), the peaks of
    the JVM's and the Python workers' parts, and the host's steal and
    system CPU shares over the sampled window (/proc/stat)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_rss = self.peak_jvm_rss = self.peak_py_rss = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, name="host-sampler", daemon=True)
        self._stat0 = _proc_stat()
        self._stat1 = self._stat0

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kids = _descendants(me)
            jvm = sum(_rss_bytes(p) for p in kids if _is_jvm(p))
            rss = jvm + sum(_rss_bytes(p) for p in kids if not _is_jvm(p))
            self.peak_rss = max(self.peak_rss, rss)
            self.peak_jvm_rss = max(self.peak_jvm_rss, jvm)
            self.peak_py_rss = max(self.peak_py_rss, rss - jvm)
            self._stop.wait(self.interval_s)

    def start(self) -> "HostSampler":
        self._t.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._t.join()
        self._stat1 = _proc_stat()

    def cpu_shares(self) -> dict:
        """steal% and system% of all CPU time between start and stop
        (fields: user nice system idle iowait irq softirq steal ...)."""
        d = [b - a for a, b in zip(self._stat0, self._stat1)]
        total = sum(d[:8]) or 1
        return {"steal_pct": 100.0 * d[7] / total, "system_pct": 100.0 * d[2] / total}
