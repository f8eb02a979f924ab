"""Spark event-log parser: per-job and per-stage metrics, grouped by job
description.

Spark writes one JSON object per line when ``spark.eventLog.enabled`` is
set. This module reads such a log and returns, for every job: its id,
description (``spark.job.description``, e.g. ``it3:docs``), submission
and completion times, and its stages; for every stage: executor run
time, JVM GC time, shuffle read/write bytes and the bytes moved to and
from Python workers (the SQL metrics of Arrow/pandas UDF nodes).

    python3 perfbench/eventlog.py <event-log-file-or-dir>

prints the per-description summary.
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import dataclass, field

# SQL metric names of the Python UDF exec nodes (Arrow eval / mapInPandas)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Stage:
    stage_id: int
    name: str = "?"
    parents: tuple = ()
    tasks: int = 0
    submit_ms: int = 0
    complete_ms: int = 0
    executor_ms: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    py_sent_bytes: int = 0
    py_recv_bytes: int = 0


@dataclass
class Job:
    job_id: int
    desc: str
    submit_ms: int
    complete_ms: int | None = None
    stage_ids: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return ((self.complete_ms or self.submit_ms) - self.submit_ms) / 1e3


@dataclass
class EventLog:
    jobs: dict  # job id -> Job
    stages: dict  # stage id -> Stage (last attempt wins)

    def job_stages(self, job: Job) -> list:
        """The job's stages that actually ran (skipped stages have no
        completion event and are absent)."""
        return [self.stages[s] for s in job.stage_ids if s in self.stages]

    def by_description(self) -> dict:
        """description -> summed metrics over every job with it; the
        driver gap of a job is the time between the previous job's
        completion and its submission (driver-only time)."""
        out: dict[str, dict] = {}
        prev_end = None
        for job in sorted(self.jobs.values(), key=lambda j: j.submit_ms):
            if job.complete_ms is None:
                continue
            d = out.setdefault(
                job.desc or "(none)",
                {"jobs": 0, "wall_s": 0.0, "gap_s": 0.0, **stage_totals([])},
            )
            d["jobs"] += 1
            d["wall_s"] += job.wall_s
            if prev_end is not None:
                d["gap_s"] += max(0, job.submit_ms - prev_end) / 1e3
            prev_end = max(prev_end or 0, job.complete_ms)
            for k, v in stage_totals(self.job_stages(job)).items():
                d[k] += v
        return out


def stage_totals(stages: list) -> dict:
    return {
        "executor_s": sum(s.executor_ms for s in stages) / 1e3,
        "gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "shuffle_read_bytes": sum(s.shuffle_read_bytes for s in stages),
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "py_sent_bytes": sum(s.py_sent_bytes for s in stages),
        "py_recv_bytes": sum(s.py_recv_bytes for s in stages),
    }


def _log_files(path: str) -> list:
    """The log file itself, or every event file under a directory
    (Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>)."""
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "appstatus"))
    )


def _accumulable(task_info: dict, name: str) -> int:
    total = 0
    for acc in task_info.get("Accumulables") or []:
        if acc.get("Name") == name:
            try:
                total += int(acc.get("Update") or 0)
            except (TypeError, ValueError):
                pass
    return total


def parse(path: str) -> EventLog:
    """Parse an event-log file, or every log file in a directory."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}

    def stage(sid: int) -> Stage:
        return stages.setdefault(sid, Stage(sid))

    for fn in _log_files(path):
        with open(fn) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a log cut mid-line by a crash
                t = e.get("Event")
                if t == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"],
                        props.get("spark.job.description") or "",
                        e.get("Submission Time", 0),
                        stage_ids=list(e.get("Stage IDs") or []),
                    )
                elif t == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]].complete_ms = e.get("Completion Time", 0)
                elif t == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    s = stage(si["Stage ID"])
                    s.name = si.get("Stage Name", "?").split("\n")[0]
                    s.parents = tuple(si.get("Parent IDs") or ())
                    s.tasks = si.get("Number of Tasks", 0)
                    s.submit_ms = si.get("Submission Time", 0)
                    s.complete_ms = si.get("Completion Time", 0)
                elif t == "SparkListenerTaskEnd":
                    s = stage(e["Stage ID"])
                    tm = e.get("Task Metrics") or {}
                    ti = e.get("Task Info") or {}
                    s.executor_ms += tm.get("Executor Run Time", 0)
                    s.gc_ms += tm.get("JVM GC Time", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    s.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    s.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    s.py_sent_bytes += _accumulable(ti, PY_SENT)
                    s.py_recv_bytes += _accumulable(ti, PY_RECV)
    return EventLog(jobs, stages)


def union_s(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def main(argv: list) -> int:
    if len(argv) != 2:
        print("usage: python3 perfbench/eventlog.py <event-log>", file=sys.stderr)
        return 2
    log = parse(argv[1])
    print(f"{'jobs':>5} {'wall_s':>8} {'gap_s':>8} {'exec_s':>8} {'gc_s':>6}  description")
    for desc, d in sorted(log.by_description().items(), key=lambda kv: -kv[1]["wall_s"]):
        print(
            f"{d['jobs']:5d} {d['wall_s']:8.2f} {d['gap_s']:8.2f} "
            f"{d['executor_s']:8.2f} {d['gc_s']:6.2f}  {desc}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
