"""Per-stage profile of the scaling workload — event-log analysis.

Usage: python profile_scaling.py <cores> [n_pages]
Runs the same workload as bench_scaling.py at one level with
spark.eventLog enabled, then prints, from ``perfbench.eventlog.parse``:
stage wall-times, task counts, executor task-time and GC sums; jobs
grouped by description with the driver gap before each; and the
stages annotated with their job's description.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000

import shutil

log_dir = f"/tmp/spark-events-{cores}"
shutil.rmtree(log_dir, ignore_errors=True)
os.makedirs(log_dir, exist_ok=True)

if os.path.isdir("/dev/shm"):
    os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")

from mklab_focused_crawler_spark.operators.crawl import scaling_workload
from mklab_focused_crawler_spark.session import get_spark

spark = get_spark(
    f"profile-{cores}",
    master=f"local[{cores}]",
    shuffle_partitions=cores,
    extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    },
)
out = scaling_workload(
    spark, n_pages, n_pages // 20, int(n_pages * 0.4), repeats=1
)
print(json.dumps({k: v for k, v in out.items() if k != "iterations"}))
spark.stop()
time.sleep(2)

# ---- event-log analysis (perfbench/eventlog.py) ----
from perfbench import eventlog

log = eventlog.parse(log_dir)
stages = log.stages  # stage id -> eventlog.Stage
stage_desc = {}  # stage id -> job description
for job in log.jobs.values():
    for sid in job.stage_ids:
        stage_desc[sid] = job.desc or "(none)"


def wall_s(s) -> float:
    return (s.complete_ms - s.submit_ms) / 1e3


tot_wall = sum(wall_s(s) for s in stages.values())
tot_task = sum(s.executor_ms for s in stages.values()) / 1e3
tot_gc = sum(s.gc_ms for s in stages.values()) / 1e3
print(f"\n== {len(stages)} stages, wall(sum)={tot_wall:.1f}s task_time(sum)={tot_task:.1f}s gc={tot_gc:.1f}s")
print(f"{'wall':>7} {'ttime':>8} {'tasks':>5} {'gc':>5}  name")
for s in sorted(stages.values(), key=lambda s: -wall_s(s))[:30]:
    print(f"{wall_s(s):7.2f} {s.executor_ms / 1e3:8.1f} {s.tasks:5d} {s.gc_ms / 1e3:5.1f}  {s.name[:90]}")

# ---- job-description attribution: wall span + driver gap per action ----
by_desc = log.by_description()
n_jobs = sum(d["jobs"] for d in by_desc.values())
print(f"\n== jobs by description ({n_jobs} jobs): wall=in-job, gap=driver time before job")
print(f"{'n':>4} {'wall':>8} {'gap':>8}  description")
for desc, d in sorted(by_desc.items(), key=lambda kv: -(kv[1]["wall_s"] + kv[1]["gap_s"])):
    print(f"{d['jobs']:4d} {d['wall_s']:8.2f} {d['gap_s']:8.2f}  {desc}")

print("\n== stages annotated with their job description (top 40 by wall)")
print(f"{'wall':>7} {'ttime':>8} {'tasks':>5} {'gc':>5}  desc / stage")
for s in sorted(stages.values(), key=lambda s: -wall_s(s))[:40]:
    print(
        f"{wall_s(s):7.2f} {s.executor_ms / 1e3:8.1f} {s.tasks:5d} "
        f"{s.gc_ms / 1e3:5.1f}  "
        f"[{stage_desc.get(s.stage_id, '?')}] {s.name[:70]}"
    )
