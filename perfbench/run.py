"""Crawler benchmark: one run of one workload, in one process.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 10 --trace 0

Builds the workload's inputs from --seed, starts Spark at local[N] with
N = the CPUs this process may run on, sets up and warms up untimed,
measures for --seconds, checks the outputs untimed, and prints as its
last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics; --trace 1 turns
on Spark's event log and reports the per-layer metrics. The line before
it carries the same run's metrics under the workload's own names.
Everything the run writes stays under .perfbench_work/ in the checkout.
Exit code 0 only when every call succeeded and every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("crawl_extract", "corpus_batch")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(workdir: str, trace: bool) -> None:
    """Spark settings go through the program's own environment hooks
    (session.get_spark reads SPARK_GRAFT_CPUS and SPARK_GRAFT_CONF)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")  # Python workers
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # the program defaults to an 8 GB driver heap; 3 GB keeps a run within
    # a 16 GB host that other work shares
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}",
    ]
    if trace:
        os.makedirs(os.path.join(workdir, "eventlog"))
        conf += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{os.path.join(workdir, 'eventlog')}",
        ]
    os.environ["SPARK_GRAFT_CONF"] = ";".join(conf)


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for
    every child process to end."""
    from pyspark import SparkContext

    from perfbench.trace import _descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while (kids := _descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in kids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in kids:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def trace_overhead(run, latency: float) -> float:
    """Traced minus untraced end-to-end latency. Every untraced run
    records its latency in the checkout under the code digest, workload
    and seed; a traced run pairs with the untraced runs of the same
    code, workload and seed, or failing those of any seed (0 when the
    checkout holds no untraced run of this code and workload)."""
    from perfbench.harness import median

    if not run.trace:
        run.history("untraced_latency_s", latency)
        return 0.0
    past = run.history("untraced_latency_s") or run.history("untraced_latency_s", any_seed=True)
    if not past:
        print("perfbench: no untraced run of this code to pair with", file=sys.stderr)
        return 0.0
    return latency - median(past)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mklab_focused_crawler_spark")):
        print("perfbench: the program (mklab_focused_crawler_spark) is missing", file=sys.stderr)
        return 2
    # import the benchmark as a package from the checkout root, not its
    # modules from the script directory (trace.py would shadow the stdlib)
    here = os.path.realpath(os.path.dirname(os.path.abspath(__file__)))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.realpath(p or ".") != here]
    from perfbench import eventlog
    from perfbench.harness import Run, code_digest
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.trace import HostSampler, Tracer

    workdir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    configure_env(workdir, bool(args.trace))
    sampler = HostSampler().start()
    try:
        from mklab_focused_crawler_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        jvm_s = time.perf_counter() - t0
        run = Run(spark, Tracer(spark), args.workload, workdir, args.seed, args.seconds,
                  bool(args.trace), code_digest(ROOT))
        run.layer["session.jvm_start_s"] = jvm_s
        try:
            if args.workload == "crawl_extract":
                from perfbench.crawl import run_crawl as fn
            else:
                from perfbench.corpus import run_corpus as fn
            fn(run, jvm_s)
        finally:
            stop_spark(spark)
            sampler.stop()
        run.layer["peak_rss_mb"] = sampler.peak_rss / 2**20
        shares = sampler.cpu_shares()
        run.layer["host.steal_pct"] = shares["steal_pct"]
        run.layer["host.system_pct"] = shares["system_pct"]
        run.layer["trace.overhead_s"] = trace_overhead(run, run.e2e["latency_p50_s"])
        if args.trace:
            log = eventlog.parse(os.path.join(workdir, "eventlog"))
            for post in run.post:
                post(log)
            stem = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}")
            os.makedirs(os.path.dirname(stem), exist_ok=True)
            run.tracer.dump(stem + ".spans.jsonl")
            with open(stem + ".jobs.json", "w") as f:
                json.dump(log.by_description(), f, indent=1, sort_keys=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    correct = run.failed == 0
    values = run.layer if args.trace else run.e2e
    catalogue = PER_LAYER if args.trace else END_TO_END
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "error_ratio": run.error_ratio,
                "peak_rss_mb": run.layer["peak_rss_mb"],
                "peak_rss_jvm_mb": sampler.peak_jvm_rss / 2**20,
                "peak_rss_python_mb": sampler.peak_py_rss / 2**20,
                "setup_s": run.e2e["setup_s"],
                **run.report,
                **shares,
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    name: {"value": float(values.get(name, 0.0)), "unit": spec[0]}
                    for name, spec in catalogue.items()
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
