"""SparkSession factory.

Defaults tuned for the sandbox (local[N], single JVM) but every knob is
what we would set on a real multi-executor cluster: AQE on (runtime
coalesce + skew-join splitting complements our explicit salting),
shuffle partitions sized to cores (not the 200 default), Arrow enabled
for the pandas-UDF kernels, PySpark's per-call call-site capture off,
and — where the Python workers can import this package — the worker
daemon of ``pydaemon.py`` (the stock daemon without its per-task
re-parse of every zip archive on the worker path).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

PYDAEMON_MODULE = "mklab_focused_crawler_spark.pydaemon"
# the directory holding the package; None when the package is imported
# from an archive (spark-submit --py-files), which a daemon started with
# ``python -m`` cannot see
_pkg_dir = os.path.dirname(os.path.abspath(__file__))
PACKAGE_ROOT = os.path.dirname(_pkg_dir) if os.path.isdir(_pkg_dir) else None


def pydaemon_module(
    master: str, cwd: str, pythonpath: str, package_root: str | None = PACKAGE_ROOT
) -> str | None:
    """``spark.python.daemon.module`` for this session, or None for the
    stock daemon. The daemon starts as ``python -m <module>`` in the
    JVM's working directory with the JVM's PYTHONPATH (plus Spark's own
    zips), so the module is only safe where those reach the package
    directory: local mode (one JVM, no executor working directories),
    with the package root the cwd or a PYTHONPATH entry. A daemon
    module that fails to import would fail every Python task."""
    if package_root is None or not re.fullmatch(r"local(\[.*\])?", master):
        return None
    root = os.path.realpath(package_root)
    entries = [cwd] + [p for p in pythonpath.split(os.pathsep) if p]
    # a relative entry resolves against the daemon's cwd
    if any(os.path.realpath(os.path.join(cwd, p)) == root for p in entries):
        return PYDAEMON_MODULE
    return None


def _worker_start_env() -> tuple[str, str]:
    """(cwd, PYTHONPATH) a local-mode Python daemon starts with: the
    JVM's, fixed when the gateway launched (maybe by an earlier
    session, before a chdir)."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    if jvm is None:
        return os.getcwd(), os.environ.get("PYTHONPATH", "")
    system = jvm.java.lang.System
    return system.getProperty("user.dir"), system.getenv("PYTHONPATH") or ""


def get_spark(
    app_name: str = "mklab_focused_crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; on a real cluster this would be 2-3x total cores.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = cpus if n == "*" else int(n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # no per-call Python call-site capture: with it on, every Column
        # or DataFrame call walks the Python stack and adds gateway
        # round-trips (a fixed driver cost per expression node). Errors
        # still carry the JVM message, without the Python file:line
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # generated-class cache: the default 100 entries (LRU per hash
        # segment) is smaller than one crawl super-step's working set of
        # ~30 classes compiled once by the driver and once under the
        # executor classloader, so identical classes recompiled every
        # iteration (a ~120 KB projection among them)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    daemon = pydaemon_module(master, *_worker_start_env())
    if daemon is not None:
        builder = builder.config("spark.python.daemon.module", daemon)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # diagnostics hook: SPARK_GRAFT_CONF="k=v;k=v" (e.g. event log for
    # per-job utilization profiling) without touching call sites
    for kv in filter(None, os.environ.get("SPARK_GRAFT_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
