"""SparkSession factory.

Defaults tuned for the sandbox (local[N], single JVM) but every knob is
what we would set on a real multi-executor cluster: AQE on (runtime
coalesce + skew-join splitting complements our explicit salting),
shuffle partitions sized to cores (not the 200 default), Arrow enabled
for the pandas-UDF kernels, PySpark's per-call call-site capture off.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
