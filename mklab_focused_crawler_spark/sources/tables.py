"""Parquet table loaders for the driver-provided fixture tables.

Replaces the reference's ingress spouts (RedisSpout.java:110-117,
MongoDbSpout.java:82-98 — JSON strings from Redis/Mongo) with declarative
parquet scans: Catalyst pushes filters and prunes columns into the scan,
which the reference's per-tuple JSON parse could never do.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Skip the scan-widening shuffle below this size: tables this small are
# broadcast-join dims (region/nation/supplier) whose queries never have
# a scan-bound first stage worth an exchange.
_WIDEN_MIN_BYTES = 64 * 1024


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def dataset_key(path: str) -> tuple:
    """File identity of a parquet dataset: (path, mtime_ns, size), and
    for a Spark-written DIRECTORY every data file's (relpath, size,
    mtime_ns), walked recursively. A rewrite that replaces part files in
    place changes the key even when the directory's own stat doesn't
    (same entry count leaves dir mtime unchanged on some filesystems).
    The one "same dataset" rule: the scan memo below and every
    per-corpus artifact cache key on it."""
    st = os.stat(path)
    key: tuple = (path, st.st_mtime_ns, st.st_size)
    if os.path.isdir(path):
        parts = []
        for root, dirs, files in os.walk(path):
            # _SUCCESS / .crc / _temporary don't carry data
            dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
            for f in sorted(files):
                if f.startswith((".", "_")):
                    continue
                fp = os.path.join(root, f)
                ps = os.stat(fp)
                parts.append((os.path.relpath(fp, path), ps.st_size, ps.st_mtime_ns))
        key = key + (tuple(parts),)
    return key


def _widen_parts(spark: SparkSession, path: str) -> int:
    """Unsplittable-tiny-scan guard: the round-robin partition count to
    widen a scan to, or 0 to leave it as planned.

    Spark assigns scan tasks by byte splits (``files.maxPartitionBytes``),
    and a parquet row group is the smallest splittable unit — so a table
    that fits in one small file runs its ENTIRE scan + first map stage in
    one task regardless of cores. At fixture scale every table is one
    sub-megabyte file, which serializes the tokenize/shingle/decode map
    work that dominates the documents/embeddings queries. When the
    estimated split count is well under the session's parallelism, pay
    one tiny round-robin exchange (the whole table is < a few MB here) to
    fan the map work across all cores. At production scale the estimate
    exceeds parallelism and this is a no-op — the gate exists precisely
    because 100 TB inputs and local fixtures need different physical
    plans for the same logical one. Filters still reach the scan: Catalyst
    pushes predicates through Repartition, so pushdown/pruning tests and
    plans are unchanged below the exchange.
    """
    par = spark.sparkContext.defaultParallelism
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    max_split = int(raw.rstrip("bB")) if raw.rstrip("bB").isdigit() else 134217728
    nbytes = _dir_bytes(path)
    est_splits = max(1, -(-nbytes // max_split))
    if nbytes < _WIDEN_MIN_BYTES or est_splits * 2 >= par:
        return 0
    return par


# (SparkContext, *dataset_key) -> (inferred schema, _widen_parts). A
# parquet read without a schema runs one footer-reading Spark job, and
# the widen decision costs a conf read, a parallelism lookup and a
# directory walk: both are paid once per session and file version, and
# later reads pass the remembered schema (the reference declares each
# stream's fields once, up front: declareOutputFields). A rewritten
# file has a new key and is inferred afresh.
_SCANS: dict[tuple, tuple[StructType, int]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (spark.sparkContext,) + dataset_key(path)
    scan = _SCANS.get(key)
    if scan is None:
        inferred = spark.read.parquet(path).schema
        scan = _SCANS.setdefault(key, (inferred, _widen_parts(spark, path)))
    schema, parts = scan
    df = spark.read.schema(schema).parquet(path)
    return df.repartition(parts) if parts else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
