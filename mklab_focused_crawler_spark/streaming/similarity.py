"""Streaming embedding ingestion: an incremental IVF vector index.

The batch ANN path (``operators/similarity.ivf_topk``) re-assigns the
whole corpus per query; a training-data pipeline ingests embeddings
continuously. This module maintains the FAISS-shaped inverted-list
layout AS A TABLE: each micro-batch of vectors is quantized, assigned
to its nearest coarse centroid (the batch operator's ``ivf_assign``
kernel: one int64 GEMM per Arrow batch against the broadcast codebook,
zero shuffle for assignment), and appended to a ``list_id``-partitioned
SnapshotTable. Queries prune to the n_probe nearest lists' partitions —
the storage layout IS the index.

Ingest and query call the same ``ivf_assign`` as the batch operator,
so querying the streamed store is EXACTLY the batch answer on the
union of ingested batches (asserted in tests, default and trained
big-k codebooks), independent of how arrival split the corpus.

Reference parity: VisualIndexerBolt.java hands vectors to an external
index service at ingestion; here the index is Spark-native storage +
a partition-pruned join (SURVEY §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    N_PROBE,
    PROBE_MOD,
    TOP_K,
    ivf_assign,
    ivf_probe_topk,
    qnorm2,
    quantized,
)
from ..storage.snapshot import SnapshotTable

INDEX_NAME = "ivf_lists"


def run_streaming_ivf_ingest(
    stream: DataFrame,
    store_root: str,
    checkpoint_dir: str,
    centroids: list[list[int]] | None = None,
    compact_every: int | None = None,
) -> SnapshotTable:
    """embeddings stream (vec_id, embedding) → list-partitioned index.

    Stored row: (vec_id, q, n2, list_id) — the quantized vector and its
    norm ride the index so queries never touch the raw float columns.
    Appends only write the touched list partitions."""
    index = SnapshotTable(store_root, INDEX_NAME, partition_by=("list_id",))

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        q = batch_df.filter(F.col("embedding").isNotNull()).select(
            F.col("vec_id").cast("long").alias("vec_id"),
            quantized(F.col("embedding")).alias("q"),
        ).withColumn("n2", qnorm2(F.col("q")))
        assigned = ivf_assign(q, centroids, 1).select(
            "vec_id", "q", "n2", F.element_at("ranked", 1).alias("list_id")
        ).persist()
        # empty guard: a 0-row write to a partitioned table creates a
        # data dir with no parquet files, and every later per-dir union
        # read would fail schema inference. Tag = replay idempotence
        # (an untagged re-append would duplicate vectors and let the
        # same neighbor occupy two top-k ranks).
        if assigned.count() > 0:
            index.append(assigned, tag=f"b{batch_id}")
        assigned.unpersist()
        if compact_every and (batch_id + 1) % compact_every == 0:
            # incremental maintenance: fold only the lists fragmented
            # since the last pass; untouched lists' files don't move
            # (see streaming/dedup.py rationale)
            frag = index.fragmented_partitions("list_id")
            if frag:
                index.compact_partitions(
                    batch_df.sparkSession, "list_id", frag
                )
            # only the current batch can still replay — older tags are
            # past the checkpoint horizon (interface.prune_tags rule)
            index.prune_tags([f"b{batch_id}"])
            index.expire_snapshots(keep_last=1)

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return index


def ivf_index_topk(
    spark: SparkSession,
    store_root: str,
    k: int = TOP_K,
    n_probe: int = N_PROBE,
    centroids: list[list[int]] | None = None,
    probe_mod: int = PROBE_MOD,
) -> DataFrame:
    """Multi-probe top-k over the streamed index — same output schema
    and values as batch ``ivf_topk`` over the full ingested corpus
    (probes = stored vec_id % probe_mod == 0; their ranked lists are
    recomputed from the stored quantized vector by ``ivf_assign``, a
    narrow map).

    The candidate join and rank tail are batch ``ivf_probe_topk``: ONE
    equi-join on list_id against the partitioned store; a single-list
    probe prunes to one partition directory at scan time."""
    idx = SnapshotTable(store_root, INDEX_NAME, partition_by=("list_id",)).read(spark)
    probe_rows = ivf_assign(
        idx.filter(F.col("vec_id") % probe_mod == 0), centroids, n_probe
    ).select("vec_id", "q", "n2", F.explode("ranked").alias("list_id"))
    return ivf_probe_topk(probe_rows, idx, k)
