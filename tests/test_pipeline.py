"""Composed-pipeline tests beyond the oracle parity layer: the
single-scan plan contract (downstream stages read the materialized
intermediate tables, never the base corpus) and the packed-output
structural invariants (chunk fullness, piece contiguity, provenance
join-back)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from conftest import SF_DIR

from mklab_focused_crawler_spark.operators import pipeline as P
from mklab_focused_crawler_spark.operators.packing import SEQ_LEN


def _build(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    caches: list = []
    df = P.pipeline_e2e(spark, docs, caches=caches, workdir=str(tmp_path))
    return df, caches


def test_final_plan_reads_only_intermediate_tables(spark, tmp_path):
    """The corpus-scan contract: after the text chain commits its
    outputs as tables, the RETURNED plan must scan only those tables —
    a stage that silently re-derives from the base corpus would show a
    documents.parquet scan here (and at 100 TB re-run the whole chain
    once per consumer)."""
    df, caches = _build(spark, tmp_path)
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "documents.parquet" not in plan
        assert str(tmp_path) in plan  # the committed intermediates
    finally:
        for f in caches:
            f.unpersist()


def test_packed_output_structure(spark, tmp_path):
    """Every chunk except each shard's last packs exactly SEQ_LEN
    tokens; within a (shard, chunk) the pieces are ordered by pos with
    no overlap; (shard, pos) maps to exactly one surviving doc; chunk
    ids per shard are a dense 0..max range."""
    df, caches = _build(spark, tmp_path)
    try:
        rows = df.collect()
    finally:
        for f in caches:
            f.unpersist()
    assert rows, "pipeline must keep a non-trivial corpus subset"

    by_chunk = defaultdict(list)
    doc_of = {}
    for r in rows:
        by_chunk[(r["shard_id"], r["chunk_id"])].append(r)
        prev = doc_of.setdefault((r["shard_id"], r["pos"]), r["doc_id"])
        assert prev == r["doc_id"], "one doc per (shard, pos)"

    last_chunk = {}
    for (sh, ch) in by_chunk:
        last_chunk[sh] = max(last_chunk.get(sh, -1), ch)
    for sh, mx in last_chunk.items():
        chunks = {ch for (s, ch) in by_chunk if s == sh}
        assert chunks == set(range(mx + 1)), f"shard {sh} chunk ids dense"

    for (sh, ch), pieces in by_chunk.items():
        total = sum(p["piece_len"] for p in pieces)
        if ch < last_chunk[sh]:
            assert total == SEQ_LEN, f"shard {sh} chunk {ch} packs {total}"
        else:
            assert 0 < total <= SEQ_LEN
        for p in pieces:
            assert p["piece_len"] > 0 and p["piece_start"] >= 0


def test_survivors_are_a_subset_with_provenance(spark, tmp_path):
    """Output doc_ids are pipeline-corpus ids (base or augmented
    copies) and each carries its original source."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    aug = {
        (r["doc_id"], r["source"])
        for r in P.pipeline_augment(docs).select("doc_id", "source").collect()
    }
    df, caches = _build(spark, tmp_path)
    try:
        rows = df.select("doc_id", "source").distinct().collect()
    finally:
        for f in caches:
            f.unpersist()
    assert rows
    for r in rows:
        assert (r["doc_id"], r["source"]) in aug


def test_default_workdir_is_private_per_call(spark):
    """Two builds in one process with the DEFAULT workdir must not share
    intermediate tables: the first build's frame, collected after a
    second build over other documents, equals a build of the first
    document set alone."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    caches: list = []
    try:
        df_first = P.pipeline_e2e(spark, first, caches=caches)
        df_second = P.pipeline_e2e(spark, second, caches=caches)
        got = sorted(tuple(r) for r in df_first.collect())
        other = sorted(tuple(r) for r in df_second.collect())
        alone = sorted(
            tuple(r) for r in P.pipeline_e2e(spark, first, caches=caches).collect()
        )
    finally:
        for f in caches:
            f.unpersist()
    assert got == alone and got
    assert got != other
