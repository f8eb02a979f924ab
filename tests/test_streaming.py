"""Structured Streaming jobs: batch/stream parity + watermark behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from mklab_focused_crawler_spark.streaming.dedup import LSH_KEY_BUCKETS
from mklab_focused_crawler_spark.operators.trending import (
    COUNT_WINDOW,
    rolling_top_events,
)
from mklab_focused_crawler_spark.streaming.jobs import (
    read_events_stream,
    run_to_memory_sink,
    windowed_event_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def test_stream_counts_match_batch(spark, tmp_path):
    # file stream source needs a directory; stage the fixture file
    import shutil

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", in_dir / "events.parquet")
    stream = read_events_stream(spark, str(in_dir))
    counts = windowed_event_counts(stream)
    run_to_memory_sink(counts, "stream_counts", str(tmp_path / "ckpt"))

    got = {
        (r["window_start_ms"], r["event_type"]): r["cnt"]
        for r in spark.table("stream_counts").collect()
    }
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(
            F.unix_millis(
                F.window("ts", COUNT_WINDOW)["start"].cast("timestamp")
            ).alias("window_start_ms"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    want = {(r["window_start_ms"], r["event_type"]): r["cnt"] for r in batch}
    assert got == want and len(got) > 0

    # and the batch top-k operator agrees with its own count stage
    topk = rolling_top_events(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    for r in topk.collect():
        assert want[(r["window_start_ms"], r["event_type"])] == r["cnt"]


def test_stateful_trend_candidates_match_batch(spark, tmp_path):
    """applyInPandasWithState rolling-trend op vs its batch twin — one
    micro-batch covering the whole fixture (availableNow)."""
    import shutil

    from mklab_focused_crawler_spark.streaming.stateful import (
        batch_trend_candidates,
        candidate_from_ring,
        streaming_trend_candidates,
    )

    # the pure rule, pinned
    assert candidate_from_ring([1, 2, 3, 4, 5], [1, 1, 2, 4, 7])
    assert not candidate_from_ring([1, 2, 3, 4, 6], [1, 1, 2, 4, 7])  # gap
    assert not candidate_from_ring([1, 2, 3, 4, 5], [5, 4, 4, 4, 4])  # not mono
    assert not candidate_from_ring([1, 2, 3, 4, 5], [1, 4, 5, 6, 7])  # decel

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", in_dir / "events.parquet")
    # inject a synthetic accelerating surge (counts 1,1,2,4,8 over five
    # consecutive windows) so the candidate set is provably non-empty,
    # plus a decelerating decoy that must NOT fire
    import pandas as pd

    base = pd.Timestamp("2030-01-01")
    rows = []
    for w, n in enumerate([1, 1, 2, 4, 8]):
        for i in range(n):
            rows.append((90000 + len(rows), base + pd.Timedelta(hours=w, minutes=i), 1, "surge", 0.0, "{}"))
    for w, n in enumerate([1, 8, 9, 10, 11]):  # decel deltas 7,1,1,1
        for i in range(n):
            rows.append((95000 + len(rows), base + pd.Timedelta(hours=w, minutes=i), 1, "decoy", 0.0, "{}"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    synth_pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    # SPLIT the surge term's newest window across two files (two
    # micro-batches at maxFilesPerTrigger=1): the first batch sees ring
    # [1,1,2,4,6] (monotone+accelerating → a PARTIAL candidate emits
    # with cnt=6), the second adds the remaining 2 events and re-emits
    # cnt=8 — exercising the documented at-least-once / monotone-refine
    # emission contract instead of relying on term-disjoint files
    surge_last2 = synth_pdf[synth_pdf.event_type == "surge"].tail(2)
    first_part = synth_pdf.drop(surge_last2.index)
    pq.write_table(
        pa.Table.from_pandas(first_part, preserve_index=False),
        str(in_dir / "synth_a.parquet"),
        coerce_timestamps="us",
    )
    pq.write_table(
        pa.Table.from_pandas(surge_last2, preserve_index=False),
        str(in_dir / "synth_b.parquet"),
        coerce_timestamps="us",
    )
    stream = read_events_stream(spark, str(in_dir))
    out = streaming_trend_candidates(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("trend_candidates")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # upsert-sink semantics (see streaming_trend_candidates docstring):
    # the append-mode memory table holds every at-least-once emission;
    # the upserted value per (term, window) is the max (counts only
    # grow), and THAT must equal the batch twin exactly
    upserted: dict[tuple, int] = {}
    for r in spark.table("trend_candidates").collect():
        k = (r["term"], r["window_idx"])
        upserted[k] = max(upserted.get(k, 0), r["cnt"])
    want = {
        (r["term"], r["window_idx"]): r["cnt"]
        for r in batch_trend_candidates(spark.read.parquet(str(in_dir))).collect()
    }
    # at-least-once, never-retract contract: every batch candidate must be
    # emitted with its final count (want ⊆ upserted, equal on shared keys);
    # a prefix-only candidate that the full data later invalidates MAY
    # additionally appear in the stream — that is legitimate under the
    # contract, so strict equality would over-pin the file split
    for key, cnt in want.items():
        assert upserted.get(key) == cnt, key
    got = {(t, w, c) for (t, w), c in upserted.items()}
    # non-vacuous: the injected surge fired, the decelerating decoy didn't
    assert any(t[0] == "surge" for t in got)
    assert not any(t[0] == "decoy" for t in got)


def test_stream_domain_counts_match_batch(spark, tmp_path):
    """Streaming per-domain counters (MediaCounterBolt twin) == batch
    domain_counts' count stage over the same files."""
    import shutil

    from mklab_focused_crawler_spark.functions.urls import url_host
    from mklab_focused_crawler_spark.streaming.jobs import windowed_domain_counts

    in_dir = tmp_path / "in_dom"
    in_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", in_dir / "events.parquet")
    stream = read_events_stream(spark, str(in_dir)).withColumn(
        "url",
        F.concat(
            F.lit("http://host"),
            (F.col("event_id") % 7).cast("string"),
            F.lit(".test/p/"),
            F.col("event_id").cast("string"),
        ),
    )
    run_to_memory_sink(
        windowed_domain_counts(stream), "stream_domains", str(tmp_path / "ckpt_dom")
    )
    got = {
        (r["window_start_ms"], r["domain"]): r["cnt"]
        for r in spark.table("stream_domains").collect()
    }
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .withColumn(
            "url",
            F.concat(
                F.lit("http://host"),
                (F.col("event_id") % 7).cast("string"),
                F.lit(".test/p/"),
                F.col("event_id").cast("string"),
            ),
        )
        .groupBy(
            F.unix_millis(
                F.window("ts", COUNT_WINDOW)["start"].cast("timestamp")
            ).alias("window_start_ms"),
            url_host("url").alias("domain"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    want = {(r["window_start_ms"], r["domain"]): r["cnt"] for r in batch}
    assert got == want and len(got) > 0


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """applyInPandasWithState first-seen content dedup vs the batch
    exact_dedup twin. The duplicate COPIES stream in before the
    originals, so every group's canonical starts as a copy id and must
    refine retroactively when the smaller original id arrives — the
    upserted sink still has to converge to the batch answer exactly."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mklab_focused_crawler_spark.operators.dedup import (
        DUP_OFFSET,
        augment_corpus,
        exact_dedup,
    )
    from mklab_focused_crawler_spark.streaming.dedup import streaming_exact_dedup

    corpus = augment_corpus(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    in_dir = tmp_path / "in_dedup"
    in_dir.mkdir()
    pdf = corpus.toPandas()
    a = pdf[pdf.doc_id >= DUP_OFFSET]  # the exact/near copies
    b = pdf[pdf.doc_id < DUP_OFFSET]  # the originals (smaller ids)
    pq.write_table(
        pa.Table.from_pandas(a, preserve_index=False), str(in_dir / "a_copies.parquet")
    )
    pq.write_table(
        pa.Table.from_pandas(b, preserve_index=False),
        str(in_dir / "b_originals.parquet"),
    )
    # file source picks oldest-mtime first; pin copies before originals
    os.utime(in_dir / "a_copies.parquet", (1_000_000_000, 1_000_000_000))
    os.utime(in_dir / "b_originals.parquet", (1_000_000_100, 1_000_000_100))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # keyed upsert by doc_id under the monotone-refine contract:
    # canonical only decreases, dup_count only grows
    upserted: dict[int, tuple[str, int, int]] = {}
    canonicals_seen: dict[int, set[int]] = {}
    for r in spark.table("stream_dedup").collect():
        h, c, n = upserted.get(r["doc_id"], (r["text_hash"], 1 << 62, 0))
        assert h == r["text_hash"]
        upserted[r["doc_id"]] = (h, min(c, r["canonical_doc_id"]), max(n, r["dup_count"]))
        canonicals_seen.setdefault(r["doc_id"], set()).add(r["canonical_doc_id"])

    want = {
        r["doc_id"]: (r["text_hash"], r["canonical_doc_id"], r["dup_count"])
        for r in exact_dedup(corpus).collect()
    }
    assert upserted == want and len(want) > 0
    # non-vacuous: at least one copy's canonical genuinely refined when
    # its original arrived in the second micro-batch
    assert any(len(cs) > 1 for cs in canonicals_seen.values())


def test_streaming_lsh_deduplicates_like_batch(spark, tmp_path):
    """Incremental LSH index via foreachBatch: the deduped pair store
    over a 3-way micro-batch split (copies before originals, originals
    split so cross-batch pairs must probe the committed index) equals
    batch lsh_pairs over the whole corpus exactly."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mklab_focused_crawler_spark.operators.dedup import (
        DUP_OFFSET,
        augment_corpus,
        lsh_pairs,
    )
    from mklab_focused_crawler_spark.streaming.dedup import (
        read_streaming_lsh_pairs,
        run_streaming_lsh_dedup,
    )

    corpus = augment_corpus(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    in_dir = tmp_path / "in_lsh"
    in_dir.mkdir()
    pdf = corpus.toPandas()
    parts = [
        pdf[pdf.doc_id >= DUP_OFFSET],  # the copies arrive first
        pdf[(pdf.doc_id < DUP_OFFSET) & (pdf.doc_id % 2 == 0)],
        pdf[(pdf.doc_id < DUP_OFFSET) & (pdf.doc_id % 2 == 1)],
    ]
    for i, part in enumerate(parts):
        p = in_dir / f"batch_{i}.parquet"
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), str(p))
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    store = str(tmp_path / "lsh_store")
    run_streaming_lsh_dedup(
        stream, store, str(tmp_path / "ckpt_lsh"), key_buckets=LSH_KEY_BUCKETS
    )

    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in read_streaming_lsh_pairs(spark, store).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"]) for r in lsh_pairs(corpus).collect()
    }
    assert got == want and len(want) > 0
    # non-vacuous split: some pair spans micro-batches (one side in the
    # copies file, the other in an originals file)
    copies = set(parts[0].doc_id)
    originals = set(pdf[pdf.doc_id < DUP_OFFSET].doc_id)
    assert any(
        (a in originals and b in copies) or (a in copies and b in originals)
        for a, b, _ in got
    )


def test_streaming_ivf_index_matches_batch(spark, tmp_path):
    """Incremental IVF index: stream the embeddings in 3 micro-batches,
    then query the list-partitioned store — must equal batch ivf_topk
    over the full corpus exactly (ingest, query and batch share the one
    ivf_assign kernel, so only the plumbing can break this). Two inputs:
    the fixture corpus under the default codebook, and a clustered
    corpus under a trained codebook with k=72 lists (above the old
    64-list expression/kernel boundary, which the streaming path used
    to bypass). A third query reads the fixture store with probe_mod=10
    (not PROBE_MOD): its probes are exactly the stored multiples of 10,
    and its rows for multiples of PROBE_MOD equal batch ivf_topk."""
    import os

    from test_similarity import _clustered_embeddings

    from mklab_focused_crawler_spark.operators import similarity as sim
    from mklab_focused_crawler_spark.streaming.similarity import (
        ivf_index_topk,
        run_streaming_ivf_ingest,
    )

    fixture = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # float32-exact values: the cast only matches the stream's schema
    clustered = _clustered_embeddings(
        spark, n_clusters=24, per_cluster=30
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    trained = sim.train_ivf_codebook(
        ((r["vec_id"], r["embedding"]) for r in clustered.collect()), k=72
    )
    assert len(trained) > 64 > sim.K_LISTS

    cols = ("probe_id", "vec_id", "list_id", "rank", "dot_q", "cosine")
    wants = {}
    for name, emb, cents in (
        ("default", fixture, None),
        ("trained", clustered, trained),
    ):
        pdf = emb.toPandas()
        in_dir = tmp_path / f"in_ivf_{name}"
        _write_batches(in_dir, [pdf[pdf.vec_id % 3 == i] for i in range(3)])
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        store = str(tmp_path / f"ivf_store_{name}")
        index = run_streaming_ivf_ingest(
            stream,
            store,
            str(tmp_path / f"ckpt_ivf_{name}"),
            centroids=cents,
            compact_every=2,
        )

        got = {
            tuple(r[c] for c in cols)
            for r in ivf_index_topk(spark, store, centroids=cents).collect()
        }
        want = {
            tuple(r[c] for c in cols)
            for r in sim.ivf_topk(emb, centroids=cents).collect()
        }
        assert got == want and len(want) > 0, name
        wants[name] = want
        # the storage layout IS the index: hive partition dirs per list
        data_dirs = [
            os.path.join(index.data_dir, d) for d in os.listdir(index.data_dir)
        ]
        assert any(
            e.startswith("list_id=") for d in data_dirs for e in os.listdir(d)
        )
        # maintenance ran inside the stream (partition-scoped): after the
        # batch-1 fold + the batch-2 append, no list's live rows span
        # more than 2 segments (one compacted + at most one post-fold
        # append) — bounded per-list read amplification however long
        # the stream runs
        assert index.fragmented_partitions("list_id", min_segments=3) == []

    got10 = ivf_index_topk(
        spark, str(tmp_path / "ivf_store_default"), probe_mod=10
    ).collect()
    stored = [r["vec_id"] for r in fixture.select("vec_id").collect()]
    assert {r["probe_id"] for r in got10} == {v for v in stored if v % 10 == 0}
    assert {
        tuple(r[c] for c in cols)
        for r in got10
        if r["probe_id"] % sim.PROBE_MOD == 0
    } == wants["default"]


def test_streaming_duplicate_clusters_match_batch(spark, tmp_path):
    """Incremental connected components over the streamed dedup
    evidence (exact groups ∪ verified LSH pairs): after the last
    micro-batch, the overwritten clusters table equals batch
    duplicate_clusters over the whole corpus."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mklab_focused_crawler_spark.operators.dedup import (
        DUP_OFFSET,
        augment_corpus,
        duplicate_clusters,
    )
    from mklab_focused_crawler_spark.streaming.dedup import (
        run_streaming_duplicate_clusters,
    )

    corpus = augment_corpus(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    in_dir = tmp_path / "in_cc"
    in_dir.mkdir()
    pdf = corpus.toPandas()
    parts = [
        pdf[pdf.doc_id >= DUP_OFFSET],
        pdf[(pdf.doc_id < DUP_OFFSET) & (pdf.doc_id % 2 == 0)],
        pdf[(pdf.doc_id < DUP_OFFSET) & (pdf.doc_id % 2 == 1)],
    ]
    for i, part in enumerate(parts):
        p = in_dir / f"batch_{i}.parquet"
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), str(p))
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    store = str(tmp_path / "cc_store")
    tables = run_streaming_duplicate_clusters(
        stream, store, str(tmp_path / "ckpt_cc"), compact_every=2,
        key_buckets=LSH_KEY_BUCKETS,
    )
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in tables["clusters"].read(spark).collect()
    }
    want = {
        (r["doc_id"], r["cluster_id"])
        for r in duplicate_clusters(spark, corpus).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_lsh_flood_pre_collapse(spark, tmp_path):
    """An exact-duplicate boilerplate flood inside one micro-batch must
    pre-collapse to a single banded canonical (no hot bucket fires even
    at a tiny forced cap) while the expanded pair store still carries
    the complete C(n,2) pair set at jaccard 1.0 — the streaming twin of
    tests/test_lsh_recall.py::test_exact_flood_pre_collapse."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mklab_focused_crawler_spark.streaming.dedup import (
        read_streaming_lsh_pairs,
        run_streaming_lsh_dedup,
    )

    n = 300
    pdf = pd.DataFrame(
        {"doc_id": range(n), "text": ["the same boilerplate page body"] * n}
    )
    in_dir = tmp_path / "in_flood"
    in_dir.mkdir()
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        str(in_dir / "batch.parquet"),
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    store = str(tmp_path / "flood_store")
    tables = run_streaming_lsh_dedup(
        stream, store, str(tmp_path / "ckpt_flood"), bucket_cap=50,
        key_buckets=LSH_KEY_BUCKETS,
    )
    assert not tables["hot"].exists()  # cap never fired: 1 canonical/bucket
    pairs = read_streaming_lsh_pairs(spark, store)
    assert pairs.count() == n * (n - 1) // 2
    assert pairs.filter(F.col("jaccard") != 1.0).count() == 0


def test_snapshot_append_tag_is_idempotent(spark, tmp_path):
    """A replayed tagged append (foreachBatch at-least-once) is a no-op;
    tags survive compaction and expiry."""
    from mklab_focused_crawler_spark.storage.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path), "tagged")
    df = spark.createDataFrame([(1,), (2,)], "x long")
    t.append(df, tag="b0")
    t.append(df, tag="b0")  # replay: must not double rows
    assert t.read(spark).count() == 2
    t.compact(spark)
    t.expire_snapshots(keep_last=1)
    t.append(df, tag="b0")  # still remembered after compact+expire
    assert t.read(spark).count() == 2
    t.append(df, tag="b1")  # a genuinely new batch appends
    assert t.read(spark).count() == 4


def test_streaming_lsh_replay_batch_is_idempotent(spark, tmp_path):
    """Re-processing an already-committed micro-batch (foreachBatch
    at-least-once replay after a crash-before-checkpoint) must leave
    every store unchanged — the per-batch tags make the index commits
    no-ops and the recomputed pairs carry an already-seen tag."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mklab_focused_crawler_spark.operators.dedup import (
        DUP_OFFSET,
        augment_corpus,
    )
    from mklab_focused_crawler_spark.streaming.dedup import (
        _lsh_process_batch,
        _make_lsh_tables,
        run_streaming_lsh_dedup,
    )

    corpus = augment_corpus(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    in_dir = tmp_path / "in_replay"
    in_dir.mkdir()
    pdf = corpus.toPandas()
    parts = [pdf[pdf.doc_id >= DUP_OFFSET], pdf[pdf.doc_id < DUP_OFFSET]]
    for i, part in enumerate(parts):
        p = in_dir / f"batch_{i}.parquet"
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), str(p))
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    store = str(tmp_path / "replay_store")
    tables = run_streaming_lsh_dedup(
        stream, store, str(tmp_path / "ckpt_replay"), key_buckets=LSH_KEY_BUCKETS
    )

    before = {
        name: t.read(spark).count()
        for name, t in tables.items()
        if t.exists()
    }
    # replay micro-batch 1 (the originals file) against the same stores
    replay_df = spark.createDataFrame(parts[1], "doc_id long, text string")
    _lsh_process_batch(
        replay_df, 1, _make_lsh_tables(store), None, None, spark
    )
    after = {
        name: t.read(spark).count()
        for name, t in _make_lsh_tables(store).items()
        if t.exists()
    }
    assert after == before


def test_streaming_lsh_probe_scans_only_touched_buckets(spark, tmp_path):
    """The scale gate for the streaming index (VERDICT r3 item 1): a
    micro-batch's band probe must scan ONLY the partition directories of
    the key buckets the batch's own bands touch — per-batch index IO ∝
    the batch, never ∝ the accumulated index."""
    import os
    import re

    import pandas as pd

    from mklab_focused_crawler_spark.streaming.dedup import (
        _lsh_process_batch,
        _make_lsh_tables,
    )

    tables = _make_lsh_tables(str(tmp_path / "store"))
    # batch 0: a wide corpus — unique vocabularies spread band keys over
    # (essentially) every key bucket, building a broad index
    wide = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(300),
                "text": [
                    " ".join(f"d{d}w{i}" for i in range(12)) for d in range(300)
                ],
            }
        )
    )
    _lsh_process_batch(wide, 0, tables, None, None, spark)
    seg_dirs = [
        os.path.join(tables["bands"].data_dir, d)
        for d in os.listdir(tables["bands"].data_dir)
    ]
    total_buckets = {
        e for d in seg_dirs for e in os.listdir(d) if e.startswith("key_bucket=")
    }
    assert len(total_buckets) > 40  # the index genuinely spans most buckets

    # batch 1: ONE doc → at most 32 band keys → at most 32 buckets
    one = spark.createDataFrame(
        pd.DataFrame({"doc_id": [9999], "text": [" ".join(f"solo{i}" for i in range(12))]})
    )
    stats = _lsh_process_batch(one, 1, tables, None, None, spark)
    assert 0 < stats["touched_key_buckets"] <= 32
    scanned_buckets = {
        m.group(0)
        for f in stats["probe_files"]
        for m in [re.search(r"key_bucket=\d+", f)]
        if m
    }
    # scanned ⊆ touched (∝ the batch), strictly smaller than the index
    assert len(scanned_buckets) <= stats["touched_key_buckets"]
    assert len(scanned_buckets) < len(total_buckets)


def test_streaming_lsh_maintenance_is_partition_scoped(spark, tmp_path):
    """The compact_every pass must be incremental: it folds ONLY the
    buckets fragmented since the last pass — a bucket no recent batch
    touched keeps its files byte-identical (paths + mtimes), so
    maintenance cost is ∝ recent ingestion, never ∝ the accumulated
    index; and right after a pass no bucket's live rows span ≥2
    segments (bounded read amplification for the probe join)."""
    import os

    import pandas as pd

    from mklab_focused_crawler_spark.streaming.dedup import (
        _lsh_process_batch,
        _make_lsh_tables,
    )

    def frame(prefix, n):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": range(n),
                    "text": [
                        " ".join(f"{prefix}{d}w{i}" for i in range(12))
                        for d in range(n)
                    ],
                }
            )
        )

    wide0, wide1 = frame("a", 120), frame("b", 120)
    tiny2, tiny3 = frame("c", 1), frame("d", 1)

    # band keys are content hashes — a dry run against a scratch store
    # reveals which buckets the upcoming tiny batches will touch
    scratch = _make_lsh_tables(str(tmp_path / "scratch"))
    upcoming = set(
        _lsh_process_batch(tiny2, 0, scratch, None, None, spark)["touched_buckets"]
    ) | set(
        _lsh_process_batch(tiny3, 1, scratch, None, None, spark)["touched_buckets"]
    )
    assert len(upcoming) < 64  # some buckets stay quiet

    tables = _make_lsh_tables(str(tmp_path / "store"))
    _lsh_process_batch(wide0, 0, tables, None, 2, spark)
    _lsh_process_batch(wide1, 1, tables, None, 2, spark)  # maintenance fires
    bands_t = tables["bands"]
    assert bands_t.fragmented_partitions("key_bucket") == []

    def quiet_state():
        out = []
        for seg in sorted(os.listdir(bands_t.data_dir)):
            segp = os.path.join(bands_t.data_dir, seg)
            for d in sorted(os.listdir(segp)):
                if not d.startswith("key_bucket="):
                    continue
                if int(d.split("=", 1)[1]) in upcoming:
                    continue
                dp = os.path.join(segp, d)
                for f in sorted(os.listdir(dp)):
                    p = os.path.join(dp, f)
                    out.append((p, os.path.getmtime(p), os.path.getsize(p)))
        return out

    before = quiet_state()
    assert before  # the invariant is vacuous without quiet buckets
    _lsh_process_batch(tiny2, 2, tables, None, 2, spark)
    _lsh_process_batch(tiny3, 3, tables, None, 2, spark)  # maintenance fires
    assert quiet_state() == before  # quiet buckets' files never moved
    assert bands_t.fragmented_partitions("key_bucket") == []


def _write_batches(in_dir, frames):
    """Stage pandas frames as one parquet file per micro-batch, mtime-
    ordered so the file source replays them in list order."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    in_dir.mkdir(exist_ok=True)
    for i, pdf in enumerate(frames):
        p = in_dir / f"batch_{i}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(p))
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))


def test_streaming_clusters_driver_work_proportional_to_batch(spark, tmp_path):
    """VERDICT r3 item 2's scale contract: per batch, driver rows
    are ∝ the batch (its bucket lists, edges and their labels) — NOT ∝
    the accumulated evidence. A one-doc, zero-edge batch after a big
    batch must bring back O(1) driver rows."""
    import pandas as pd

    from mklab_focused_crawler_spark.operators.dedup import BANDS, augment_corpus
    from mklab_focused_crawler_spark.streaming.dedup import (
        run_streaming_duplicate_clusters,
    )

    corpus = augment_corpus(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    pdf = corpus.toPandas()
    solo = pd.DataFrame(
        {"doc_id": [10**7], "text": [" ".join(f"hermit{i}" for i in range(15))]}
    )
    in_dir = tmp_path / "in_prop"
    _write_batches(in_dir, [pdf, solo])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    stats: list = []
    run_streaming_duplicate_clusters(
        stream, str(tmp_path / "prop_store"), str(tmp_path / "ckpt_prop"),
        stats_out=stats, key_buckets=LSH_KEY_BUCKETS,
    )
    assert stats[0]["driver_rows"] > 100  # the big batch folded real work
    # the zero-edge batch brings back only its band keys' bucket list
    # (no candidate, no edge, no label): at most one row per band
    assert 0 < stats[1]["driver_rows"] <= BANDS


def test_streaming_clusters_replay_is_idempotent(spark, tmp_path):
    """Replaying an already-committed micro-batch after a simulated
    restart (fresh in-memory state rebuilt from the persisted tables)
    must leave every store unchanged: label folding is monotone, so the
    delta is empty and no commit happens."""
    import pandas as pd

    from mklab_focused_crawler_spark.operators.dedup import (
        DUP_OFFSET,
        augment_corpus,
    )
    from mklab_focused_crawler_spark.storage.snapshot import SnapshotTable
    from mklab_focused_crawler_spark.streaming.dedup import (
        _clusters_process_batch,
        _make_lsh_tables,
    )

    corpus = augment_corpus(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    pdf = corpus.toPandas()
    parts = [pdf[pdf.doc_id >= DUP_OFFSET], pdf[pdf.doc_id < DUP_OFFSET]]
    store = str(tmp_path / "cc_replay")
    tables = _make_lsh_tables(store)
    groups_t = SnapshotTable(store, "content_groups", partition_by=("doc_bucket",))
    clusters_t = SnapshotTable(store, "clusters", partition_by=("doc_bucket",))
    state: dict = {}
    for i, part in enumerate(parts):
        df = spark.createDataFrame(part, "doc_id long, text string")
        _clusters_process_batch(
            df, i, tables, groups_t, clusters_t, state, None, None, None
        )
    before = {
        name: t.read(spark).count()
        for name, t in {**tables, "groups": groups_t, "clusters": clusters_t}.items()
        if t.exists()
    }
    before_snap = clusters_t.current_snapshot()
    want = {
        (r["doc_id"], r["cluster_id"]) for r in clusters_t.read(spark).collect()
    }

    # restart: fresh state, replay the last batch
    fresh: dict = {}
    df = spark.createDataFrame(parts[1], "doc_id long, text string")
    _clusters_process_batch(
        df, 1, _make_lsh_tables(store), groups_t, clusters_t, fresh,
        None, None, None,
    )
    after = {
        name: t.read(spark).count()
        for name, t in {**_make_lsh_tables(store), "groups": groups_t, "clusters": clusters_t}.items()
        if t.exists()
    }
    assert after == before
    assert clusters_t.current_snapshot() == before_snap  # no empty commit
    got = {(r["doc_id"], r["cluster_id"]) for r in clusters_t.read(spark).collect()}
    assert got == want


def test_streaming_clusters_crash_between_commits_replays_clean(
    spark, tmp_path, monkeypatch
):
    """A crash after a batch's content_groups append and before its
    clusters commit, then the restarted drain replaying that batch, must
    end where a clean drain ends. Doc 5 "solo" arrives in batch 0 and
    doc 3 "solo" in batch 1; one-token texts have no shingles, so no LSH
    pair can hide a lost exact-duplicate edge."""
    import os

    import pandas as pd
    import pytest

    from mklab_focused_crawler_spark.storage.snapshot import SnapshotTable
    from mklab_focused_crawler_spark.streaming.dedup import (
        run_streaming_duplicate_clusters,
    )

    in_dir = tmp_path / "in_crash"
    _write_batches(
        in_dir,
        [
            pd.DataFrame({"doc_id": [5], "text": ["solo"]}),
            pd.DataFrame({"doc_id": [3], "text": ["solo"]}),
        ],
    )
    store, ckpt = str(tmp_path / "crash_store"), str(tmp_path / "ckpt_crash")

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        return run_streaming_duplicate_clusters(
            stream, store, ckpt, key_buckets=LSH_KEY_BUCKETS
        )

    # the first clusters merge (batch 1's) dies once
    real_merge = SnapshotTable.merge
    armed = [True]

    def crashing_merge(self, *args, **kwargs):
        if armed[0] and self.dir.endswith(os.sep + "clusters"):
            armed[0] = False
            raise RuntimeError("injected crash before the clusters commit")
        return real_merge(self, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "merge", crashing_merge)
    with pytest.raises(Exception):
        drain()
    assert not armed[0]
    groups_t = SnapshotTable(store, "content_groups", partition_by=("doc_bucket",))
    assert groups_t.has_tag("b1")  # the crash landed between the two commits
    tables = drain()  # a fresh call: fresh state, batch 1 replays
    got = sorted(
        (r["doc_id"], r["cluster_id"]) for r in tables["clusters"].read(spark).collect()
    )
    assert got == [(3, 3), (5, 3)]


def test_streaming_clusters_fresh_process_driver_rows(spark, tmp_path, monkeypatch):
    """A fresh process (a new drain over an existing store) brings to
    the driver rows that grow with its batch, not with the store: a
    one-doc batch duplicating an old doc collects a small constant, and
    ``driver_rows`` reports exactly what every collect returned."""
    import pandas as pd
    from pyspark.sql.classic.dataframe import DataFrame

    from mklab_focused_crawler_spark.operators.dedup import BANDS, augment_corpus
    from mklab_focused_crawler_spark.streaming.dedup import (
        run_streaming_duplicate_clusters,
    )

    pdf = augment_corpus(spark.read.parquet(f"{SF_DIR}/documents.parquet")).toPandas()
    store = str(tmp_path / "fresh_store")

    def drain(name, frames, **kw):
        _write_batches(tmp_path / f"in_{name}", frames)
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(tmp_path / f"in_{name}")
        )
        return run_streaming_duplicate_clusters(
            stream, store, str(tmp_path / f"ckpt_{name}"),
            key_buckets=LSH_KEY_BUCKETS, **kw,
        )

    tables = drain("big", [pdf])
    labels = {
        r["doc_id"]: r["cluster_id"] for r in tables["clusters"].read(spark).collect()
    }
    assert len(labels) > 100
    old = min(labels)
    text = pdf.loc[pdf.doc_id == old, "text"].iloc[0]
    new = 10**7

    counted: list = []
    real_collect, real_arrow = DataFrame.collect, DataFrame.toArrow

    def collect(self):
        rows = real_collect(self)
        counted.append(len(rows))
        return rows

    def to_arrow(self):
        table = real_arrow(self)
        counted.append(table.num_rows)
        return table

    monkeypatch.setattr(DataFrame, "collect", collect)
    monkeypatch.setattr(DataFrame, "toArrow", to_arrow)
    stats: list = []
    tables = drain(
        "dup", [pd.DataFrame({"doc_id": [new], "text": [text]})], stats_out=stats
    )
    monkeypatch.undo()
    # one doc's band keys bound its key-bucket list; its edges, their
    # labels and the relabel's doc buckets add a handful
    assert sum(counted) <= 2 * BANDS, counted
    assert [s["driver_rows"] for s in stats] == [sum(counted)]
    got = {
        r["doc_id"]: r["cluster_id"] for r in tables["clusters"].read(spark).collect()
    }
    assert got[new] == labels[old] and len(got) == len(labels) + 1


def test_streaming_hot_cap_contract(spark, tmp_path):
    """Pins the documented batch-vs-streaming hot-cap divergence
    (VERDICT r3 'what's wrong' #6): when a bucket goes hot MID-STREAM,
    streaming keeps the pairs emitted before the bucket crossed the cap
    and records the drop in the ledger; batch — seeing final occupancy —
    drops the bucket whole and emits nothing. Corpus: 3 docs with
    IDENTICAL token streams but distinct raw texts (interior double
    spaces), so they are 3 distinct canonicals colliding on every band."""
    import pandas as pd

    from mklab_focused_crawler_spark.operators.dedup import lsh_pairs_with_sigs
    from mklab_focused_crawler_spark.streaming.dedup import (
        read_streaming_lsh_pairs,
        run_streaming_lsh_dedup,
    )

    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = [body, body.replace(" ", "  ", 1), body.replace(" ", "  ", 2)]
    frames = [
        pd.DataFrame({"doc_id": [i], "text": [t]}) for i, t in enumerate(texts)
    ]
    in_dir = tmp_path / "in_hot"
    _write_batches(in_dir, frames)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    store = str(tmp_path / "hot_store")
    tables = run_streaming_lsh_dedup(
        stream, store, str(tmp_path / "ckpt_hot"), bucket_cap=2,
        key_buckets=LSH_KEY_BUCKETS,
    )
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in read_streaming_lsh_pairs(spark, store).collect()
    }
    # the pre-hot pair survives; batch 2 pushed occupancy to 3 > 2
    assert got == {(0, 1, 1.0)}
    hot_rows = tables["hot"].read(spark).collect()
    assert hot_rows and all(r["bn"] > 2 for r in hot_rows)
    assert {r["batch_id"] for r in hot_rows} == {2}

    # batch on the same corpus: final occupancy 3 > 2 → bucket dropped
    # whole, no pairs at all — same evidence, stricter outcome
    corpus = spark.createDataFrame(
        pd.concat(frames, ignore_index=True), "doc_id long, text string"
    )
    pairs, sigs, hot = lsh_pairs_with_sigs(corpus, bucket_cap=2)
    n_pairs, n_hot = pairs.count(), hot.count()
    sigs.unpersist()
    assert n_pairs == 0 and n_hot > 0


def test_streaming_exact_dedup_ttl_readmission(spark, tmp_path):
    """Pins the bounded-memory mode's re-admission semantics (VERDICT
    r3 item 8): a content group whose state ages out (no data for
    ttl_ms) is evicted; when the same content re-arrives it forms a
    BRAND-NEW group — fresh canonical, dup_count restarting — instead
    of refining the old one.

    The TTL mode needs a RECURRING trigger (see streaming_exact_dedup's
    docstring: with ProcessingTimeTimeout, availableNow loops cleanup
    batches forever), so this test drives ONE processingTime-triggered
    query and feeds files into its source directory live."""
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mklab_focused_crawler_spark.streaming.dedup import streaming_exact_dedup

    in_dir = tmp_path / "in_ttl"
    in_dir.mkdir()

    def feed(name, pdf):
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            str(in_dir / f"{name}.parquet"),
        )

    def emissions():
        return [
            (r["doc_id"], r["canonical_doc_id"], r["dup_count"])
            for r in spark.table("ttl_dedup").collect()
        ]

    def await_doc(doc, deadline_s=60):
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            if any(d == doc for d, _, _ in emissions()):
                return
            time.sleep(0.3)
        raise AssertionError(f"doc {doc} never emitted; got {emissions()}")

    same = "the recurring page body"
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        streaming_exact_dedup(stream, ttl_ms=100)
        .writeStream.format("memory")
        .queryName("ttl_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ttl"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        feed("a", pd.DataFrame({"doc_id": [10, 11], "text": [same, same]}))
        await_doc(10)
        time.sleep(1.0)  # let the 100ms TTL lapse
        # an unrelated batch keeps triggers flowing; the idle group (no
        # data, past its deadline) is evicted by timeout processing
        feed("b", pd.DataFrame({"doc_id": [20], "text": ["something else"]}))
        await_doc(20)
        time.sleep(1.0)
        feed("c", pd.DataFrame({"doc_id": [12], "text": [same]}))
        await_doc(12)
    finally:
        q.stop()

    by_doc: dict[int, tuple[int, int]] = {}
    for doc, canon, cnt in emissions():
        by_doc[doc] = (canon, cnt)
    assert by_doc[10] == (10, 2) and by_doc[11] == (10, 2)  # pre-evict group
    # re-admission: doc 12 starts a NEW group (the unbounded mode — see
    # test_streaming_exact_dedup_matches_batch — would refine to (10, 3))
    assert by_doc[12] == (12, 1)


def test_streaming_vocab_matches_batch(spark, tmp_path):
    """Incremental vocabulary: stream the documents in 3 uneven
    micro-batches with in-stream roll-up maintenance, then (a) the
    aggregated store equals the batch word-frequency table and (b)
    merge candidates over the store equal batch bpe_merge_candidates —
    counts are additive, so only the plumbing (tags, roll-up,
    partitioned reads) can break this."""
    from mklab_focused_crawler_spark.operators.vocab import (
        bpe_merge_candidates,
        word_counts,
    )
    from mklab_focused_crawler_spark.streaming.vocab import (
        run_streaming_vocab_ingest,
        streaming_bpe_merges,
        vocab_counts,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    pdf = docs.toPandas()
    # uneven adversarial split: 1 doc / rest / empty-text heavy slice
    frames = [pdf.iloc[:1], pdf.iloc[1:40], pdf.iloc[40:]]
    in_dir = tmp_path / "in_vocab"
    _write_batches(in_dir, frames)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    store = str(tmp_path / "vocab_store")
    vocab = run_streaming_vocab_ingest(
        stream, store, str(tmp_path / "ckpt_vocab"), compact_every=2
    )

    got = {(r["w"], r["c"]) for r in vocab_counts(spark, store).collect()}
    want = {(r["w"], r["c"]) for r in word_counts(docs).collect()}
    assert got == want and len(want) > 0

    cols = ("pair_a", "pair_b", "pair_count")
    got_m = [
        tuple(r[c] for c in cols)
        for r in streaming_bpe_merges(spark, store).collect()
    ]
    want_m = [
        tuple(r[c] for c in cols) for r in bpe_merge_candidates(docs).collect()
    ]
    assert got_m == want_m and len(want_m) > 0

    # roll-up bounded the store: after the batch-1 fold + batch-2
    # append no bucket's live rows span 3+ segments
    assert vocab.fragmented_partitions("w_bucket", min_segments=3) == []

    # restart from the committed checkpoint: availableNow sees no new
    # files, nothing re-appends, totals unchanged (at-least-once replay
    # would DOUBLE counts without the batch tags)
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    run_streaming_vocab_ingest(stream2, store, str(tmp_path / "ckpt_vocab"))
    again = {(r["w"], r["c"]) for r in vocab_counts(spark, store).collect()}
    assert again == want


def test_streaming_vocab_replayed_batch_is_noop(spark, tmp_path):
    """Op-level replay: re-appending a batch's counts under its
    committed tag must not change totals (the crash-after-commit-
    before-checkpoint window)."""
    import pandas as pd

    from mklab_focused_crawler_spark.streaming.vocab import (
        _bucketed_counts,
        run_streaming_vocab_ingest,
        vocab_counts,
    )

    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["aa bb aa", "bb cc"]})
    in_dir = tmp_path / "in_replay"
    _write_batches(in_dir, [pdf])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    store = str(tmp_path / "replay_store")
    vocab = run_streaming_vocab_ingest(stream, store, str(tmp_path / "ckpt_r"))
    before = {(r["w"], r["c"]) for r in vocab_counts(spark, store).collect()}
    # simulate the foreachBatch replay of batch 0 directly at the table
    vocab.append(
        _bucketed_counts(spark.createDataFrame(pdf)), tag="b0"
    )
    after = {(r["w"], r["c"]) for r in vocab_counts(spark, store).collect()}
    assert after == before == {("aa", 2), ("bb", 2), ("cc", 1)}


def test_streaming_domain_quota_matches_batch(spark, tmp_path):
    """Incremental per-source quota: stream the documents (plus a
    NULL-source group) in 3 uneven micro-batches; the survivor store
    must equal batch domain_quota's kept set on the union — the fold is
    monotone (top-k(A ∪ B) = top-k(top-k(A) ∪ B)), so only the plumbing
    (partition-pruned fold, dedupe-before-rank, bounded state) can
    break this. Adversarial by construction: later batches carry
    hash-smaller docs that must EVICT earlier survivors."""
    import pandas as pd

    from mklab_focused_crawler_spark.operators.sampling import (
        DOMAIN_QUOTA,
        domain_quota,
    )
    from mklab_focused_crawler_spark.streaming.quota import (
        run_streaming_domain_quota,
        streaming_quota_kept,
    )

    pdf = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "source")
        .toPandas()
    )
    # a NULL-source group larger than the quota: the windows treat NULL
    # as one partition, so the cap must bite there too
    nulls = pd.DataFrame(
        {"doc_id": range(900_000, 900_000 + DOMAIN_QUOTA + 5), "source": None}
    )
    full = pd.concat([pdf, nulls], ignore_index=True)
    frames = [full.iloc[:1], full.iloc[1:300], full.iloc[300:]]
    in_dir = tmp_path / "in_quota"
    _write_batches(in_dir, frames)

    stream = (
        spark.readStream.schema("doc_id long, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    store = str(tmp_path / "quota_store")
    run_streaming_domain_quota(
        stream, store, str(tmp_path / "ckpt_quota"), expire_every=2
    )

    got = {
        (r["doc_id"], r["source"])
        for r in streaming_quota_kept(spark, store).collect()
    }
    batch = domain_quota(spark.createDataFrame(full)).filter("kept")
    want = {(r["doc_id"], r["source"]) for r in batch.collect()}
    assert got == want and len(want) > 0
    # the cap actually bit (some source exceeded quota and was trimmed)
    assert len(want) < len(full)
    # ...including the NULL-source group
    assert sum(1 for _, s in got if s is None) == DOMAIN_QUOTA

    # bounded state: no source holds more than quota survivors
    per_src = (
        streaming_quota_kept(spark, store)
        .groupBy("source")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert per_src <= DOMAIN_QUOTA

    # restart from the committed checkpoint: availableNow sees no new
    # files, the store is untouched
    stream2 = (
        spark.readStream.schema("doc_id long, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    run_streaming_domain_quota(stream2, store, str(tmp_path / "ckpt_quota"))
    again = {
        (r["doc_id"], r["source"])
        for r in streaming_quota_kept(spark, store).collect()
    }
    assert again == want


def test_streaming_quota_replayed_fold_is_noop(spark, tmp_path):
    """Op-level replay (the crash-after-commit-before-checkpoint
    window): folding the SAME batch twice must leave the survivor set
    unchanged — the union is deduped on doc_id before ranking, so a
    replayed doc can't occupy two ranks and evict a legitimate
    survivor. No idempotence tag needed (contrast streaming/vocab.py
    where counts are additive and the tag is load-bearing)."""
    import pandas as pd

    from mklab_focused_crawler_spark.storage.snapshot import SnapshotTable
    from mklab_focused_crawler_spark.streaming.quota import (
        QUOTA_NAME,
        fold_quota_batch,
        streaming_quota_kept,
    )

    store = str(tmp_path / "qstore")
    table = SnapshotTable(store, QUOTA_NAME, partition_by=("src_bucket",))
    b0 = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(40), "source": ["s1"] * 20 + ["s2"] * 20})
    )
    b1 = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(40, 60), "source": ["s1"] * 10 + ["s3"] * 10})
    )
    fold_quota_batch(table, b0, quota=5)
    fold_quota_batch(table, b1, quota=5)
    want = {tuple(r) for r in streaming_quota_kept(spark, store).collect()}
    fold_quota_batch(table, b1, quota=5)  # replay
    got = {tuple(r) for r in streaming_quota_kept(spark, store).collect()}
    assert got == want
    assert {s for _, s in want} == {"s1", "s2", "s3"}
    assert sum(1 for _, s in want if s == "s1") == 5  # cap bit on s1


def test_streaming_quota_fold_is_partition_scoped(spark, tmp_path):
    """Scale contract: a fold reads and rewrites ONLY the buckets its
    batch's sources hash into — quiet buckets' files stay byte-
    identical (paths + mtimes), so per-batch cost is ∝ the batch's
    sources, never ∝ the accumulated store."""
    import os

    import pandas as pd

    from mklab_focused_crawler_spark.storage.snapshot import SnapshotTable
    from mklab_focused_crawler_spark.streaming.quota import (
        N_BUCKETS,
        QUOTA_NAME,
        fold_quota_batch,
    )

    store = str(tmp_path / "qstore")
    table = SnapshotTable(store, QUOTA_NAME, partition_by=("src_bucket",))
    wide = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(400),
                "source": [f"src{i % 40}" for i in range(400)],
            }
        )
    )
    fold_quota_batch(table, wide, quota=5)

    tiny = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1000, 1001], "source": ["src0", "src0"]})
    )
    touched = {
        r[0]
        for r in tiny.select(
            F.pmod(F.xxhash64("source"), F.lit(N_BUCKETS))
        ).distinct().collect()
    }
    assert len(touched) < N_BUCKETS

    def quiet_state():
        out = []
        for seg in sorted(os.listdir(table.data_dir)):
            segp = os.path.join(table.data_dir, seg)
            for d in sorted(os.listdir(segp)):
                if not d.startswith("src_bucket="):
                    continue
                if int(d.split("=", 1)[1]) in touched:
                    continue
                dp = os.path.join(segp, d)
                for f in sorted(os.listdir(dp)):
                    p = os.path.join(dp, f)
                    out.append((p, os.path.getmtime(p), os.path.getsize(p)))
        return out

    before = quiet_state()
    assert before  # vacuous without quiet buckets
    fold_quota_batch(table, tiny, quota=5)
    assert quiet_state() == before


def test_streaming_ppl_matches_batch(spark, tmp_path):
    """Streaming perplexity bucketing: ingest the reference hash slice
    into the incremental vocabulary store in 3 adversarial micro-
    batches, then scoring ALL documents against the store equals batch
    ppl_buckets exactly — counts are additive and the scoring kernel
    is shared, so only the store plumbing can break this."""
    from mklab_focused_crawler_spark.functions.hashing import hash64
    from mklab_focused_crawler_spark.operators.lm import LM_MOD, ppl_buckets
    from mklab_focused_crawler_spark.streaming.lm import streaming_ppl_buckets
    from mklab_focused_crawler_spark.streaming.vocab import (
        run_streaming_vocab_ingest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    ref_pdf = (
        docs.filter(
            F.pmod(hash64(F.col("doc_id").cast("string")), F.lit(LM_MOD)) == 0
        )
        .toPandas()
    )
    frames = [ref_pdf.iloc[:1], ref_pdf.iloc[1:10], ref_pdf.iloc[10:]]
    in_dir = tmp_path / "in_ppl"
    _write_batches(in_dir, frames)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    store = str(tmp_path / "ppl_vocab_store")
    run_streaming_vocab_ingest(
        stream, store, str(tmp_path / "ckpt_ppl"), compact_every=2
    )

    cols = ("doc_id", "n_tokens", "nlp_micro", "ppl_bucket")
    got = sorted(
        tuple(r[c] for c in cols)
        for r in streaming_ppl_buckets(spark, store, docs).collect()
    )
    want = sorted(
        tuple(r[c] for c in cols) for r in ppl_buckets(docs).collect()
    )
    assert got == want and len(want) > 0
    assert {t[3] for t in want} >= {"head", "tail"}


def test_streaming_lsh_parity_at_nondefault_buckets(spark, tmp_path):
    """VERDICT r4 item 4: the bucket fan-out is a real constructor knob —
    the pair store must equal batch lsh_pairs at a NON-default bucket
    count (the partitioning is layout, never semantics)."""
    import pandas as pd

    from mklab_focused_crawler_spark.operators.dedup import (
        augment_corpus,
        lsh_pairs,
    )
    from mklab_focused_crawler_spark.streaming.dedup import (
        _read_key_buckets,
        read_streaming_lsh_pairs,
        run_streaming_lsh_dedup,
    )

    corpus = augment_corpus(
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
    )
    pdf = corpus.toPandas()
    in_dir = tmp_path / "in_nb"
    _write_batches(
        in_dir, [pdf[pdf.doc_id % 2 == 0], pdf[pdf.doc_id % 2 == 1]]
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    store = str(tmp_path / "nb_store")
    run_streaming_lsh_dedup(
        stream, store, str(tmp_path / "ckpt_nb"), key_buckets=16
    )
    assert _read_key_buckets(store) == 16  # committed for later processes
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in read_streaming_lsh_pairs(spark, store).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in lsh_pairs(corpus).collect()
    }
    assert got == want and len(want) > 0


def test_key_buckets_derivation_and_store_meta(spark, tmp_path):
    """The deployment default derives the fan-out from the first batch
    (≈ target_fraction × its band rows, next pow2, clamped), commits it
    to the store meta, reuses it on reopen, and refuses a conflicting
    explicit value (the layout is physical)."""
    import pandas as pd
    import pytest

    from mklab_focused_crawler_spark.streaming.dedup import (
        LSH_KEY_BUCKETS,
        LSH_KEY_BUCKETS_CAP,
        _read_key_buckets,
        derive_key_buckets,
        run_streaming_lsh_dedup,
    )

    assert derive_key_buckets(1) == LSH_KEY_BUCKETS  # floor
    assert derive_key_buckets(100) == 1024  # next_pow2(8*100)
    assert derive_key_buckets(10**7) == LSH_KEY_BUCKETS_CAP  # clamp

    docs = pd.DataFrame(
        {
            "doc_id": range(3),
            "text": [" ".join(f"d{d}w{i}" for i in range(12)) for d in range(3)],
        }
    )
    in_dir = tmp_path / "in_derive"
    _write_batches(in_dir, [docs])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    store = str(tmp_path / "derive_store")
    run_streaming_lsh_dedup(stream, store, str(tmp_path / "ckpt_derive"))
    committed = _read_key_buckets(store)
    # 3 docs × 32 bands = 96 band rows → next_pow2(8·96) = 1024
    assert committed == 1024

    # reopening with a conflicting explicit value must refuse
    with pytest.raises(ValueError, match="key_buckets"):
        run_streaming_lsh_dedup(
            stream, store, str(tmp_path / "ckpt_derive2"), key_buckets=512
        )


def test_legacy_lsh_store_without_meta_keeps_64_layout(spark, tmp_path):
    """A store written under the old fixed 64-bucket layout, with no
    lsh_meta.json, must keep that layout on reopen: deriving a fresh
    fan-out from the incoming batch would probe other bucket dirs and
    silently miss pairs with stored docs. A 1-doc batch alone would
    derive 256 buckets, and stored doc 100 sits in doc bucket 36, not
    100 — so the duplicate is found only under the legacy modulus."""
    import os

    import pandas as pd

    from mklab_focused_crawler_spark.streaming.dedup import (
        _lsh_meta_path,
        _read_key_buckets,
        derive_key_buckets,
        read_streaming_lsh_pairs,
        run_streaming_lsh_dedup,
    )

    def text(d):
        return " ".join(f"d{d}w{i}" for i in range(12))

    stored = pd.DataFrame(
        {"doc_id": range(100, 106), "text": [text(d) for d in range(100, 106)]}
    )
    dup = pd.DataFrame({"doc_id": [200], "text": [text(100)]})
    in_dir = tmp_path / "in_legacy"
    store = str(tmp_path / "legacy_store")
    ckpt = str(tmp_path / "ckpt_legacy")

    def ingest(**kw):
        run_streaming_lsh_dedup(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir)),
            store,
            ckpt,
            **kw,
        )

    _write_batches(in_dir, [stored])
    ingest(key_buckets=LSH_KEY_BUCKETS)
    os.remove(_lsh_meta_path(store))  # a store from before the meta file
    assert derive_key_buckets(32) != LSH_KEY_BUCKETS  # 1 doc × 32 bands

    # the same stream resumes (same checkpoint) with one more file
    _write_batches(in_dir, [stored, dup])
    ingest()
    pairs = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in read_streaming_lsh_pairs(spark, store).collect()
    }
    assert (100, 200, 1.0) in pairs
    assert _read_key_buckets(store) == LSH_KEY_BUCKETS  # now committed


def test_min_label_propagation_long_chain_converges_logarithmically(spark):
    """VERDICT r4 item 7 made measurable — and a regression pin for the
    r5 shortcutting fix: a 300-edge chain has diameter 300, so the old
    neighbor-min-only loop (hard 20-round cap) silently returned partial
    labels; with pointer-doubling the component min reaches every vertex
    in O(log n) rounds, reported via the stats hook."""
    from mklab_focused_crawler_spark.operators.dedup import (
        min_label_propagation,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "a long, b long"
    )
    stats: dict = {}
    out = min_label_propagation(edges, stats=stats)
    rows = out.collect()
    out.unpersist()
    assert len(rows) == 301
    assert all(r["cluster_id"] == 0 for r in rows)
    assert stats["rounds"] <= 12, stats  # ~log2(300) with doubling
