"""Streaming exact deduplication: first-seen-wins content dedup over a
document stream with ``applyInPandasWithState``.

Reference parity: StatusCheckBolt's seen-gate (StatusCheckBolt.java —
drop what was already processed) applied to CONTENT instead of URL, at
ingestion time. This is the streaming twin of
``operators/dedup.exact_dedup``: same normalization (ascii_lower +
ASCII-space trim, md5 content hash), same canonical rule (min doc_id
per content hash), evaluated incrementally per micro-batch instead of
as one batch groupBy. The LLM-pipeline use case is dedup-during-
ingestion: mark duplicates as documents arrive rather than re-scanning
the corpus.

State: keyed by ``text_hash``, one row per distinct content — the
sorted ``members`` array (every doc_id seen with this content). Total
state size is O(corpus), the same information the batch groupBy
shuffles; a production deployment bounds it with a state TTL
(``GroupStateTimeout``) at the cost of re-admitting content whose whole
group aged out — the knob is deliberately NOT defaulted here because
the batch twin has no such horizon.

Emission contract (same family as ``streaming_trend_candidates``):
**at-least-once per doc_id, monotonically refined** — whenever a
content group gains members, ALL member rows re-emit with the updated
(canonical_doc_id, dup_count). canonical_doc_id only ever decreases
(min over a growing set) and dup_count only ever grows, so a keyed
upsert sink by doc_id (min canonical, max count — or simply
last-writer-wins, emissions are totally refined) converges to exactly
the batch twin's output once all documents have arrived; re-delivered
doc_ids (at-least-once sources) change nothing and emit nothing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.text import ascii_lower

OUTPUT_SCHEMA = "doc_id long, text_hash string, canonical_doc_id long, dup_count long"
STATE_SCHEMA = "members array<bigint>"


def _make_update(ttl_ms: int | None):
    """Closure factory (applyInPandasWithState's function arity is
    fixed, so the TTL rides the closure, not a default arg)."""

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        empty = pd.DataFrame(
            [], columns=["doc_id", "text_hash", "canonical_doc_id", "dup_count"]
        )
        if ttl_ms is not None and state.hasTimedOut:
            # the whole group aged out: drop it. The NEXT arrival of
            # this content is re-admitted as a brand-new group (fresh
            # canonical, dup_count restarting at 1) — the documented
            # cost of the bounded-memory mode.
            state.remove()
            yield empty
            return
        members: set[int] = set()
        if state.exists:
            (ms,) = state.get
            members = set(int(m) for m in ms)
        new: set[int] = set()
        for pdf in pdfs:
            new.update(int(x) for x in pdf["doc_id"])
        new -= members
        if not new:
            # pure re-delivery: state and prior emissions are already
            # right — but fresh data still refreshes the TTL clock
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            yield empty
            return
        members |= new
        state.update((sorted(members),))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        canonical = min(members)
        n = len(members)
        # re-emit EVERY member: a new smaller doc_id retroactively
        # changes earlier members' canonical, and dup_count grows for
        # all of them
        yield pd.DataFrame(
            [(m, key[0], canonical, n) for m in sorted(members)],
            columns=["doc_id", "text_hash", "canonical_doc_id", "dup_count"],
        )

    return _update


def streaming_exact_dedup(stream: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """document stream (doc_id, text) → refined dedup rows per batch.

    The content hash is computed JVM-side before keying (one md5 per
    row, Arrow never carries the text into Python), exactly as the
    batch twin: md5(ascii_lower(trim(text))). Null texts are dropped —
    the dedup corpus contract (operators/dedup.augment_corpus).

    ``ttl_ms``: the bounded-memory mode for a 100 TB deployment. By
    default state is unbounded (the batch twin has no horizon, so
    convergence to it is exact). With a TTL, a content group whose
    state receives no data for ``ttl_ms`` of processing time is evicted
    at the next trigger; if the same content later re-arrives it is
    RE-ADMITTED as a new group (fresh canonical = the new min arrival,
    dup_count restarting) — state memory becomes O(distinct content
    within the TTL horizon) instead of O(corpus). Semantics pinned by
    tests/test_streaming.py::test_streaming_exact_dedup_ttl_readmission.

    TTL mode requires a RECURRING trigger (processingTime), never
    availableNow/once: with ProcessingTimeTimeout registered, Spark's
    stateful operator reports "should run another batch" on every
    batch (processing time always advances), so an availableNow query
    loops state-cleanup micro-batches forever instead of terminating —
    measured, not theorized. A long-running ingestion stream (the mode's
    whole point) uses a recurring trigger anyway.
    """
    hashed = stream.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(ascii_lower(F.trim(F.col("text")))).alias("text_hash"),
    )
    return hashed.groupBy("text_hash").applyInPandasWithState(
        _make_update(ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


# ---------------------------------------------------------------------------
# streaming near-duplicate detection: incremental MinHash-LSH index
# ---------------------------------------------------------------------------


def run_streaming_lsh_dedup(
    stream: DataFrame,
    store_root: str,
    checkpoint_dir: str,
    bucket_cap: int | None = None,
    compact_every: int | None = None,
    key_buckets: int | None = None,
) -> dict:
    """Near-duplicate pair detection AT INGESTION: each micro-batch of
    documents is signed, probed against the accumulated LSH index,
    exact-Jaccard verified, and committed — the streaming twin of
    ``operators/dedup.lsh_pairs`` (which re-scans the whole corpus).

    Architecture (foreachBatch — the heavy ops are ordinary batch
    DataFrame plans per micro-batch; same commit-then-reread pattern as
    the crawl loop's docs table):

    - ``lsh_bands`` (SnapshotTable, PARTITIONED by ``key_bucket =
      pmod(band_key, LSH_KEY_BUCKETS)``): the INDEX — (doc_id, band_idx,
      band_key, key_bucket), appended per batch. Persisting the banded
      form means old docs are never re-signed and never re-banded, and
      the bucket partitioning means a batch probes ONLY the buckets its
      own band keys touch (``read_partitions``) — per-batch index IO is
      ∝ touched buckets, never ∝ the accumulated index. This is the
      storage-layout-is-the-index pattern the streaming IVF store
      already uses (the reference's external visual index amortized
      exactly this, VisualIndexerBolt.java:167).
    - ``lsh_shingles`` (SnapshotTable, PARTITIONED by ``doc_bucket =
      pmod(doc_id, LSH_KEY_BUCKETS)``): (doc_id, shingles, members) for
      the exact verify stage — only the candidate pairs' doc buckets are
      ever read.
    - ``lsh_pairs`` (SnapshotTable): verified (doc_a, doc_b, jaccard)
      appended per batch. A pair emits exactly when its LATER side
      arrives, so each pair appends once; a replayed micro-batch
      (failure recovery) may re-append — read through
      :func:`read_streaming_lsh_pairs`, which dedups.
    - ``lsh_hot`` (SnapshotTable): per-batch dropped hot buckets
      (band_idx, band_key, bn) — the no-silent-caps ledger. NOTE the
      semantic difference from batch (pinned by
      tests/test_streaming.py::test_streaming_hot_cap_contract): the
      guard sees each bucket's occupancy AS OF the batch, so pairs
      emitted before a bucket went hot stay emitted (batch drops the
      bucket whole).

    Output equivalence (asserted in tests): with the cap never firing,
    the deduped pair store over any micro-batch split of a corpus
    equals batch ``lsh_pairs`` on the whole corpus — a pair (a, b) is
    found iff ≥1 band key matches and exact Jaccard ≥ threshold, and
    both conditions are arrival-order independent because the index
    always holds every earlier doc's bands. Occupancy (the hot guard) is
    computed over the touched buckets only — identical to the full
    groupBy for those keys, and untouched keys can't produce candidates
    or change occupancy this batch.

    Scale note: band keys are uniform hashes, so a batch with ≫
    bucket-count band rows touches every bucket; the pruning wins when
    batches are small relative to the bucket count. ``key_buckets``
    (CLI ``--key-buckets``) defaults to DERIVING that size from the
    first batch — :func:`derive_key_buckets` targets a ~1/8 touched
    fraction (measured 0.093, PLANS.md round 5) — and commits it to the
    store meta so every later batch and process agrees (the layout is
    physical; a conflicting reopen raises). The periodic
    ``compact_every`` maintenance is partition-scoped — amortized, not
    per-batch.

    Returns {"pairs": ..., "bands": ..., "shingles": ..., "hot": ...}
    (the SnapshotTable handles)."""
    tables = _make_lsh_tables(store_root)
    resolved = resolve_key_buckets(store_root, key_buckets)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal resolved
        st = _lsh_process_batch(
            batch_df, batch_id, tables, bucket_cap, compact_every,
            batch_df.sparkSession,
            key_buckets=resolved, store_root=store_root,
        )
        if resolved is None and st.get("key_buckets") is not None:
            resolved = st["key_buckets"]  # first batch derived + committed

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return tables


# Bucket count for the band-key and doc-id partitionings of the
# streaming index stores. This FLOOR suits the fixtures/tests here; a
# real ingest derives the count from its first batch (below) so a
# micro-batch touches a fraction of the buckets — the pruning ratio is
# touched/total.
LSH_KEY_BUCKETS = 64
# derivation bounds: a batch with n band rows touches ≤ n buckets
# (uniform keys ⇒ ≈ n for buckets ≫ n), so buckets ≈ TARGET_FRACTION·n
# makes the steady-state pruning ratio ≈ 1/TARGET_FRACTION; the cap
# bounds partition-dir count (object-store listing, file handles)
LSH_KEY_BUCKETS_CAP = 1 << 20
LSH_TARGET_FRACTION = 8


def derive_key_buckets(
    n_band_rows: int,
    floor: int = LSH_KEY_BUCKETS,
    cap: int = LSH_KEY_BUCKETS_CAP,
    target_fraction: int = LSH_TARGET_FRACTION,
) -> int:
    """Bucket count from an observed batch's band-row count: the next
    power of two ≥ target_fraction · n (clamped to [floor, cap]), so a
    typical micro-batch touches ~1/target_fraction of the buckets —
    VERDICT r4 item 4's replacement for the fixture-scale constant. A
    10^4-doc batch (32 bands) derives 2^22 → capped 2^20; the fixture's
    ~100-row batches derive the floor."""
    want = max(floor, target_fraction * max(1, int(n_band_rows)))
    return min(cap, 1 << (want - 1).bit_length())


def _lsh_meta_path(store_root: str) -> str:
    import os

    return os.path.join(store_root, "lsh_meta.json")


def _read_key_buckets(store_root: str) -> int | None:
    import json
    import os

    p = _lsh_meta_path(store_root)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(json.load(f)["key_buckets"])


def _commit_key_buckets(store_root: str, n: int) -> None:
    import json
    import os

    os.makedirs(store_root, exist_ok=True)
    with open(_lsh_meta_path(store_root), "w") as f:
        json.dump({"key_buckets": int(n)}, f)


def resolve_key_buckets(store_root: str, requested: int | None) -> int | None:
    """The store's committed bucket count wins (the partition layout is
    physical — changing it mid-store would split each logical bucket
    across directories); an explicit conflicting request is an error,
    not a silent reshard. A store that holds band data but no meta file
    predates the meta: its layout is the legacy fixed LSH_KEY_BUCKETS,
    which is committed now (deriving a fresh value would silently miss
    every pair stored under the old modulus). Returns None when nothing
    is committed and nothing was requested — the first non-empty batch
    then derives and commits a value."""
    from ..storage.snapshot import SnapshotTable

    committed = _read_key_buckets(store_root)
    if committed is None and SnapshotTable(store_root, "lsh_bands").exists():
        committed = LSH_KEY_BUCKETS
        _commit_key_buckets(store_root, committed)
    if committed is not None:
        if requested is not None and requested != committed:
            raise ValueError(
                f"store {store_root} is partitioned with key_buckets="
                f"{committed}; cannot reopen with {requested}"
            )
        return committed
    if requested is not None:
        _commit_key_buckets(store_root, requested)
        return requested
    return None


def _make_lsh_tables(store_root: str) -> dict:
    from ..storage.snapshot import SnapshotTable

    return {
        "bands": SnapshotTable(store_root, "lsh_bands", partition_by=("key_bucket",)),
        "shingles": SnapshotTable(
            store_root, "lsh_shingles", partition_by=("doc_bucket",)
        ),
        "pairs": SnapshotTable(store_root, "lsh_pairs"),
        "hot": SnapshotTable(store_root, "lsh_hot"),
    }


def _lsh_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    tables: dict,
    bucket_cap: int | None,
    compact_every: int | None,
    spark,
    *,
    key_buckets: int | None = LSH_KEY_BUCKETS,
    store_root: str | None = None,
    collect_pairs: bool = False,
) -> dict:
    """One micro-batch of the incremental LSH pipeline (see
    run_streaming_lsh_dedup for the architecture).

    Exact duplicates are pre-collapsed WITHIN the batch by the batch
    pipeline's own build (``operators/dedup.canonical_signatures``):
    only batch canonicals are signed, banded and indexed, and verified
    canonical pairs expand through BOTH sides' members arrays (the
    shingle store carries members per indexed canonical). A 10k-copy
    boilerplate flood inside one batch therefore costs O(g) band rows,
    not g² pairs through one bucket — without this the batch-side flood
    defense would be silently absent from the streaming twin and the
    cap would fire at group size instead of flood-of-distinct-texts
    size. The same content arriving across B separate batches still
    occupies B index entries (each batch's canonical); their identical
    signatures collide on every band, so the cross-batch 1.0 pairs and
    all inherited near-pairs are emitted, and occupancy grows with B
    (bounded by batch count, not group size).

    Index IO is partition-pruned: the band probe, the occupancy count
    and the shingle verify read ONLY the partitions (band-key buckets /
    doc buckets) this batch touches — per-batch work ∝ the batch's
    candidate surface, never ∝ the accumulated index.

    Replay safety (at-least-once foreachBatch): every commit carries the
    batch tag; and if the band (shingle) store ALREADY carries this
    batch's tag — a crash landed between the pairs and index commits —
    the batch's rows are not unioned in again, so occupancy can't double
    and the hot cap can't fire at half the real flood size.

    Returns per-batch stats for callers/tests: ``touched_key_buckets``,
    ``probe_files`` (the pruned band-index file list actually scanned),
    ``new_pairs`` (the batch's verified pairs as driver rows, only
    when ``collect_pairs`` — the streaming clusters op folds exactly
    these) and ``driver_rows`` (every row this stage collected)."""
    from ..operators.dedup import (
        LSH_BUCKET_CAP,
        band_rows,
        canonical_signatures,
        expand_members,
        verify_jaccard,
    )

    cap = LSH_BUCKET_CAP if bucket_cap is None else bucket_cap
    bands_t, shingles_t = tables["bands"], tables["shingles"]
    pairs_t, hot_t = tables["pairs"], tables["hot"]
    btag = f"b{batch_id}"
    stats = {
        "touched_key_buckets": 0,
        "touched_buckets": [],
        "probe_files": [],
        "new_pairs": [],
        "key_buckets": key_buckets,
        "driver_rows": 0,
    }
    corpus = batch_df.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    # within-batch exact pre-collapse (the batch pipeline's build)
    sigs, n_sigs = canonical_signatures(corpus)
    if n_sigs == 0:
        sigs.unpersist()
        return stats
    raw_bands = band_rows(sigs).persist()
    n_new_bands = raw_bands.count()
    if key_buckets is None:
        # first-batch derivation: the store's committed (or legacy
        # pre-meta) value wins; else size from THIS batch's band volume
        # and commit it (the layout is physical — every later batch and
        # process must agree)
        assert store_root is not None, "key_buckets=None needs store_root"
        key_buckets = resolve_key_buckets(store_root, None)
        if key_buckets is None:
            key_buckets = derive_key_buckets(n_new_bands)
            _commit_key_buckets(store_root, key_buckets)
    stats["key_buckets"] = key_buckets
    new_bands = raw_bands.withColumn(
        "key_bucket", F.pmod(F.col("band_key"), F.lit(key_buckets)).cast("int")
    )
    touched = (
        [r[0] for r in new_bands.select("key_bucket").distinct().collect()]
        if n_new_bands
        else []
    )
    stats["touched_key_buckets"] = len(touched)
    stats["touched_buckets"] = sorted(touched)
    stats["driver_rows"] += len(touched)

    # pruned index read: ONLY this batch's buckets' partition dirs
    old_touched = (
        bands_t.read_partitions(spark, "key_bucket", touched)
        if (touched and bands_t.exists())
        else None
    )
    if old_touched is not None:
        stats["probe_files"] = list(old_touched.inputFiles())
    if bands_t.exists() and bands_t.has_tag(btag):
        # replay after the index commit: the store already holds this
        # batch's band rows — unioning new_bands again would double
        # occupancy for its buckets (spurious hot-cap fires)
        all_bands = old_touched
    elif old_touched is None:
        all_bands = new_bands
    else:
        all_bands = old_touched.unionByName(new_bands)
    # hot-bucket guard on combined occupancy as of this batch, over the
    # touched buckets only — identical to the full groupBy for these
    # keys, and untouched keys can't change occupancy or be probed
    hot = (
        all_bands.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") > cap)
        .persist()
    ) if n_new_bands else None
    if hot is not None and hot.count() > 0:
        hot_t.append(
            hot.withColumn("batch_id", F.lit(batch_id)), tag=btag
        )
        guard = F.broadcast(hot.select("band_idx", "band_key"))
        new_probe = new_bands.join(guard, ["band_idx", "band_key"], "left_anti")
        all_side = all_bands.join(guard, ["band_idx", "band_key"], "left_anti")
    else:
        new_probe, all_side = new_bands, all_bands

    # candidates: at least one side new => each pair found exactly
    # once, in the batch where its later doc arrives (new x new
    # pairs appear from both sides; least/greatest + dropDuplicates
    # collapses them)
    cand = (
        (
            new_probe.select(F.col("doc_id").alias("doc_n"), "band_idx", "band_key")
            .join(
                all_side.select(
                    F.col("doc_id").alias("doc_o"), "band_idx", "band_key"
                ),
                ["band_idx", "band_key"],
            )
            .filter(F.col("doc_n") != F.col("doc_o"))
            .select(
                F.least("doc_n", "doc_o").alias("doc_a"),
                F.greatest("doc_n", "doc_o").alias("doc_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        if n_new_bands
        else spark.createDataFrame([], "doc_a long, doc_b long")
    ).persist()
    new_sh = sigs.select(
        "doc_id",
        "shingles",
        "members",
        F.pmod(F.col("doc_id"), F.lit(key_buckets)).cast("int").alias("doc_bucket"),
    )
    # shingle lookups are keyed by candidate doc_id: read only the
    # candidates' doc-bucket partitions, not the whole shingle store
    cand_buckets = [
        r[0]
        for r in cand.select(
            F.explode(
                F.array(
                    F.pmod(F.col("doc_a"), F.lit(key_buckets)).cast("int"),
                    F.pmod(F.col("doc_b"), F.lit(key_buckets)).cast("int"),
                )
            ).alias("b")
        )
        .distinct()
        .collect()
    ]
    stats["driver_rows"] += len(cand_buckets)
    old_sh = (
        shingles_t.read_partitions(spark, "doc_bucket", cand_buckets)
        if (cand_buckets and shingles_t.exists())
        else None
    )
    if shingles_t.exists() and shingles_t.has_tag(btag):
        all_sh = old_sh if old_sh is not None else new_sh
    elif old_sh is None:
        all_sh = new_sh
    else:
        all_sh = old_sh.unionByName(new_sh)
    verified = verify_jaccard(
        cand.join(
            all_sh.select(
                F.col("doc_id").alias("doc_a"),
                F.col("shingles").alias("sh_a"),
                F.col("members").alias("mem_a"),
            ),
            "doc_a",
        ).join(
            all_sh.select(
                F.col("doc_id").alias("doc_b"),
                F.col("shingles").alias("sh_b"),
                F.col("members").alias("mem_b"),
            ),
            "doc_b",
        )
    ).select("mem_a", "mem_b", "jaccard")
    # expand canonical pairs through both sides' members (the batch
    # pipeline's expansion), plus this batch's intra-group 1.0 pairs;
    # cross-batch intra pairs come from the canonical-vs-canonical 1.0
    # collision
    got = expand_members(verified, sigs).persist()
    # per-table batch tags make every commit idempotent: a foreachBatch
    # replay (crash before the checkpoint offset commit) re-runs this
    # function, and un-tagged re-appends would double the index rows —
    # inflating hot-bucket occupancy so the cap fires at half the real
    # flood size (pairs-on-read dedup only covers the pair table)
    if collect_pairs:
        rows = got.select("doc_a", "doc_b").collect()
        stats["new_pairs"] = [(r["doc_a"], r["doc_b"]) for r in rows]
        n_got = len(rows)
        stats["driver_rows"] += n_got
    else:
        n_got = got.count()
    if n_got > 0:
        pairs_t.append(got, tag=btag)
    # commit the batch into the index LAST: a replayed batch then
    # re-probes against the same pre-batch index state. Never append a
    # 0-row frame to a partitioned table (a parquet-less partition dir
    # breaks every later per-dir read).
    if n_new_bands > 0:
        bands_t.append(new_bands, tag=btag)
    shingles_t.append(new_sh, tag=btag)
    if compact_every and (batch_id + 1) % compact_every == 0:
        # incremental maintenance: fold ONLY the buckets fragmented
        # since the last pass (a bucket's rows spanning ≥2 segments)
        # into one fresh segment, then retire the superseded history —
        # an ingestion index doesn't need time travel to intermediate
        # states. Cost ∝ recently-touched buckets, never O(index):
        # buckets no batch touched since their last fold keep their
        # files byte-identical (pinned by
        # test_streaming_lsh_maintenance_is_partition_scoped).
        for t, pcol in ((bands_t, "key_bucket"), (shingles_t, "doc_bucket")):
            frag = t.fragmented_partitions(pcol)
            if frag:
                t.compact_partitions(spark, pcol, frag)
            t.prune_tags([btag])
            t.expire_snapshots(keep_last=1)
        # tag-ledger retention on the append-only stores too: during
        # batch N only N itself can still replay (earlier offsets are
        # checkpoint-committed), so every older tag is dead weight
        for t in (pairs_t, hot_t):
            t.prune_tags([btag])
    for h in (sigs, raw_bands, hot, cand, got):
        if h is not None:
            h.unpersist()
    return stats



def read_streaming_lsh_pairs(spark, store_root: str) -> DataFrame:
    """The verified pair set — deduped (replayed micro-batches may
    append a pair twice; at-least-once appends, exactly-once reads)."""
    from ..storage.snapshot import SnapshotTable

    t = SnapshotTable(store_root, "lsh_pairs")
    if not t.exists():
        return spark.createDataFrame([], "doc_a long, doc_b long, jaccard double")
    return t.read(spark).dropDuplicates(["doc_a", "doc_b"])


# ---------------------------------------------------------------------------
# streaming duplicate clusters: a per-batch label lookup
# ---------------------------------------------------------------------------


def run_streaming_duplicate_clusters(
    stream: DataFrame,
    store_root: str,
    checkpoint_dir: str,
    bucket_cap: int | None = None,
    compact_every: int | None = None,
    stats_out: list | None = None,
    key_buckets: int | None = None,
) -> dict:
    """Cluster ids AT INGESTION — the streaming twin of
    ``operators/dedup.duplicate_clusters``, completing the trio
    (exact gate → near pairs → clusters) so a pipeline can route
    documents by duplicate group as they arrive.

    Per micro-batch, on top of the incremental LSH pipeline
    (:func:`run_streaming_lsh_dedup` — this function maintains the same
    band/shingle/pair stores and adds two):

    - ``content_groups`` (SnapshotTable, PARTITIONED by ``doc_bucket``
      so maintenance folds only recently-touched buckets):
      (text_hash, doc_id) appended per batch — the exact-duplicate
      groups across ALL batches. Needed
      because empty-shingle exact duplicates never reach the band index
      (they can't verify ≥ the Jaccard gate) yet DO cluster; the batch
      operator gets them from its members arrays.
    - ``clusters`` (SnapshotTable, PARTITIONED by ``doc_bucket``): the
      label table (doc_id, cluster_id), cluster_id = the component's
      min doc_id (the batch operator's deterministic rule). Labels only
      ever decrease; after the last batch the table equals batch
      ``duplicate_clusters`` over the union of batches.

    One path per batch (:func:`_clusters_process_batch`), the
    reference's VisualClustererBolt shape — an arrival looks up its
    neighbour's stored label (VisualClustererBolt.java:79-144): the
    batch's edges come to the driver, their endpoints' current labels
    are read from the partitions that hold them, the shared
    ``union_find_labels`` folds that small label graph, and the
    executors relabel every member of a merged label through a
    broadcast old→new map before the partition-scoped
    ``SnapshotTable.merge`` upserts them. Driver rows per batch grow
    with the batch, never with the store; the op keeps no in-memory
    graph, so a process start reads nothing. Replay is idempotent: re-folding a committed
    batch changes no label, and an unchanged table gets no commit.

    ``stats_out``: optional list; per batch a dict with ``driver_rows``
    (every row the batch brought to the driver: the LSH stage's bucket
    lists and pairs, the star edges, the endpoint labels and the
    merge's touched doc buckets) is appended.
    """
    from ..storage.snapshot import SnapshotTable

    tables = _make_lsh_tables(store_root)
    groups_t = SnapshotTable(
        store_root, "content_groups", partition_by=("doc_bucket",)
    )
    clusters_t = SnapshotTable(store_root, "clusters", partition_by=("doc_bucket",))
    # band/shingle store fan-out: committed value wins, else derived on
    # the first non-empty batch (the LSH job's rule). The group/label
    # stores keep the fixed doc-id fan-out — their per-batch IO is
    # merge-scoped, not probe-scoped.
    state: dict = {"key_buckets": resolve_key_buckets(store_root, key_buckets)}

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        _clusters_process_batch(
            batch_df,
            batch_id,
            tables,
            groups_t,
            clusters_t,
            state,
            bucket_cap,
            compact_every,
            stats_out,
            store_root,
        )

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {**tables, "groups": groups_t, "clusters": clusters_t}


def _clusters_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    tables: dict,
    groups_t,
    clusters_t,
    state: dict,
    bucket_cap: int | None,
    compact_every: int | None,
    stats_out: list | None,
    store_root: str | None = None,
) -> None:
    from ..operators.dedup import union_find_labels

    spark = batch_df.sparkSession
    lsh_stats = _lsh_process_batch(
        batch_df,
        batch_id,
        tables,
        bucket_cap,
        compact_every,
        spark,
        key_buckets=state.get("key_buckets", LSH_KEY_BUCKETS),
        store_root=store_root,
        collect_pairs=True,
    )
    if state.get("key_buckets") is None and lsh_stats.get("key_buckets"):
        state["key_buckets"] = lsh_stats["key_buckets"]
    driver_rows = lsh_stats["driver_rows"]
    hashed = batch_df.filter(F.col("text").isNotNull()).select(
        F.md5(ascii_lower(F.trim(F.col("text")))).alias("text_hash"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.pmod(F.col("doc_id").cast("long"), F.lit(LSH_KEY_BUCKETS))
        .cast("int")
        .alias("doc_bucket"),
    ).persist()

    # 1. star edges, on the executors: each hash's smallest batch doc
    # links to the batch's other docs with that hash and to the hash's
    # smallest stored doc from OTHER batches (earlier batches already
    # joined all of those into one component) — one row per hash comes
    # back. Excluding the batch's own doc_ids makes the lookup the same
    # whether or not this batch's groups append has already committed,
    # so a replay after a crash between the two commits folds the same
    # edges.
    heads = hashed.groupBy("text_hash").agg(F.min("doc_id").alias("a"))
    star = hashed.join(heads, "text_hash").select("a", F.col("doc_id").alias("b"))
    if groups_t.exists():
        anchors = (
            groups_t.read(spark)
            .join(F.broadcast(heads), "text_hash", "left_semi")
            .join(F.broadcast(hashed.select("doc_id")), "doc_id", "left_anti")
            .groupBy("text_hash")
            .agg(F.min("doc_id").alias("b"))
        )
        star = star.unionByName(heads.join(anchors, "text_hash").select("a", "b"))
    star_rows = star.filter(F.col("a") != F.col("b")).collect()
    driver_rows += len(star_rows)
    edges = [(r["a"], r["b"]) for r in star_rows] + lsh_stats["new_pairs"]
    # Empty guard: a 0-row write to a partitioned table would leave a
    # parquet-less partition dir that breaks later per-dir reads; a
    # replayed batch's append is a tag no-op.
    if hashed.count() > 0:
        groups_t.append(hashed, tag=f"b{batch_id}")

    # 2. the endpoints' current labels, read from their doc buckets only
    nodes = sorted({x for e in edges for x in e})
    stored: dict[int, int] = {}
    if nodes and clusters_t.exists():
        part = clusters_t.read_partitions(
            spark, "doc_bucket", sorted({x % LSH_KEY_BUCKETS for x in nodes})
        )
        if part is not None:
            rows = (
                part.filter(F.col("doc_id").isin(nodes))
                .select("doc_id", "cluster_id")
                .collect()
            )
            driver_rows += len(rows)
            stored = {r["doc_id"]: r["cluster_id"] for r in rows}

    # 3. fold the label graph: a doc not yet clustered is its own label.
    # Only a stored label has members to relabel; an unclustered doc's
    # row is an insert.
    label = {x: stored.get(x, x) for x in nodes}
    root = dict(union_find_labels((label[a], label[b]) for a, b in edges))
    stored_labels = set(stored.values())
    relabel = sorted(
        (old, new) for old, new in root.items() if new != old and old in stored_labels
    )
    inserts = [(x, root[x], x % LSH_KEY_BUCKETS) for x in nodes if x not in stored]

    # 4. relabel every member of a merged stored label on the executors
    # and upsert; nothing changed, nothing commits
    if relabel or inserts:
        updates = spark.createDataFrame(
            inserts, "doc_id long, cluster_id long, doc_bucket int"
        )
        if relabel:
            old_new = spark.createDataFrame(relabel, "cluster_id long, new_id long")
            updates = (
                clusters_t.read(spark)
                .join(F.broadcast(old_new), "cluster_id")
                .select("doc_id", F.col("new_id").alias("cluster_id"), "doc_bucket")
                .unionByName(updates)
            )
        updates = updates.persist()
        if clusters_t.exists():
            # the partition-scoped merge collects the touched doc buckets
            driver_rows += updates.select("doc_bucket").distinct().count()
        clusters_t.merge(spark, updates, key="doc_id")
        updates.unpersist()
    if stats_out is not None:
        stats_out.append({"batch_id": batch_id, "driver_rows": driver_rows})
    hashed.unpersist()
    if compact_every and (batch_id + 1) % compact_every == 0:
        # incremental maintenance on both stores: fold only the doc
        # buckets fragmented since the last pass (groups appends one
        # segment per batch; clusters' merge-on-read exclusion history
        # additionally self-cleans — fully-excluded segments drop from
        # the manifest) — never an O(store) rewrite
        for t in (groups_t, clusters_t):
            frag = t.fragmented_partitions("doc_bucket")
            if frag:
                t.compact_partitions(spark, "doc_bucket", frag)
            t.prune_tags([f"b{batch_id}"])
            t.expire_snapshots(keep_last=1)
