"""URL-seen set: exact first-seen-wins table + partitioned Bloom filter.

Reference semantics: StatusCheckBolt.java:59-68 — Redis
``hget(id,"STATUS")``; emit only if absent, then mark. First-seen-wins,
exact. CrawlDecider.java:14,23-36 adds a 24h TTL variant.

Spark design (north_rule): the seen set is keyed on
``xxhash64(canonical_url)`` and bucketed by ``pmod(url_hash, n_buckets)``.
Membership testing for a candidate batch is:

1. **Bloom prune** — per-bucket Bloom filters (built vectorized in
   numpy inside ``applyInPandas``) are cogrouped with the candidates on
   ``bucket``; candidates whose bits miss are *definitely new* and skip
   the exact join entirely.
2. **Exact confirm** — Bloom hits (possible false positives) go through
   a ``left_anti`` join against the exact seen table.

Bloom never drops a truly-new URL (no false negatives — property-tested)
and never admits a seen one (anti-join is exact), so seen-set parity is
exact; the Bloom only prunes join volume.

Scale math (10^10 keys): n_buckets=16384 → ~610k keys/bucket; at 12
bits/key each bucket's filter is ~0.9 MB — safely inside an executor
task, never on the driver. Candidates shuffle by the same ``bucket``
key the seen table is bucketed on, so the cogroup is co-partitioned
with the exact table's anti-join. The 24h TTL variant filters
``first_seen_iter`` at join time. Expired keys stay in the Bloom bits
until the crawl loop's next occupancy rebuild, which sizes the filter
from the live keys only; until then a stale bit costs one exact confirm.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.urls import canonicalize_url

N_HASHES = 7
BITS_PER_KEY = 12


def url_hash(col) -> F.Column:
    """Seen-set key: xxhash64 of the canonical URL (north_rule)."""
    return F.xxhash64(canonicalize_url(col))


def with_seen_key(df: DataFrame, url_col: str, n_buckets: int) -> DataFrame:
    return df.withColumn("canonical_url", canonicalize_url(url_col)).withColumn(
        "url_hash", F.xxhash64(F.col("canonical_url"))
    ).withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int"))


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates probe positions from key
    structure (raw keys may be sequential ints, not just xxhash64)."""
    with np.errstate(over="ignore"):
        z = h + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _positions(h: np.ndarray, nbits: int) -> np.ndarray:
    """k double-hash probe positions per key: (h1 + i*h2) mod nbits over
    the mixed key. h2 forced odd so probes cycle the full ring.
    Returns shape (len(h), N_HASHES).
    """
    m = _mix64(h)
    h1 = m & np.uint64(0xFFFFFFFF)
    h2 = (m >> np.uint64(32)) | np.uint64(1)
    i = np.arange(N_HASHES, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(nbits)).astype(
        np.int64
    )


def _build_one(hashes: np.ndarray) -> tuple[int, bytes]:
    n = max(len(hashes), 1)
    nbits = 1 << max(6, math.ceil(math.log2(n * BITS_PER_KEY)))
    pos = _positions(hashes.astype(np.uint64), nbits)
    arr = np.zeros(nbits >> 3, dtype=np.uint8)
    np.bitwise_or.at(arr, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return nbits, arr.tobytes()


def build_bloom(seen: DataFrame) -> DataFrame:
    """Per-bucket Bloom filters: (bucket, nbits, n_keys, bits)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        nbits, bits = _build_one(pdf["url_hash"].to_numpy())
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "nbits": [nbits],
                "n_keys": [len(pdf)],
                "bits": [bits],
            }
        )

    return seen.select("bucket", "url_hash").groupBy("bucket").applyInPandas(
        build, "bucket int, nbits long, n_keys long, bits binary"
    )


def merge_bloom(bloom: DataFrame, new_keys: DataFrame) -> DataFrame:
    """OR the new keys' bits into the existing per-bucket filters —
    incremental maintenance so the seen table is never rescanned per
    iteration (at 10^10 keys a from-scratch rebuild is a full-table
    scan). Buckets with no prior filter get a fresh one; ``n_keys``
    counts every key OR-ed into the bucket's bits.
    Cogroup on bucket — co-partitioned with the bloom table."""

    def merge(blm: pd.DataFrame, keys: pd.DataFrame) -> pd.DataFrame:
        if len(keys) == 0:
            return blm[["bucket", "nbits", "n_keys", "bits"]]
        kh = keys["url_hash"].to_numpy().astype(np.uint64)
        if len(blm) == 0:
            nbits, bits = _build_one(kh)
            return pd.DataFrame(
                {
                    "bucket": [int(keys["bucket"].iloc[0])],
                    "nbits": [nbits],
                    "n_keys": [len(keys)],
                    "bits": [bits],
                }
            )
        nbits = int(blm["nbits"].iloc[0])
        arr = np.frombuffer(blm["bits"].iloc[0], dtype=np.uint8).copy()
        pos = _positions(kh, nbits)
        np.bitwise_or.at(arr, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        return pd.DataFrame(
            {
                "bucket": [int(blm["bucket"].iloc[0])],
                "nbits": [nbits],
                "n_keys": [int(blm["n_keys"].iloc[0]) + len(keys)],
                "bits": [arr.tobytes()],
            }
        )

    return (
        bloom.groupBy("bucket")
        .cogroup(new_keys.select("bucket", "url_hash").groupBy("bucket"))
        .applyInPandas(merge, "bucket int, nbits long, n_keys long, bits binary")
    )


def collect_bloom(bloom: DataFrame) -> dict:
    """Materialize per-bucket filters driver-side:
    {bucket: (nbits, uint8 array)} — the broadcast-probe regime's
    in-memory form, maintained incrementally by ``merge_bloom_driver``."""
    return {
        int(r["bucket"]): (
            int(r["nbits"]),
            np.frombuffer(r["bits"], np.uint8).copy(),
        )
        for r in bloom.collect()
    }


def merge_bloom_driver(table: dict, rows) -> None:
    """OR a batch of (bucket, url_hash) keys into a driver-held filter
    table in place — the broadcast regime's incremental maintenance.
    One numpy pass per touched bucket (~µs/key); replaces a per-
    iteration Spark cogroup job + filter-table commit. Buckets with no
    filter yet get one sized for the batch (the caller's occupancy
    rebuild right-sizes it later).

    ``rows`` is a pyarrow Table with (bucket, url_hash) columns — the
    whole batch stays columnar on the driver (a Row list spent more
    per-iteration serial time building Python objects than the merge
    itself)."""
    bks = rows["bucket"].to_numpy(zero_copy_only=False).astype(np.int64)
    khs = (
        rows["url_hash"]
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
        .astype(np.uint64)
    )
    order = np.argsort(bks, kind="stable")
    bks, khs = bks[order], khs[order]
    uniq, starts = np.unique(bks, return_index=True)
    bounds = np.append(starts, len(bks))
    for i, bk in enumerate(uniq.tolist()):
        kh = khs[bounds[i] : bounds[i + 1]]
        ent = table.get(bk)
        if ent is None:
            nbits, bits = _build_one(kh)
            table[bk] = (nbits, np.frombuffer(bits, np.uint8).copy())
            continue
        nbits, arr = ent
        pos = _positions(kh, nbits)
        np.bitwise_or.at(arr, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: DataFrame | dict | Broadcast | None,
) -> DataFrame:
    """Rows of ``candidates`` whose url_hash is not in ``seen``.

    candidates must carry (url_hash, bucket). With a bloom, definite
    misses skip the anti-join; hits are confirmed exactly.

    The physical strategy follows the form of ``bloom``, which the
    caller picks by seen-set size:
    - ``None``: the seen KEYS themselves broadcast into a single
      anti-join — exact in one JVM hash probe, no confirm join, no
      shuffle of the candidates, and **no Python anywhere**. Right while
      the per-iteration re-ship of the raw keys (a driver-serial cost
      that grows with the frontier) undercuts the bloom regime's fixed
      O(filter bits) cost — the caller caps it at
      crawl.BROADCAST_ANTI_MAX_KEYS (200k), well before broadcast
      capacity matters.
    - a ``collect_bloom`` dict or a ``Broadcast`` of one: the per-bucket
      filters (small — up to a few hundred MB of bits) are probed in a
      narrow scalar pandas UDF — the candidates are **never shuffled**
      for the prune. Right when the seen keys outgrow the anti-join
      regime but 12 bits/key of filter still fits (≲10^9 seen keys);
      this is the regime the scaling bench lives in.
    - a DataFrame of per-bucket filters: candidates shuffle by
      ``bucket`` to meet their bucket's filter (cogroup) — the only
      option when the filters themselves are too big to broadcast (the
      10^10-key design point).
    """
    if bloom is None:
        return candidates.join(
            broadcast(seen.select("url_hash")), "url_hash", "left_anti"
        )

    if isinstance(bloom, (dict, Broadcast)):
        # a Broadcast is caller-owned: the caller controls its lifecycle
        # (the crawl loop re-broadcasts its driver-maintained bits each
        # iteration and destroys the previous one — without that,
        # per-iteration broadcasts pile up in the block managers until
        # the JVM ContextCleaner happens to run)
        bc = (
            bloom
            if isinstance(bloom, Broadcast)
            else candidates.sparkSession.sparkContext.broadcast(bloom)
        )

        @F.pandas_udf("boolean")
        def might(url_hash: pd.Series, bucket: pd.Series) -> pd.Series:
            tbl = bc.value
            h = url_hash.to_numpy().astype(np.uint64)
            b = bucket.to_numpy()
            out = np.zeros(len(h), dtype=bool)
            for bk in np.unique(b):
                ent = tbl.get(int(bk))
                if ent is None:
                    continue
                nbits, arr = ent
                m = b == bk
                pos = _positions(h[m], nbits)
                out[m] = (
                    (arr[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
                ).all(axis=1)
            return pd.Series(out)

        checked = candidates.withColumn(
            "might_contain", might(F.col("url_hash"), F.col("bucket"))
        )
    else:

        def check(cand: pd.DataFrame, blm: pd.DataFrame) -> pd.DataFrame:
            if len(cand) == 0:
                return cand.assign(might_contain=pd.Series([], dtype=bool))
            if len(blm) == 0:
                return cand.assign(might_contain=False)
            nbits = int(blm["nbits"].iloc[0])
            arr = np.frombuffer(blm["bits"].iloc[0], dtype=np.uint8)
            pos = _positions(cand["url_hash"].to_numpy().astype(np.uint64), nbits)
            hit = (arr[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
            return cand.assign(might_contain=hit.all(axis=1))

        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
        )
        checked = (
            candidates.groupBy("bucket")
            .cogroup(bloom.groupBy("bucket"))
            .applyInPandas(check, schema + ", might_contain boolean")
        )
    definite_new = checked.filter(~F.col("might_contain")).drop("might_contain")
    maybe = checked.filter(F.col("might_contain")).drop("might_contain")
    confirmed_new = maybe.join(_seen_keys(seen), "url_hash", "left_anti")
    return definite_new.unionByName(confirmed_new)


def _seen_keys(seen: DataFrame) -> DataFrame:
    """Build side of the exact-confirm anti-joins. shuffle_hash hint:
    the crawl loop runs with AQE off (see CrawlLoop.run), so an
    unhinted anti-join against the big seen table statically plans as
    sort-merge — re-SORTING the frontier keys every iteration. A
    shuffle-hash build of bare 8-byte keys is one hash table of
    n_seen/partitions entries per task: cheap at any scale, never
    sorts."""
    return seen.select("url_hash").hint("shuffle_hash")

