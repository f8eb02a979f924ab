"""Deduplication suite: exact, MinHash+LSH, SimHash, n-gram Jaccard,
connected-component duplicate clusters.

Reference parity: the visual near-duplicate path — feature vector →
kNN ≥ threshold → incremental cluster (VisualIndexerBolt.java:104-188,
VisualClustererBolt.java:79-144, ClustererBolt.java:126-152). Per
SURVEY §2.8 the north-star swaps the external visual-index service for
**MinHash-signature LSH over content**, and the Redis-incremental
clustering for deterministic connected components with cluster id =
min(doc_id) (replacing ``UUID.randomUUID``, VisualClustererBolt.java:
127,132).

Every kernel has a DuckDB twin. All but one are built-in column
expressions (transform / bit ops / aggregates); the MinHash signature
is one Arrow int64 kernel per batch (:func:`minhash_signatures`). The LSH
self-join shuffles on (band_idx, band_key): at 100 TB that is the only
exchange, candidate volume is O(sum of bucket sizes²) and controlled by
the band/row trade-off, and the verify stage touches only candidate
pairs — never the O(n²) cross product.

Because the driver's fixture corpus is all-distinct, queries run over a
deterministically **augmented corpus** (exact copies of doc_id%13==0,
mutated near-copies of doc_id%7==0) built identically in both engines —
so the dedup operators provably find a known duplicate structure.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

from ..functions.hashing import hash64, hash64_sql
from ..functions.text import (
    ascii_lower,
    ngrams,
    ngrams_sql,
    tokenize,
    tokenize_sql,
)

# MinHash parameters: K = BANDS * ROWS. The banding s-curve threshold
# (1/BANDS)^(1/ROWS) must sit BELOW the verify gate or LSH silently
# loses pairs the gate asks for: round 2 ran 4×4 (s ≈ 0.71 > gate 0.5 —
# pairs with true Jaccard in [0.5, 0.7) were found with only ~20-50%
# probability). 32 bands × 4 rows gives s ≈ 0.42 ≤ 0.5; at Jaccard 0.5
# per-pair recall is 1-(1-0.5^4)^32 ≈ 0.87 and ≥0.97 from 0.57 up —
# production-grade for a 0.5-threshold dedup. Signature cost is linear
# in K: K/SIG_LANES numpy passes over each batch's shingle hashes.
K_HASHES = 128
BANDS = 32
ROWS = 4
MINHASH_P = 2_147_483_647  # 2^31 - 1 (prime): permutation modulus
SHINGLE_N = 2
JACCARD_THRESHOLD = 0.5  # verify gate on LSH candidates
# Hot-bucket guard: a (band_idx, band_key) bucket with n canonicals puts
# n² candidate pairs through one join task. Exact duplicates are
# pre-collapsed (below) so boilerplate can't amplify buckets; residual
# buckets larger than this cap (adversarial near-identical floods) are
# DROPPED WHOLE and counted via observe() — duplicate_clusters logs the
# drop (no silent caps). Fixture corpora never approach the cap, so
# oracle parity also pins "cap did not fire".
LSH_BUCKET_CAP = 1000

# deterministic permutation coefficients (fixed literals on both engines);
# a_i*(h mod P) < 2^21 * 2^31 = 2^52 — no int64 overflow either engine.
COEF_A = [((i * 2654435761) % 1_000_003) + 1 for i in range(K_HASHES)]
COEF_B = [((i * 40503 + 17) % 1_000_033) for i in range(K_HASHES)]

SIMHASH_BITS = 60  # full width of the 60-bit portable hash
SIM_BANDS = 4
SIM_BAND_BITS = SIMHASH_BITS // SIM_BANDS  # 15 -> 2^15 = 32768 bucket values/band
MAX_HAMMING = 3  # pigeonhole: <=3 differing bits => >=1 of 4 bands equal

EXACT_MOD = 13
NEAR_MOD = 7
DUP_OFFSET = 1_000_000
NEAR_TAIL = " near duplicate tail"


# ---------------------------------------------------------------------------
# augmented corpus (identical construction in Spark and DuckDB)
# ---------------------------------------------------------------------------


def augment_corpus(documents: DataFrame) -> DataFrame:
    """documents + exact copies (%13) + mutated near-copies (%7)."""
    base = documents.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    exact = base.filter(F.col("doc_id") % EXACT_MOD == 0).select(
        (F.col("doc_id") + DUP_OFFSET).alias("doc_id"), "text"
    )
    near = base.filter(F.col("doc_id") % NEAR_MOD == 0).select(
        (F.col("doc_id") + 2 * DUP_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(NEAR_TAIL)).alias("text"),
    )
    return base.unionByName(exact).unionByName(near)


def augment_corpus_sql() -> str:
    return f"""(
        SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
        WHERE text IS NOT NULL
        UNION ALL
        SELECT doc_id + {DUP_OFFSET}, text FROM documents
        WHERE doc_id % {EXACT_MOD} = 0 AND text IS NOT NULL
        UNION ALL
        SELECT doc_id + {2 * DUP_OFFSET}, text || '{NEAR_TAIL}' FROM documents
        WHERE doc_id % {NEAR_MOD} = 0 AND text IS NOT NULL
    )"""


# ---------------------------------------------------------------------------
# exact dedup: hash-groupBy on normalized text
# ---------------------------------------------------------------------------


def exact_dedup(corpus: DataFrame) -> DataFrame:
    """(doc_id, text_hash, canonical_doc_id, dup_count); canonical =
    min(doc_id) per content hash — first-seen-wins parity
    (StatusCheckBolt semantics applied to content instead of URL)."""
    # ascii_lower + ASCII-space trim: engine lower()/trim() are
    # Unicode-divergent cross-engine (see functions/text.ascii_lower)
    hashed = corpus.select(
        "doc_id", F.md5(ascii_lower(F.trim(F.col("text")))).alias("text_hash")
    )
    groups = hashed.groupBy("text_hash").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )
    return (
        hashed.join(groups, "text_hash")
        .select("doc_id", "text_hash", "canonical_doc_id", "dup_count")
    )


def exact_dedup_sql() -> str:
    return f"""
        WITH corpus AS (SELECT * FROM {augment_corpus_sql()}),
        hashed AS (SELECT doc_id, md5(translate(trim(text, ' '), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS text_hash FROM corpus),
        groups AS (
            SELECT text_hash, min(doc_id) AS canonical_doc_id,
                   count(*) AS dup_count
            FROM hashed GROUP BY text_hash
        )
        SELECT h.doc_id, h.text_hash, g.canonical_doc_id, g.dup_count
        FROM hashed h JOIN groups g USING (text_hash)
        ORDER BY h.doc_id
    """


# ---------------------------------------------------------------------------
# MinHash signatures + banded LSH + Jaccard-verified pairs
# ---------------------------------------------------------------------------


def shingle_hashes_sql(expr: str) -> str:
    sh = f"list_distinct({ngrams_sql(tokenize_sql(expr), SHINGLE_N)})"
    return f"list_transform({sh}, s -> {hash64_sql('s')})"


def minhash_signature_sql(hashes_expr: str) -> str:
    lanes = []
    for i in range(K_HASHES):
        a, b = COEF_A[i], COEF_B[i]
        lanes.append(
            f"coalesce(list_min(list_transform({hashes_expr}, "
            f"h -> ({a} * (h % {MINHASH_P}) + {b}) % {MINHASH_P})), {MINHASH_P})"
        )
    return "[" + ", ".join(lanes) + "]"


# lanes per numpy pass, and shingles per pass: bounds the (lanes ×
# shingles) int64 block at 8 MB whatever the batch's document lengths
SIG_LANES = 16
SIG_CHUNK = 1 << 16


def _minhash_kernel():
    # self-contained closure (constants and in-function imports only):
    # cloudpickle ships it by value, so workers that cannot import this
    # package (the stock daemon) still run it
    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        a = np.asarray(COEF_A, np.int64)
        b = np.asarray(COEF_B, np.int64)[:, None]
        for rb in batches:
            sh = rb.column(rb.num_columns - 1)
            off = sh.offsets.to_numpy().astype(np.int64)
            hp = sh.flatten().to_numpy(zero_copy_only=False) % MINHASH_P
            off -= off[0]
            n = rb.num_rows
            sig = np.full((n, K_HASHES), MINHASH_P, np.int64)
            r0 = 0
            while r0 < n:
                # rows [r0, r1) hold at most SIG_CHUNK shingles (or one row)
                r1 = int(np.searchsorted(off, off[r0] + SIG_CHUNK, "right")) - 1
                r1 = max(r0 + 1, r1)
                lens = np.diff(off[r0 : r1 + 1])
                rows = np.flatnonzero(lens) + r0
                if rows.size:
                    h = hp[off[r0] : off[r1]]
                    starts = off[rows] - off[r0]
                    for j in range(0, K_HASHES, SIG_LANES):
                        m = np.multiply.outer(a[j : j + SIG_LANES], h)
                        m += b[j : j + SIG_LANES]
                        m %= MINHASH_P
                        sig[rows, j : j + SIG_LANES] = np.minimum.reduceat(
                            m, starts, axis=1
                        ).T
                r0 = r1
            lanes = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * K_HASHES, K_HASHES, dtype=np.int32)),
                pa.array(sig.ravel()),
            )
            yield pa.RecordBatch.from_arrays(
                [*rb.columns, lanes], names=[*rb.schema.names, "sig"]
            )

    return kernel


def minhash_signatures(corpus: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, [carry...,] shingles, sig): one row per non-NULL-text
    row of ``corpus``. ``shingles`` is the sorted distinct
    SHINGLE_N-gram hash array (the DuckDB twin's
    ``shingle_hashes_sql``); ``sig`` the K_HASHES lanes sig_i =
    min((a_i*(h mod P)+b_i) mod P) over it (``minhash_signature_sql``),
    all P for an empty array (fewer than SHINGLE_N tokens). NULL texts
    get no row. ``carry`` names columns of ``corpus`` passed through.

    Two steps: one projection hashes each distinct shingle once, then
    one Arrow kernel computes every lane in int64 numpy — SIG_LANES
    lanes per pass over a batch's flat hash array, then
    ``np.minimum.reduceat`` over the list offsets. Exact:
    a_i*(h mod P) < 2^21 * 2^31 = 2^52. No per-row Python, no
    aggregate, no shuffle."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    shingles = F.sort_array(
        F.array_distinct(
            F.transform(F.array_distinct(ngrams(F.col("toks"), SHINGLE_N)), hash64)
        )
    )
    # tokens as an attribute first: ngrams reads its input several times,
    # and a tokenize Column would be inlined at every read
    src = (
        corpus.filter(F.col("text").isNotNull())
        .select("doc_id", *carry, tokenize(F.col("text")).alias("toks"))
        .select("doc_id", *carry, shingles.alias("shingles"))
    )
    # a copy: StructType.add would mutate src's cached schema
    schema = StructType([*src.schema.fields, StructField("sig", ArrayType(LongType()))])
    return src.mapInArrow(_minhash_kernel(), schema)


def lsh_pairs(corpus: DataFrame) -> DataFrame:
    """Jaccard-verified near-duplicate pairs via banded LSH.

    explode(bands) → self-join on (band_idx, band_key) → distinct
    *narrow* (doc_a, doc_b) pairs → join shingle sets back → exact
    Jaccard → threshold. Only candidate pairs are verified (never the
    cross product), and the candidate dedup shuffles ids only — the
    shingle arrays rejoin afterwards from the persisted signature table
    (one hash pass over the corpus, total).

    The signature table is persisted AND materialized up front (see
    lsh_pairs_with_sigs) — building this frame runs one Spark job. The
    cache then lives until the session drops it: a lazy pair surface has
    no post-action hook to release it. Eager callers should use
    :func:`lsh_pairs_with_sigs` and unpersist the handle once the pair
    set is materialized (duplicate_clusters does)."""
    pairs, _sigs, _hot = lsh_pairs_with_sigs(corpus)
    return pairs


def band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) — one row per LSH band per doc with
    a non-empty shingle set (empty-shingle docs all share the sentinel
    signature: banding them creates one guaranteed-hot bucket whose
    pairs can never verify above 0.0, so they're skipped — mirrored in
    the SQL twin by the same reasoning applied to the naive pipeline).

    Band key = xxhash64 of the band's ROWS signature lanes: an 8-byte
    shuffle key instead of a dash-joined string (32 unrolled string
    builders blew up codegen at K=128), and engine-internal only — a
    hash collision can only ADD a candidate pair, which the exact
    Jaccard verify gate removes, so the output is unchanged."""
    return sigs.filter(F.size("shingles") > 0).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda j: F.xxhash64(F.slice(F.col("sig"), j * ROWS + 1, ROWS)),
            )
        ).alias("band_idx", "band_key"),
    )


def lsh_canonical_pairs(
    corpus: DataFrame, bucket_cap: int = LSH_BUCKET_CAP
):
    """(cpairs, sigs, hot): the CANONICAL-level pair pipeline — pairs of
    exact-dup canonicals with verified Jaccard, BEFORE expansion back to
    document pairs. Consumers that don't need per-document pairs
    (clustering: components are identical either way) should stop here —
    the expansion stage regenerates g² intra-group rows for a g-member
    exact-dup group, which is the pair-query output contract but pure
    waste for anything that re-collapses pairs into groups.

    Shares everything else with :func:`lsh_pairs_with_sigs`; the
    docstring there describes the pipeline."""
    return _lsh_pipeline(corpus, bucket_cap)


def lsh_pairs_with_sigs(
    corpus: DataFrame, bucket_cap: int = LSH_BUCKET_CAP
):
    """(pairs, sigs, hot): the pair pipeline; the ONE persisted table it
    reads everywhere — (doc_id=canonical, shingles, sig, members) where
    ``members`` is the sorted exact-duplicate group — materialized
    eagerly here (one job) so concurrent downstream stages never race to
    populate the cache; caller owns sigs.unpersist() after
    materializing pairs; and the tiny
    (band_idx, band_key, bn) frame of buckets the hot-bucket cap dropped
    (empty on every fixture — eager callers must count it and log; an
    Observation can't carry this because the banded subtree appears
    twice in the self-joined plan and duplicated CollectMetrics nodes
    break metric collection).

    Scale shape (the two r2-verdict skew fixes):

    1. **Exact-duplicate pre-collapse.** Identical normalized texts share
       every band key, so g exact copies amplify every one of their
       buckets by g (g² candidate pairs per band — the classic
       boilerplate explosion). The corpus is first collapsed to exact
       canonicals (min doc_id per normalized-text hash, the same
       normalization as :func:`exact_dedup`; identical hash ⇒ identical
       ``tokenize`` stream ⇒ identical shingle set, so this is lossless);
       LSH runs on canonicals only, and pairs expand back afterwards:
       cross-group pairs inherit the canonical pair's jaccard (members
       have the canonical's exact shingle set), intra-group pairs are
       jaccard 1.0 by construction (emitted only when the group's
       shingle set is non-empty — the naive pipeline scores
       empty-vs-empty as 0.0). Oracle parity against the NAIVE
       all-documents SQL twin proves the equivalence every round.

    2. **Hot-bucket cap.** Residual buckets (near- but not exactly-
       identical floods) above ``bucket_cap`` canonicals are dropped
       whole — bounded work in exchange for explicitly-logged recall
       loss on adversarial inputs. Empty-shingle canonicals (all-sentinel
       signatures — every short doc shares ALL 32 band keys) can never
       verify above 0.0, so they skip banding entirely instead of
       forming the one guaranteed-hot bucket."""
    cpairs, sigs, hot = _lsh_pipeline(corpus, bucket_cap)
    return expand_canonical_pairs(cpairs, sigs), sigs, hot


def expand_canonical_pairs(cpairs: DataFrame, sigs: DataFrame) -> DataFrame:
    """Stage 3 of the pair pipeline: canonical pairs → document pairs.
    Exposed separately so a session that holds the canonical artifacts
    (cpairs + the persisted signature table) can re-run just the
    expansion — the artifact-sharing consumers in the driver entry do
    (the reference's external visual index amortizes the signature
    build across consumers the same way, VisualIndexerBolt.java:167).

    Cross-group pairs inherit the canonical pair's jaccard (members
    have the canonical's exact shingle set); intra-group pairs are
    jaccard 1.0 by construction, emitted only for non-empty shingle
    sets (the naive pipeline scores empty-vs-empty 0.0)."""
    verified = cpairs.join(
        sigs.select(F.col("doc_id").alias("ca"), F.col("members").alias("mem_a")),
        "ca",
    ).join(
        sigs.select(F.col("doc_id").alias("cb"), F.col("members").alias("mem_b")),
        "cb",
    )
    return expand_members(verified, sigs)


def expand_members(verified: DataFrame, sigs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) document pairs from canonical pairs
    carrying both sides' members (``verified``: mem_a, mem_b, jaccard)
    plus the intra-group 1.0 pairs of ``sigs``' members — the expansion
    shared by :func:`expand_canonical_pairs` and the streaming LSH
    micro-batch."""
    cross = (
        verified.select(F.explode("mem_a").alias("ma"), "mem_b", "jaccard")
        .select("ma", F.explode("mem_b").alias("mb"), "jaccard")
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            "jaccard",
        )
    )
    intra = (
        sigs.filter((F.size("shingles") > 0) & (F.size("members") > 1))
        .select(F.explode("members").alias("doc_a"), "members")
        .select("doc_a", F.explode("members").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(intra)


def canonical_signatures(corpus: DataFrame) -> tuple[DataFrame, int]:
    """(sigs, n): the persisted, already materialized signature table of
    ``corpus``'s exact-duplicate canonicals — (doc_id=canonical,
    members, shingles, sig), ``members`` the sorted doc_ids sharing the
    canonical's normalized text (md5 of ascii_lower(trim(text)), the
    normalization of :func:`exact_dedup`) — and its row count. The one
    build of batch :func:`lsh_pairs_with_sigs` and the streaming LSH
    micro-batch; the caller owns ``sigs.unpersist()``.

    The doc→canonical mapping rides the signature table as ``members``
    (a carry column of :func:`minhash_signatures`): the expansion stage
    needs it several times, and a free-standing mapping frame would
    re-run the md5 groupBy at every reference (measured 3× the query's
    cost).

    The count runs NOW: the banded self-join, the hot-bucket broadcast
    and the verify/expansion rejoins read this table from ~6 places, and
    several of those stages launch concurrently inside the downstream
    action — each racing stage that finds the cache cold recomputes the
    md5+signature subtree (measured 47s → 12s at sf0.1 by eagerizing)."""
    hashed = corpus.select(
        "doc_id", F.md5(ascii_lower(F.trim(F.col("text")))).alias("text_hash")
    )
    groups = hashed.groupBy("text_hash").agg(
        F.min("doc_id").alias("doc_id"),
        F.sort_array(F.collect_list("doc_id")).alias("members"),
    )
    canon = corpus.join(groups.select("doc_id", "members"), "doc_id")
    sigs = minhash_signatures(canon, carry=("members",)).persist()
    return sigs, sigs.count()


def _lsh_pipeline(corpus: DataFrame, bucket_cap: int):
    # 1. exact pre-collapse + signatures (one persisted, counted table)
    sigs, _ = canonical_signatures(corpus)

    # 2. banding over non-empty canonicals, hot buckets dropped + counted.
    bands = band_rows(sigs)
    # hot = the buckets over the cap: small by definition (each is a
    # whole flood), so the anti-join below broadcasts and the band rows
    # never shuffle for the guard itself
    hot = (
        bands.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") > bucket_cap)
    )
    bands = bands.join(
        F.broadcast(hot.select("band_idx", "band_key")),
        ["band_idx", "band_key"],
        "left_anti",
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_key")
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    cand = cand.join(
        sigs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
        "doc_a",
    ).join(
        sigs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
        "doc_b",
    )
    cpairs = verify_jaccard(cand).select(
        F.col("doc_a").alias("ca"), F.col("doc_b").alias("cb"), "jaccard"
    )
    return cpairs, sigs, hot


def verify_jaccard(cand: DataFrame) -> DataFrame:
    """``cand`` + the exact Jaccard of its shingle arrays (sh_a, sh_b),
    rounded to 6 dp (0.0 when both are empty), kept at ≥
    JACCARD_THRESHOLD — the verify gate of batch and streaming LSH."""
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(0.0)
    return cand.withColumn("jaccard", F.round(jac, 6)).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


def lsh_pairs_sql(corpus_src: str | None = None) -> str:
    hashes = shingle_hashes_sql("text")
    sig = minhash_signature_sql("hh")
    band_keys = ", ".join(
        # DuckDB 1-based inclusive slice sig[s:e]
        f"array_to_string(list_transform(sig[{j * ROWS + 1}:{(j + 1) * ROWS}], x -> CAST(x AS VARCHAR)), '-')"
        for j in range(BANDS)
    )
    return f"""
        WITH corpus AS (SELECT * FROM {corpus_src or augment_corpus_sql()}),
        sh AS (SELECT doc_id, {hashes} AS hh FROM corpus),
        sigs AS (SELECT doc_id, hh, {sig} AS sig FROM sh),
        bands AS (
            SELECT doc_id, hh, band_idx, bks[band_idx] AS band_key
            FROM (SELECT doc_id, hh, [{band_keys}] AS bks FROM sigs)
            CROSS JOIN (SELECT unnest(generate_series(1, {BANDS})) AS band_idx) g
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        verified AS (
            SELECT c.doc_a, c.doc_b,
                   round(CASE WHEN len(list_distinct(list_concat(sa.hh, sb.hh))) > 0
                         THEN len(list_intersect(sa.hh, sb.hh)) * 1.0
                              / len(list_distinct(list_concat(sa.hh, sb.hh)))
                         ELSE 0.0 END, 6) AS jaccard
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b
        )
        SELECT doc_a, doc_b, jaccard FROM verified
        WHERE jaccard >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard top-k via inverted index (sparse similarity join)
# ---------------------------------------------------------------------------

JACCARD_TOPK = 3
JACCARD_PROBE_MOD = 25
MAX_SHINGLE_DF_FRAC = 0.10  # drop shingles present in >10% of docs


def jaccard_topk(corpus: DataFrame, k: int = JACCARD_TOPK) -> DataFrame:
    """Top-k most-similar docs per probe by 2-gram Jaccard, via an
    inverted shingle index: explode → df-cap → self-join on shingle →
    count intersections → Jaccard from set sizes.

    The df cap (drop shingles in >10% of docs) is the standard
    stop-shingle pruning that keeps the index join linear in corpus
    size — the candidate-pair count for a shingle is df², so one
    ubiquitous shingle otherwise dominates the shuffle. Jaccard is
    computed consistently over the capped shingle vocabulary (both set
    sizes and intersections) — deterministic and mirrored in the
    oracle.

    Ranking on the double a/b is cross-engine safe: IEEE division of
    identical integers is correctly rounded everywhere (unlike log/exp).
    """
    from pyspark.sql import Window

    sh = (
        corpus.select("doc_id", tokenize(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(ngrams(F.col("toks"), SHINGLE_N))).alias(
                "shingle"
            ),
        )
        .select("doc_id", hash64(F.col("shingle")).alias("h"))
        # never NULL (a string's hash); stated so that every consumer
        # sees the same subtree below the window, whether or not a join
        # on h infers the filter
        .filter(F.col("h").isNotNull())
    )
    # corpus size as a broadcast 1-row join, not an eager .count() —
    # keeps the whole query one job. floor() (not int-cast/round) so the
    # cap truncates identically in Spark, Python and DuckDB.
    n_docs = F.broadcast(corpus.agg(F.count(F.lit(1)).alias("_n_docs")))
    max_df = F.greatest(
        F.floor(F.col("_n_docs") * F.lit(MAX_SHINGLE_DF_FRAC)).cast("int"), F.lit(1)
    )
    # df as a window over h, not an aggregate joined back, and each
    # doc's capped set size as a window over doc_id, not an aggregate
    # joined to both sides: the size window's exchange sits directly
    # above the df window and both join sides read it (the second a
    # reused exchange), so the corpus is scanned and the df window runs
    # once. The probe side picks its rows with explode_outer, which
    # infers no filter: a probe filter would sink below that exchange on
    # one side only and split it. A null h never joins.
    sh = (
        sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .crossJoin(n_docs)
        .filter(F.col("df") <= max_df)
        .select("doc_id", "h")
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    probe_h = F.explode_outer(
        F.when(F.col("doc_id") % JACCARD_PROBE_MOD == 0, F.array("h"))
    )
    probes = sh.select(
        F.col("doc_id").alias("probe_id"), F.col("sz").alias("sz_a"), probe_h.alias("h")
    )
    joined = (
        probes.join(sh.withColumnRenamed("sz", "sz_b"), "h")
        .filter(F.col("doc_id") != F.col("probe_id"))
        .groupBy("probe_id", "doc_id", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("jaccard"), F.asc("doc_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id",
            "doc_id",
            "rank",
            "inter",
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def jaccard_topk_sql(k: int = JACCARD_TOPK) -> str:
    hashes = (
        f"list_transform(list_distinct({ngrams_sql(tokenize_sql('text'), SHINGLE_N)}), "
        f"s -> {hash64_sql('s')})"
    )
    return f"""
        WITH corpus AS (SELECT * FROM {augment_corpus_sql()}),
        sh0 AS (
            SELECT doc_id, unnest({hashes}) AS h FROM corpus
        ),
        caps AS (
            -- floor, not CAST-round: DuckDB CAST(x AS INT) rounds half
            -- away from zero while the Spark side truncates
            SELECT h FROM sh0 GROUP BY h
            HAVING count(*) <= greatest(CAST(floor((SELECT count(*) FROM corpus) * {MAX_SHINGLE_DF_FRAC}) AS INT), 1)
        ),
        sh AS (SELECT sh0.* FROM sh0 JOIN caps USING (h)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        probes AS (
            SELECT doc_id AS probe_id, h FROM sh WHERE doc_id % {JACCARD_PROBE_MOD} = 0
        ),
        inter AS (
            SELECT p.probe_id, s.doc_id, count(*) AS inter
            FROM probes p JOIN sh s USING (h)
            WHERE s.doc_id <> p.probe_id
            GROUP BY p.probe_id, s.doc_id
        ),
        scored AS (
            SELECT i.probe_id, i.doc_id, i.inter,
                   CAST(i.inter AS DOUBLE) / (a.sz + b.sz - i.inter) AS jaccard
            FROM inter i
            JOIN sizes a ON a.doc_id = i.probe_id
            JOIN sizes b ON b.doc_id = i.doc_id
        )
        SELECT probe_id, doc_id, rank, inter, round(jaccard, 6) AS jaccard
        FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
                        ORDER BY jaccard DESC, doc_id ASC) AS INT) AS rank
            FROM scored
        ) WHERE rank <= {k}
        ORDER BY probe_id, rank
    """


# ---------------------------------------------------------------------------
# SimHash + banded Hamming pairs
# ---------------------------------------------------------------------------


def simhash_sql(expr: str) -> str:
    hh = f"list_transform({tokenize_sql(expr)}, t -> {hash64_sql('t')})"
    parts = []
    for b in range(SIMHASH_BITS):
        vote = (
            f"list_sum(list_transform({hh}, "
            f"h -> CASE WHEN (h // {2**b}) % 2 = 1 THEN 1 ELSE -1 END))"
        )
        parts.append(f"(CASE WHEN coalesce({vote}, 0) > 0 THEN {2**b} ELSE 0 END)")
    return "CAST((" + " + ".join(parts) + ") AS BIGINT)"


def simhash_table(corpus: DataFrame) -> DataFrame:
    """(doc_id, sh) via explode → hash once → SIMHASH_BITS bit-vote
    aggs: sh bit b is set iff sum_tokens(bit_b(h(token)) ? +1 : -1) > 0
    (``simhash_sql``). 60 bits, not 32: at 10^10 docs the banded
    self-join's candidate volume is O(n^2 / band_value_space), and 15-bit
    bands give 32768 bucket values per band vs 256 for 8-bit bands.
    Hashing each token once in an exploded column matters: a per-bit
    column expression over the token array makes Catalyst recompute the
    token md5 for every bit. Whether an Arrow kernel (the MinHash
    kernel's shape) should replace the aggregate plan is open: two
    prototype measurements disagree (PLANS.md "MinHash signatures: one
    kernel"). Token-less texts ("", punctuation only) get sh = 0; NULL texts get
    no row.

    One scan: explode_outer gives a token-less text one row with a NULL
    hash, which votes -1 on every bit (sh = 0). A separate empties
    branch would put a second copy of the corpus under every consumer
    (both sides of ``simhash_pairs``' self-join)."""
    hh = (
        corpus.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode_outer(tokenize(F.col("text"))).alias("tok"))
        .select("doc_id", hash64(F.col("tok")).alias("h"))
    )
    votes = hh.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b) % 2 == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    return votes.select(
        "doc_id",
        sum(
            [F.when(F.col(f"v{b}") > 0, F.lit(2**b)).otherwise(F.lit(0)) for b in range(SIMHASH_BITS)],
            start=F.lit(0),
        )
        .cast("long")
        .alias("sh"),
    )


def simhash_pairs(corpus: DataFrame) -> DataFrame:
    """Pairs within Hamming distance MAX_HAMMING, found via SIM_BANDS
    15-bit band buckets (a pair ≤3 bits apart must agree on ≥1 of the 4
    bands — exact recall by pigeonhole). Scale bound: expected bucket
    size n/2^15 per band ⇒ candidate pairs ≈ SIM_BANDS·n²/2^15 — the
    only quadratic term, controlled by the band width."""
    sh = simhash_table(corpus)
    bands = sh.select(
        "doc_id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sh"), SIM_BAND_BITS * j)
                    % (2 ** SIM_BAND_BITS)
                    for j in range(SIM_BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), "band_idx", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), "band_idx", "band_val"
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs_sql() -> str:
    sh = simhash_sql("text")
    band_vals = ", ".join(
        f"(sh // {2 ** (SIM_BAND_BITS * j)}) % {2 ** SIM_BAND_BITS}"
        for j in range(SIM_BANDS)
    )
    return f"""
        WITH corpus AS (SELECT * FROM {augment_corpus_sql()}),
        shs AS (SELECT doc_id, {sh} AS sh FROM corpus),
        bands AS (
            SELECT doc_id, sh, band_idx, bvs[band_idx] AS band_val
            FROM (SELECT doc_id, sh, [{band_vals}] AS bvs FROM shs)
            CROSS JOIN (SELECT unnest(generate_series(1, {SIM_BANDS})) AS band_idx) g
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, a.sh AS sh_a,
                            b.doc_id AS doc_b, b.sh AS sh_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {MAX_HAMMING}
        ORDER BY doc_a, doc_b
    """


# ---------------------------------------------------------------------------
# connected-component duplicate clusters (iterative; deterministic ids)
# ---------------------------------------------------------------------------


def log_hot_drops(hot: DataFrame) -> int:
    """Count the band rows the hot-bucket cap dropped (``hot`` is the
    (band_idx, band_key, bn) frame of the LSH pipeline), log one WARNING
    when there are any, and return the count. No silent caps: the
    near-dup pairs (and clusters) of a corpus with drops are explicitly
    partial. Eager callers run it once per corpus, not once per
    consumer."""
    r = hot.agg(
        F.coalesce(F.sum("bn"), F.lit(0)).alias("n"), F.count(F.lit(1)).alias("k")
    ).collect()[0]
    if r["n"]:
        _LOG.warning(
            "LSH hot-bucket cap dropped %d band rows in %d buckets; "
            "near-duplicate recall is reduced on this corpus",
            r["n"],
            r["k"],
        )
    return r["n"]


# Clustering regime switch of batch clusters_from_canonical: up to this
# many edges the component graph is collected to the driver and
# labelled by union_find_labels; above it min_label_propagation runs on
# the executors. The driver path is still the faster one at 10^6
# edges (PLANS.md "MinHash signatures: one kernel"); the limit bounds
# the driver's collected graph, not a measured speed crossover.
DRIVER_EDGE_LIMIT = 1_000_000


def union_find_labels(edges) -> list[tuple[int, int]]:
    """Driver-side union-find with deterministic min-id component
    labels (path-halving; union by min id). ``edges`` iterates (a, b)
    pairs; returns sorted (doc_id, cluster_id) rows for every vertex
    that appears in an edge. Shared by the batch ≤1M-edge regime and
    the streaming clusters op (which folds each batch's graph of stored
    labels) so the label rule can't diverge."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return sorted((x, find(x)) for x in parent)


def duplicate_clusters(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) for docs in any duplicate relation; cluster
    id = min(doc_id) in the component (deterministic — replaces the
    reference's UUID cluster ids, VisualClustererBolt.java:127,132).

    Edges = exact-dup groups ∪ Jaccard-verified LSH pairs. Iterative
    min-label propagation: O(log n) join rounds, each a shuffle on
    doc_id — no driver-side graph.

    Clustering consumes CANONICAL-level near edges
    (:func:`lsh_canonical_pairs`), not expanded document pairs: the
    member→canonical star edges already connect every exact duplicate
    to its canonical, so one canonical↔canonical edge yields the same
    connected components as the members_a × members_b expansion — O(g)
    edges per g-member boilerplate group instead of the g² the
    pair-query output contract requires. Component min-ids (labels) are
    unchanged because the vertex set is unchanged.

    Cache ownership: in the >1M-edge regime the returned frame is the
    persisted :func:`min_label_propagation` result — library callers
    that hold it beyond one action should ``unpersist()`` it when done
    (the ≤1M regime returns an unpersisted ``createDataFrame``, where
    unpersist is a harmless no-op).
    """
    cpairs, sigs, hot = lsh_canonical_pairs(corpus)
    return clusters_from_canonical(spark, cpairs, sigs, hot)


def clusters_from_canonical(
    spark: SparkSession,
    cpairs: DataFrame,
    sigs: DataFrame,
    hot: DataFrame,
    release_sigs: bool = True,
    log_hot: bool = True,
) -> DataFrame:
    """Connected components over the canonical-level artifacts — the
    back half of :func:`duplicate_clusters`, exposed so a session
    holding shared artifacts can reuse them (``release_sigs=False``
    keeps the signature cache alive for other consumers;
    ``log_hot=False`` skips the hot-drop count when the caller already
    counted and logged it at artifact-build time — the no-silent-caps
    contract wants the warning once per corpus, not once per
    consumer)."""
    # exact-dup edges (member → canonical) come off the cached signature
    # table's members arrays — no second corpus hash pass
    e1 = (
        sigs.filter(F.size("members") > 1)
        .select(F.col("doc_id").alias("b"), F.explode("members").alias("a"))
        .select("a", "b")
    )
    near = cpairs.select(F.col("ca").alias("a"), F.col("cb").alias("b"))
    edges = e1.unionByName(near).filter(F.col("a") != F.col("b")).dropDuplicates(
        ["a", "b"]
    ).persist()

    # Scale-adaptive: up to DRIVER_EDGE_LIMIT edges the component graph
    # is collected and labelled by a driver union-find (measured 5.7× to
    # 2.7× faster than min_label_propagation from 10^4 to 10^6 edges on
    # a 4-CPU local master: each distributed round costs fixed shuffle
    # latency). Above it, the iterative min-label join path runs — same
    # deterministic output, no driver materialization.
    n_edges = edges.count()  # materializes the edge cache...
    if log_hot:
        log_hot_drops(hot)  # before the release: `hot` reads the sigs
    if release_sigs:
        sigs.unpersist()  # the LSH signature table can go now
    if n_edges <= DRIVER_EDGE_LIMIT:
        rows = union_find_labels(
            (row["a"], row["b"]) for row in edges.collect()
        )
        edges.unpersist()
        return spark.createDataFrame(rows, "doc_id long, cluster_id long")
    out = min_label_propagation(edges)
    edges.unpersist()
    return out


# convergence backstop for min_label_propagation: with pointer-doubling
# each round at least halves every remaining label-chain, so 64 rounds
# cover any graph that fits in an int64 id space; hitting the cap means
# a logic bug, not a big graph — fail loudly, never return partial labels
MAX_LABEL_ROUNDS = 64


def min_label_propagation(
    edges: DataFrame, stats: dict | None = None
) -> DataFrame:
    """Distributed connected components by min-label propagation WITH
    pointer-doubling over an (a, b) edge frame → (doc_id, cluster_id),
    cluster_id = min(doc_id) of the component. No driver-side graph.
    The >1M-edge regime of :func:`duplicate_clusters`.

    Each round is (1) neighbor-min — every vertex takes the min label
    over its neighbors — then (2) a SHORTCUT join: label(v) :=
    min(label(v), label(label(v))). Neighbor-min alone moves a
    component's min one hop per round (O(diameter) — a 10^5-long chain
    of near-dup docs would need 10^5 rounds); the shortcut halves every
    label-chain per round, giving the textbook O(log n) bound
    (pointer-doubling / Shiloach-Vishkin-style shortcutting; measured
    round counts in PLANS.md round 5). Every label IS a vertex id
    (init label = own id; mins of ids), so the shortcut join is total.
    Converges when a round changes nothing; the 64-round backstop only
    guards against logic bugs (it would otherwise silently mislabel —
    the pre-r5 cap of 20 neighbor-min-only rounds did exactly that on
    chains longer than 20).

    ``stats`` (optional) receives {"rounds": N} — the measured pass
    count."""
    # bidirectional adjacency + label frames are LINEAGE-CUT per round
    # (localCheckpoint: materialize + truncate): an iterative algorithm
    # that only persists grows its LOGICAL plan ~4× per round (labels is
    # referenced twice per stage) — the round-10 plan's mere toString
    # OOMed the driver. This is the standard iterative-graph checkpoint
    # cadence (GraphFrames does the same); a production run on flaky
    # executors uses a reliable checkpoint dir instead of local blocks.
    adj = (
        edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)
    )

    labels = (
        adj.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    rounds = 0
    converged = False
    while rounds < MAX_LABEL_ROUNDS:
        rounds += 1
        neighbor_min = (
            adj.join(labels, adj["b"] == labels["doc_id"])
            .groupBy(adj["a"])
            .agg(F.min("label").alias("nmin"))
        )
        stepped = (
            labels.join(neighbor_min, labels["doc_id"] == neighbor_min["a"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        # pointer-doubling shortcut: follow one's label's label
        lref = stepped.select(
            F.col("doc_id").alias("ref_id"), F.col("label").alias("ref_label")
        )
        new_labels = (
            stepped.join(lref, stepped["label"] == lref["ref_id"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("ref_label"), F.col("label")),
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        for h in (labels, stepped):
            h.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        labels.unpersist()
        adj.unpersist()
        raise RuntimeError(
            f"min_label_propagation did not converge in {MAX_LABEL_ROUNDS} "
            "rounds — shortcutting guarantees O(log n); this is a bug"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # materialize the (small) label table so the final round's cache —
    # and the whole propagation lineage — can be released now; callers
    # own out.unpersist() (the shared-artifact cache does on evict)
    out = labels.select("doc_id", F.col("label").alias("cluster_id")).persist()
    out.count()
    labels.unpersist()
    adj.unpersist()
    return out


def duplicate_clusters_sql(corpus_src: str | None = None) -> str:
    """DuckDB oracle via recursive transitive closure (fine at fixture
    scale; the Spark path is the one designed for 10^10). ``corpus_src``
    re-points the corpus at another FROM-able source (the composed
    pipeline's twin)."""
    return f"""
        WITH RECURSIVE corpus AS (SELECT * FROM {corpus_src or augment_corpus_sql()}),
        hashed AS (SELECT doc_id, md5(translate(trim(text, ' '), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS text_hash FROM corpus),
        exact_edges AS (
            SELECT h.doc_id AS a, g.canonical AS b
            FROM hashed h JOIN (
                SELECT text_hash, min(doc_id) AS canonical, count(*) AS c
                FROM hashed GROUP BY text_hash
            ) g USING (text_hash)
            WHERE g.c > 1 AND h.doc_id <> g.canonical
        ),
        near_edges AS (
            SELECT doc_a AS a, doc_b AS b FROM ({lsh_pairs_sql(corpus_src)})
        ),
        edges AS (
            SELECT a, b FROM exact_edges UNION SELECT a, b FROM near_edges
            UNION SELECT b, a FROM exact_edges UNION SELECT b, a FROM near_edges
        ),
        reach AS (
            SELECT a AS src, b AS dst FROM edges
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        )
        SELECT src AS doc_id, least(min(dst), src) AS cluster_id
        FROM reach GROUP BY src ORDER BY doc_id
    """


def near_dup_filter(
    spark: SparkSession,
    corpus: DataFrame,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, cluster_id, kept) over the FULL corpus — the filtered
    corpus a training pipeline actually materializes downstream of
    :func:`duplicate_clusters`: one survivor per duplicate component
    (its min-doc_id canonical), every unclustered doc kept,
    ``cluster_id`` null for singletons.

    Plan: clusters (rows ∝ docs in any duplicate relation — a small
    fraction of the corpus) on the RIGHT of a left join with the big
    corpus streaming on the left; AQE broadcasts the cluster frame at
    fixture scale and shuffle-hashes on doc_id at 100 TB. The corpus
    text is projected away before the join — only 8-byte ids move.

    Reference analog: the reference stores cluster membership and
    serves de-duplicated results at query time
    (``VisualClustererBolt.java:79-144``); a batch corpus pipeline
    materializes the keep decision instead.

    ``clusters`` lets a session that already materialized
    :func:`duplicate_clusters` (or :func:`clusters_from_canonical`)
    pass it in instead of re-running the LSH pipeline.
    """
    if clusters is None:
        clusters = duplicate_clusters(spark, corpus)
    ids = corpus.select(F.col("doc_id").cast("long").alias("doc_id"))
    return ids.join(clusters, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        (
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        ).alias("kept"),
    )


def near_dup_filter_sql(corpus_src: str | None = None) -> str:
    """DuckDB twin: the recursive-closure cluster oracle as a CTE, left
    join back onto the corpus."""
    return f"""
        WITH corpus AS (SELECT * FROM {corpus_src or augment_corpus_sql()}),
        clusters AS ({duplicate_clusters_sql(corpus_src)})
        SELECT c.doc_id, cl.cluster_id,
               (cl.cluster_id IS NULL OR cl.cluster_id = c.doc_id) AS kept
        FROM corpus c LEFT JOIN clusters cl ON c.doc_id = cl.doc_id
        ORDER BY c.doc_id
    """
