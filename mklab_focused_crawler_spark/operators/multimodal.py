"""Multimodal (image/audio/video) column plumbing.

Reference parity: the media branch fetches image bytes and extracts
visual features from them (MediaFetcherBolt.java:61-114 single-threaded
byte fetch; VisualIndexerBolt.java:104-160 SURF→VLAD→PCA vectorization;
MediaUpdaterBolt.java:94-99 width/height persistence). Our engine
treats media as **opaque binary columns with typed metadata** riding in
the same tables as text (the interleaved-documents north star), and
implements decode / feature-extract / resize / frame-sample as
Arrow-batched pandas UDFs over ``mapInPandas``.

The sandbox has no image/audio codecs, so the *codec* step is stubbed:
``decode_media`` raises ``NotImplementedError`` unless
``deterministic_fake=True``, in which case it derives metadata and a
feature vector from the payload bytes via a seeded hash — bit-exact
across runs and cluster sizes. Everything AROUND the codec — binary
schema, Arrow batch shapes, partitioning, UDF signatures, the
explode/join plumbing — is real and tested; swapping in PIL/ffmpeg on a
real cluster changes only the marked inner functions.

Scale: media payloads dominate row size, so the decode stage is a
narrow ``mapInPandas`` (never carry ``payload`` through a shuffle)
that carries the row's other columns through, so nothing joins back
to recover them. ``spark.sql.files.maxPartitionBytes`` bounds Arrow
batch memory; at 100 TB the payload column lives in its own parquet
column chunks and column pruning keeps text-only queries from ever
reading it.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from ..functions.exprcache import session_expr
from ..functions.hashing import hash64

FEATURE_DIM = 16
# what the codec adds to a media row (which loses its payload)
DECODED_FIELDS = [
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("feature", ArrayType(DoubleType())),
]


def media_table_from_spans(spans_df: DataFrame) -> DataFrame:
    """spans table → media rows with a synthetic binary payload.

    payload = md5(media_ref) bytes repeated — a deterministic opaque
    blob standing in for fetched image bytes (MediaFetcherBolt's
    ``(MediaItem, bytes)`` emission)."""
    media = (
        # explode_outer: see spans.explode_spans (the kind test drops the
        # null row it emits for a span-less doc)
        spans_df.select("doc_id", F.explode_outer("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(
            "doc_id",
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("offset"),
        )
    )
    payload, mtype = session_expr("media_table_from_spans", _media_trees)
    return media.withColumn("payload", payload).withColumn("media_type", mtype)


def _media_trees() -> tuple:
    """(payload, media_type) of a media row, from ``media_ref``."""
    # 16-byte md5 digest repeated 4x = 64-byte payload. concat, not
    # repeat(): repeat coerces binary→string and non-UTF8 bytes break
    # the Arrow transfer into the decode UDF.
    digest = F.unhex(F.md5(F.col("media_ref")))
    payload = F.concat(digest, digest, digest, digest)
    mtype = F.when(hash64(F.col("media_ref")) % 4 == 0, "video").otherwise("image")
    return payload, mtype


def _fake_decode(payload: bytes, media_type: str) -> tuple[int, int, int, list[float]]:
    """STUB CODEC — deterministic fake decode. A real deployment
    replaces this one function with PIL/ffmpeg; signature and callers
    stay identical. Hashes the payload's hex form so the DuckDB oracle
    (md5 is VARCHAR-only there) can reproduce every output."""
    hx = payload.hex()
    d = hashlib.md5(hx.encode()).digest()
    width = 100 + d[0] * 8  # 100..2140 — some fall under the 200 gate
    height = 100 + d[1] * 4  # 100..1120
    n_frames = 1 if media_type == "image" else 1 + d[2] % 120
    rng = np.frombuffer(hashlib.md5((hx + "f").encode()).digest(), dtype=np.uint8)
    feat = (np.resize(rng, FEATURE_DIM).astype(np.float64) / 255.0).round(6)
    return width, height, n_frames, [float(x) for x in feat]


def decode_media(
    media: DataFrame, deterministic_fake: bool = False
) -> DataFrame:
    """(…, media_ref, payload, media_type) → the same rows without
    ``payload``, plus decoded metadata and a feature vector. Arrow-
    batched ``mapInPandas``; payload never leaves the stage, every other
    input column passes through."""
    if not deterministic_fake:
        raise NotImplementedError(
            "no image/audio codecs in this environment; pass "
            "deterministic_fake=True for the seeded stand-in codec"
        )
    kept = [f for f in media.schema.fields if f.name != "payload"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [
                _fake_decode(p, t)
                for p, t in zip(pdf["payload"], pdf["media_type"])
            ]
            out = pdf.drop(columns="payload")
            out["width"] = [d[0] for d in decoded]
            out["height"] = [d[1] for d in decoded]
            out["n_frames"] = [d[2] for d in decoded]
            out["feature"] = [d[3] for d in decoded]
            yield out

    return media.mapInPandas(gen, StructType(kept + DECODED_FIELDS))


def filter_media(decoded: DataFrame, min_dim: int = 200, min_area: int = 40_000) -> DataFrame:
    """The reference's image size gates as column predicates
    (ArticleExtractionBolt.java:68-69,418-420)."""
    return decoded.filter(
        (F.col("width") >= min_dim)
        & (F.col("height") >= min_dim)
        & (F.col("width") * F.col("height") >= min_area)
    )


def media_pipeline_sql() -> str:
    """DuckDB twin of media_pipeline over the driver's flat documents
    table: re-derives the media spans (build_spans block math), the
    payload-hex hash chain of the fake codec, the size gates, and the
    per-doc aggregate — full cross-engine check of the plumbing."""
    from ..functions.hashing import hash64_sql
    from ..functions.text import tokenize_sql
    from .spans import BLOCK_TOKENS, MEDIA_EVERY, media_ref_sql

    toks = tokenize_sql("coalesce(text, '')")
    n_text = f"CAST(ceil(len({toks}) / {BLOCK_TOKENS}.0) AS INT)"
    # the one canonical media_ref twin (spans.media_ref_sql) — build_spans'
    # scheme must never fork between the span and media oracles
    mref = media_ref_sql("doc_id", "i")
    return f"""
        WITH docs AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, {n_text} AS n_text
            FROM documents
        ),
        media AS (
            SELECT doc_id, {mref} AS media_ref
            FROM (SELECT doc_id, unnest(range(0, n_text)) AS i FROM docs)
            WHERE i % {MEDIA_EVERY} = {MEDIA_EVERY - 1}
        ),
        decoded AS (
            SELECT doc_id, media_ref,
                   repeat(md5(media_ref), 4) AS phex
            FROM media
        ),
        metas AS (
            SELECT doc_id, media_ref,
                   100 + CAST(('0x' || substr(md5(phex), 1, 2)) AS INT) * 8 AS width,
                   100 + CAST(('0x' || substr(md5(phex), 3, 2)) AS INT) * 4 AS height,
                   ({hash64_sql("media_ref")} % 4 = 0) AS is_video,
                   CAST(('0x' || substr(md5(phex || 'f'), 1, 2)) AS INT) AS feat0_byte
            FROM decoded
        ),
        kept AS (
            SELECT * FROM metas
            WHERE width >= 200 AND height >= 200 AND width * height >= 40000
        )
        SELECT doc_id,
               count(*) AS n_media,
               CAST(sum(CASE WHEN is_video THEN 1 ELSE 0 END) AS BIGINT) AS n_videos,
               max(width) AS max_width,
               CAST(sum(feat0_byte) AS BIGINT) AS feat0_sum
        FROM kept GROUP BY doc_id ORDER BY doc_id
    """


def media_pipeline(spans_df: DataFrame) -> DataFrame:
    """End-to-end: spans → media rows → decode (fake codec) → size
    filter → per-doc media stats. The aggregate output is small and
    deterministic — the pipeline's test surface."""
    # one pass: the decode kernel carries doc_id through, so the kept
    # rows group by their own doc (a re-join on media_ref would scan
    # and span the documents a second time, and would credit a doc with
    # another doc's item whose media_ref hash collides with one of its
    # own)
    kept = filter_media(
        decode_media(media_table_from_spans(spans_df), deterministic_fake=True)
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum((F.col("media_type") == "video").cast("int")).alias("n_videos"),
            F.max("width").alias("max_width"),
            # integer sum of the recovered first feature byte — exact
            # cross-engine (a rounded float *average* can flip at the
            # 6th-decimal .5 boundary between engines)
            F.sum(
                F.round(F.element_at("feature", 1) * 255).cast("long")
            ).alias("feat0_sum"),
        )
    )


def update_media_and_users(
    spark,
    media_table,
    users_table,
    items,
    media_key: str = "media_id",
    user_cols: tuple[str, ...] = ("user_id", "username"),
):
    """MediaUpdaterBolt's double merge (MediaUpdaterBolt.java:85-126):
    the media item upserts (update-else-insert by id), and the item's
    StreamUser is inserted ONLY if absent — an existing user row is
    never overwritten. ``items`` carries the media columns plus the
    user columns; both writes are snapshot commits.

    Plan shape: media upsert = keyed MERGE; user insert = anti-join +
    append (O(batch), no table rewrite) — see
    SnapshotTable.merge_if_absent."""
    from pyspark.sql import functions as F

    media_cols = [c for c in items.columns if c not in set(user_cols) - {"user_id"}]
    media_table.merge(spark, items.select(*media_cols), key=media_key)
    users = items.select(*user_cols).filter(F.col(user_cols[0]).isNotNull())
    users_table.merge_if_absent(spark, users, key=user_cols[0])


def first_seen_users(events) -> "DataFrame":
    """The StreamUser table a stream of items builds up under
    insert-if-absent semantics (MediaUpdaterBolt.java:116-126: a media
    item's user is saved only when no row with that id exists — later
    items never overwrite it). Processing events in (ts, event_id)
    order, the surviving row per user is therefore the FIRST event's —
    expressed as one groupBy with a struct-min (pairwise-lexicographic,
    deterministic: ties on ts resolve by event_id), plus the rolling
    item count the reference's DAO accumulates.

    One shuffle on user_id with a partial (map-side) min/count — scales
    to any event volume; no window, no sort of the full stream."""
    from pyspark.sql import functions as F

    return (
        events.groupBy("user_id")
        .agg(
            F.min(F.struct("ts", "event_id")).alias("_f"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            # epoch millis, the cross-engine ts convention (the parquet
            # ts is TIMESTAMP_NTZ; unix_millis needs TIMESTAMP)
            F.unix_millis(F.col("_f.ts").cast("timestamp")).alias("first_ts"),
            F.col("_f.event_id").alias("first_event_id"),
            "n_events",
        )
    )
