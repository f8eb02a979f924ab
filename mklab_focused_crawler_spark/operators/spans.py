"""The interleaved text+media ``documents`` spans table (contract schema).

BASELINE.json input_hint fixes the engine's primary input:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

The reference produces this interleaving inside ArticleExtractionBolt:
boilerpipe content blocks in document order (ArticleExtractionBolt.java:
313-321) with in-content images spliced at their SAX character position
(utils/ImageExtractor.java:126-144, 169-190). The driver's fixture
``documents.parquet`` is flat (doc_id, text, lang, source, n_chars), so
``build_spans`` derives the spans table deterministically: text is cut
into blocks of BLOCK_TOKENS tokens (one 'text' span each), and after
every MEDIA_EVERY-th text block a 'media' span is interleaved whose
media_ref is 'Web#' + portable-hash(doc_id:block_index) — mirroring the
reference's 'Web#' + hash id scheme (ArticleExtractionBolt.java:448-450).

Everything here is built-in column expressions (transform/slice/
flatten) — zero Python per row, whole-stage codegen end-to-end. At 100 TB
this is a narrow map over the scan: no shuffle, no UDF serialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exprcache import session_expr
from ..functions.hashing import hash64, hash64_sql
from ..functions.text import TOKEN_SPLIT_RE, ascii_lower, ascii_lower_sql

BLOCK_TOKENS = 8  # tokens per text span
MEDIA_EVERY = 3  # a media span follows every 3rd text block


def _span_trees() -> tuple:
    """(toks, n_blocks, spans_flat, spans): build_spans' un-aliased
    trees, each reading the previous one by name."""
    # null text → no spans (deserialization drops unparseable rows,
    # WebPageDeserializationBolt.java:41-52); coalesce keeps the row
    # with an empty span list rather than poisoning downstream exprs
    toks = F.filter(
        F.split(
            ascii_lower(F.coalesce(F.col("text"), F.lit(""))), TOKEN_SPLIT_RE
        ),
        lambda t: t != F.lit(""),
    )
    n_blocks = F.ceil(F.size(F.col("toks")) / F.lit(BLOCK_TOKENS)).cast("int")

    block_text = lambda i: F.array_join(  # noqa: E731
        F.slice(F.col("toks"), i * BLOCK_TOKENS + 1, BLOCK_TOKENS), " "
    )
    media_ref = lambda i: F.concat(  # noqa: E731
        F.lit("Web#"),
        hash64(F.concat(F.col("doc_id").cast("string"), F.lit(":"), i.cast("string"))),
    )

    # per text-block: [text_span] or [text_span, media_span]
    spans_nested = F.transform(
        F.sequence(F.lit(0), F.col("n_blocks") - 1),
        lambda i: F.when(
            (i % MEDIA_EVERY == F.lit(MEDIA_EVERY - 1)),
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    block_text(i).alias("text"),
                    F.lit("").alias("media_ref"),
                    F.lit(0).alias("offset"),
                ),
                F.struct(
                    F.lit("media").alias("kind"),
                    F.lit("").alias("text"),
                    media_ref(i).alias("media_ref"),
                    F.lit(0).alias("offset"),
                ),
            ),
        ).otherwise(
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    block_text(i).alias("text"),
                    F.lit("").alias("media_ref"),
                    F.lit(0).alias("offset"),
                )
            )
        ),
    )

    # guard: F.sequence(0, -1) yields [0, -1] (negative step inferred),
    # which would fabricate phantom spans for empty documents
    spans_flat = F.when(F.col("n_blocks") > 0, F.flatten(spans_nested)).otherwise(
        F.array().cast(
            "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
        )
    )
    # renumber offsets to document order (the per-row invariant)
    spans = F.transform(
        F.col("spans_flat"),
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return toks, n_blocks, spans_flat, spans


def build_spans(documents: DataFrame) -> DataFrame:
    """flat documents(doc_id,text,...) → contract spans table.

    Keeps lang/source columns for downstream grouping. The trees are
    built once per session (functions/exprcache.py).
    """
    toks, n_blocks, spans_flat, spans = session_expr("build_spans", _span_trees)
    return (
        documents.withColumn("toks", toks)
        .withColumn("n_blocks", n_blocks)
        .withColumn("spans_flat", spans_flat)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            spans.alias("spans"),
            "lang",
            "source",
        )
    )


# DuckDB oracle fragment: spans stats per doc from the flat table.
# n_text = ceil(ntok/8); n_media = floor(n_text/3); n_spans = sum.
def spans_stats_oracle_sql() -> str:
    lowered = ascii_lower_sql("coalesce(text, '')")
    toks = (
        f"list_filter(string_split_regex({lowered}"
        f", '{TOKEN_SPLIT_RE}'), t -> t <> '')"
    )
    n_text = f"CAST(ceil(len({toks}) / {BLOCK_TOKENS}.0) AS INT)"
    return f"""
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               {n_text} AS n_text_spans,
               CAST(floor({n_text} / {MEDIA_EVERY}.0) AS INT) AS n_media_spans,
               {n_text} + CAST(floor({n_text} / {MEDIA_EVERY}.0) AS INT) AS n_spans
        FROM documents
        ORDER BY doc_id
    """


def spans_stats(spans_df: DataFrame) -> DataFrame:
    """Per-doc span-kind counts off the built spans table (oracle pair)."""
    return spans_df.select(
        "doc_id",
        F.size(F.filter(F.col("spans"), lambda s: s["kind"] == "text"))
        .cast("int")
        .alias("n_text_spans"),
        F.size(F.filter(F.col("spans"), lambda s: s["kind"] == "media"))
        .cast("int")
        .alias("n_media_spans"),
        F.size(F.col("spans")).cast("int").alias("n_spans"),
    )


def explode_spans(spans_df: DataFrame) -> DataFrame:
    """spans table → one row per span (doc_id, kind, text, media_ref, offset).

    The UDTF-like 1-page→N-spans shape of the reference's extraction
    stream, as a generator expression Catalyst understands.
    """
    # explode_outer + not-null: the same rows as explode, but a plain
    # explode makes Catalyst infer size(spans) > 0 and push it below
    # build_spans' projection, where it evaluates the whole span tree a
    # second time per document
    return spans_df.select(
        "doc_id", "lang", "source", F.explode_outer("spans").alias("span")
    ).filter(F.col("span").isNotNull()).select(
        "doc_id",
        "lang",
        "source",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def media_ref_sql(doc_id_expr: str, block_idx_expr: str) -> str:
    """DuckDB expression matching build_spans' media_ref derivation."""
    h = hash64_sql(f"CAST({doc_id_expr} AS VARCHAR) || ':' || CAST({block_idx_expr} AS VARCHAR)")
    return f"'Web#' || CAST({h} AS VARCHAR)"
