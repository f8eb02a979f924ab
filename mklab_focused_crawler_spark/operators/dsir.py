"""DSIR-style data selection: hashed-bigram importance weights for
every training document against a target-domain sample (Xie et al.
2023, "Data Selection for Language Models via Importance Resampling").

Per the public recipe: featurize each document as counts over B hashed
bigram buckets; fit two smoothed unigram-over-buckets models — one on
the target sample, one on the raw corpus — and score each raw document
with the log importance ratio

    lw(doc) = Σ_b c_b(doc) · ( log p_target(b) − log p_raw(b) ).

High-weight documents look like the target domain; the downstream
resampling step keeps the top mass (a consistent-hash filter on this
score, cf. operators/sampling.py).

Cross-engine determinism (the hard part — see CLAUDE.md):

- Bucket ids come from the portable 60-bit md5 hash mod B.
- Each log term is ``det_log10_ratio(x, 1)`` = log10(x) via the fixed
  Horner polynomial — bit-identical in Spark / DuckDB / Python; the
  per-bucket weight combines four such terms with IEEE +/− (stable on
  identical doubles).
- The per-bucket weight is then **quantized to integer micro-units**
  (``floor(w · 1e6)``) so the per-document Σ c_b·w_b is an INTEGER sum
  — float summation order across partitions could differ between
  engines; integer sums cannot.

Shape at 100 TB:

- Two map-side-combined aggregations over ≤ B = 2^12 keys each (the
  bucket-count frames are tiny at any corpus size).
- The B-row weight table **broadcasts** onto the per-(doc, bucket)
  count frame; the only corpus-sized shuffle is the final
  ``groupBy(doc_id)`` — map-side combined, rows ∝ distinct buckets per
  doc (≤ B), never tokens.
- Corpus totals enter via 1-row broadcast cross joins, not eager
  ``count()`` actions (the jaccard_topk convention).

The target sample defaults to the deterministic hash split
``hash64(doc_id) % TARGET_MOD == 0`` (the decontam convention) so the
operator is self-contained for the oracle harness; production passes
the real target-domain frame via ``target_docs``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash64, hash64_sql
from ..functions.scoring import det_log10_ratio, det_log10_ratio_sql
from ..functions.text import ngrams, ngrams_sql, tokenize, tokenize_sql

N_BUCKETS = 4096
TARGET_MOD = 10
MICRO = 1_000_000


def _bucket_occurrences(docs: DataFrame) -> DataFrame:
    """(doc_id, b): one row per bigram occurrence, bucketed. The hash
    runs AFTER the explode (projection-collapse convention: one md5 per
    occurrence, never re-inlined per consumer)."""
    grams = docs.select("doc_id", tokenize(F.col("text")).alias("toks")).select(
        "doc_id", F.explode(ngrams(F.col("toks"), 2)).alias("gram")
    )
    return grams.select(
        "doc_id", F.pmod(hash64(F.col("gram")), F.lit(N_BUCKETS)).alias("b")
    )


def _log10_int(col) -> F.Column:
    return det_log10_ratio(col, F.lit(1))


def dsir_weights(
    documents: DataFrame,
    target_docs: DataFrame | None = None,
    target_mod: int = TARGET_MOD,
) -> DataFrame:
    """(doc_id, n_grams, lw_micro) for every raw (non-target) document:
    the DSIR log importance weight in integer micro-units, plus the
    bigram count. Documents with no bigrams score 0."""
    docs = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
    )
    if target_docs is None:
        is_target = (
            F.pmod(hash64(F.col("doc_id").cast("string")), F.lit(target_mod))
            == F.lit(0)
        )
        target = docs.filter(is_target)
        raw = docs.filter(~is_target)
    else:
        target = target_docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
        )
        raw = docs

    t_occ = _bucket_occurrences(target)
    r_occ = _bucket_occurrences(raw)

    t_counts = t_occ.groupBy("b").agg(F.count(F.lit(1)).alias("t_b"))
    # per-(doc,b) counts feed BOTH the bucket totals and the final
    # per-doc score — aggregate once, reuse
    doc_counts = r_occ.groupBy("doc_id", "b").agg(
        F.count(F.lit(1)).alias("c")
    )
    r_counts = doc_counts.groupBy("b").agg(F.sum("c").alias("r_b"))

    t_total = t_counts.agg(F.sum("t_b").alias("t_tot"))
    r_total = r_counts.agg(F.sum("r_b").alias("r_tot"))

    weights = (
        r_counts.join(t_counts, "b", "left")
        .withColumn("t_b", F.coalesce(F.col("t_b"), F.lit(0)))
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(r_total))
    )
    w = (
        _log10_int(F.col("t_b") + 1)
        - _log10_int(F.coalesce(F.col("t_tot"), F.lit(0)) + N_BUCKETS)
    ) - (
        _log10_int(F.col("r_b") + 1)
        - _log10_int(F.coalesce(F.col("r_tot"), F.lit(0)) + N_BUCKETS)
    )
    weights = weights.select(
        "b", F.floor(w * F.lit(float(MICRO))).cast("long").alias("w_micro")
    )

    scored = (
        doc_counts.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("int").alias("n_grams"),
            F.sum(F.col("c") * F.col("w_micro")).cast("long").alias("lw_micro"),
        )
    )
    return (
        raw.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("int").alias("n_grams"),
            F.coalesce(F.col("lw_micro"), F.lit(0)).cast("long").alias("lw_micro"),
        )
    )


def dsir_weights_sql(target_mod: int = TARGET_MOD) -> str:
    toks = tokenize_sql("text")
    l10 = lambda x: det_log10_ratio_sql(x, "1")  # noqa: E731
    return f"""
        WITH docs AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   COALESCE(text, '') AS text,
                   ({hash64_sql("CAST(doc_id AS VARCHAR)")}) % {target_mod} = 0
                       AS is_target
            FROM documents
        ),
        occ AS (
            SELECT doc_id, is_target,
                   ({hash64_sql("gram")}) % {N_BUCKETS} AS b
            FROM (
                SELECT doc_id, is_target, unnest({ngrams_sql(toks, 2)}) AS gram
                FROM docs
            )
        ),
        t_counts AS (
            SELECT b, count(*) AS t_b FROM occ WHERE is_target GROUP BY b
        ),
        doc_counts AS (
            SELECT doc_id, b, count(*) AS c
            FROM occ WHERE NOT is_target GROUP BY doc_id, b
        ),
        r_counts AS (
            SELECT b, sum(c) AS r_b FROM doc_counts GROUP BY b
        ),
        totals AS (
            SELECT (SELECT COALESCE(sum(t_b), 0) FROM t_counts) AS t_tot,
                   (SELECT COALESCE(sum(r_b), 0) FROM r_counts) AS r_tot
        ),
        weights AS (
            SELECT b,
                   CAST(floor((
                       ({l10("t_b + 1")} - {l10(f"t_tot + {N_BUCKETS}")})
                     - ({l10("r_b + 1")} - {l10(f"r_tot + {N_BUCKETS}")})
                   ) * CAST({MICRO} AS DOUBLE)) AS BIGINT) AS w_micro
            FROM (
                SELECT r.b AS b, COALESCE(t.t_b, 0) AS t_b, r.r_b AS r_b,
                       totals.t_tot, totals.r_tot
                FROM r_counts r
                LEFT JOIN t_counts t ON r.b = t.b
                CROSS JOIN totals
            )
        ),
        scored AS (
            SELECT doc_id,
                   CAST(sum(c) AS INT) AS n_grams,
                   CAST(sum(c * w_micro) AS BIGINT) AS lw_micro
            FROM doc_counts JOIN weights USING (b)
            GROUP BY doc_id
        )
        SELECT d.doc_id AS doc_id,
               COALESCE(s.n_grams, 0) AS n_grams,
               COALESCE(s.lw_micro, 0) AS lw_micro
        FROM docs d LEFT JOIN scored s ON d.doc_id = s.doc_id
        WHERE NOT d.is_target
        ORDER BY doc_id
    """
