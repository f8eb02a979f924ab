"""Benchmark decontamination: flag training documents that share a
token 13-gram with a held-out evaluation set — the published
train/test-overlap hygiene step of large-scale LM data pipelines
(GPT-3 Appendix C's 13-gram rule; Gopher §A.8 runs the same n-gram
overlap filter). A training corpus that leaks eval text inflates every
downstream benchmark, so this runs after dedup and before mixing.

Shape at 100 TB:

- The eval side is SMALL by contract (benchmark suites are megabytes),
  so its distinct gram-hash set **broadcasts** — the train-side probe
  is one narrow explode + broadcast hash join, no shuffle of the
  corpus.
- Grams are compared by the portable 60-bit hash (8 bytes broadcast
  per gram instead of a ~100-byte string; the DuckDB twin reproduces
  every hash bit-for-bit).
- The contaminated-id set (the only shuffled aggregate, map-side
  combined) broadcasts back onto the train frame for the flag column —
  the corpus itself is never shuffled.

The default eval set is derived deterministically from the corpus
(``hash64(doc_id) % EVAL_MOD == 0``) so the operator is self-contained
for the oracle harness; production passes the real benchmark frame via
``eval_docs``.

Null text coalesces to ``''`` (the text_analysis convention — an empty
doc has no grams and is never contaminated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash64, hash64_sql
from ..functions.text import ngrams, ngrams_sql, tokenize, tokenize_sql

# the published overlap rule: 13 tokens (GPT-3 Appendix C)
GRAM_N = 13
# default held-out split for the self-contained fixture: ~10% of docs
EVAL_MOD = 10


def _gram_hashes(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, gh): one row per token n-gram, hashed portably."""
    return (
        docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(ngrams(F.col("toks"), n)).alias("gram"))
        .select("doc_id", hash64(F.col("gram")).alias("gh"))
    )


def decontaminate(
    documents: DataFrame,
    eval_docs: DataFrame | None = None,
    n: int = GRAM_N,
    eval_mod: int = EVAL_MOD,
) -> DataFrame:
    """(doc_id, contaminated) for every training document: contaminated
    iff it shares at least one token ``n``-gram with any eval-set
    document. With ``eval_docs`` given, the whole ``documents`` frame is
    the training side; otherwise the deterministic hash split carves the
    eval set out of the corpus itself."""
    docs = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
    )
    if eval_docs is None:
        is_eval = (
            F.pmod(hash64(F.col("doc_id").cast("string")), F.lit(eval_mod))
            == F.lit(0)
        )
        docs = docs.withColumn("is_eval", is_eval)
        eval_side = docs.filter(F.col("is_eval"))
        train = docs.filter(~F.col("is_eval"))
    else:
        eval_side = eval_docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
        )
        train = docs
    eval_grams = _gram_hashes(eval_side, n).select("gh").distinct()
    hits = (
        _gram_hashes(train, n)
        .join(F.broadcast(eval_grams), "gh")
        .select("doc_id")
        .distinct()
    )
    return (
        train.select("doc_id")
        .join(
            F.broadcast(hits.withColumn("contaminated", F.lit(True))),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce(F.col("contaminated"), F.lit(False)).alias("contaminated"),
        )
    )


def decontaminate_sql(
    n: int = GRAM_N, eval_mod: int = EVAL_MOD, table: str = "documents"
) -> str:
    toks = tokenize_sql("text")
    return f"""
        WITH docs AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   COALESCE(text, '') AS text
            FROM {table}
        ),
        flagged AS (
            SELECT doc_id,
                   ({hash64_sql("CAST(doc_id AS VARCHAR)")}) % {eval_mod} = 0
                       AS is_eval,
                   {ngrams_sql(toks, n)} AS grams
            FROM docs
        ),
        ev AS (
            SELECT DISTINCT {hash64_sql("gram")} AS gh
            FROM (SELECT unnest(grams) AS gram FROM flagged WHERE is_eval)
        ),
        hits AS (
            SELECT DISTINCT doc_id
            FROM (
                SELECT doc_id, {hash64_sql("gram")} AS gh
                FROM (
                    SELECT doc_id, unnest(grams) AS gram
                    FROM flagged WHERE NOT is_eval
                )
            ) tg JOIN ev USING (gh)
        )
        SELECT f.doc_id AS doc_id, (h.doc_id IS NOT NULL) AS contaminated
        FROM flagged f LEFT JOIN hits h ON f.doc_id = h.doc_id
        WHERE NOT f.is_eval
        ORDER BY doc_id
    """
