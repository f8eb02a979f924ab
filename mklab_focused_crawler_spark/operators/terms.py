"""Term extraction + top-k term analytics over the spans table.

Reference parity: TokenizationBolt (tokenize/stop/lower,
bolts/items/TokenizationBolt.java:126-154) feeding counters
(ItemsCounterBolt.java:61-88) and top-k via BoundedPQueue
(utils/BoundedPQueue.java:28-47). Spark shape: explode → groupBy →
window row_number per group — partial aggregation (map-side combine)
comes free from Catalyst, and the per-group top-k avoids a global sort.

Scale note: the groupBy(source, term) shuffle is the only exchange;
at 100 TB the token explode stays pipelined with the scan (no shuffle
before the partial agg), and skewed head terms are absorbed by the
partial agg (each map task pre-combines its own 'the' counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exprcache import session_expr
from ..functions.text import remove_stopwords, tokenize
from .spans import explode_spans


def span_terms(spans_df: DataFrame) -> DataFrame:
    """One row per (doc_id, source, term) occurrence from text spans."""
    txt = explode_spans(spans_df).filter(F.col("kind") == "text")
    toks = session_expr(
        "span_terms", lambda: remove_stopwords(tokenize(F.col("text")))
    )
    return txt.select(
        "doc_id", "lang", "source", F.explode(toks).alias("term")
    )


def top_terms_per_source(spans_df: DataFrame, k: int = 10) -> DataFrame:
    """Flagship: top-k terms per source (count desc, term asc tiebreak)."""
    counts = span_terms(spans_df).groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("term_count")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("term_count"), F.asc("term")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("source", "term", "term_count", "rank")
    )
