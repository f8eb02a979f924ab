"""Driver contract for the spark-graft builder (PySpark target).

Every operator from SURVEY.md §2 implemented so far has a ``queries()``
entry; SQL-expressible ones also have an ``oracle_sql()`` entry verified
against DuckDB at sf0.01 (row-count + schema + value-hash).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mklab_focused_crawler_spark.operators.spans import (
    build_spans,
    spans_stats,
    spans_stats_oracle_sql,
)
from mklab_focused_crawler_spark.operators.terms import top_terms_per_source
from mklab_focused_crawler_spark.operators import (
    decontam,
    dedup,
    dsir,
    lexicon,
    lines,
    lm,
    multimodal,
    packing,
    pii,
    pipeline,
    quality,
    sampling,
    similarity,
    stats,
    substr_dedup,
    trending,
    vocab,
)
from mklab_focused_crawler_spark.functions import scoring, text, urls
from mklab_focused_crawler_spark.functions.text import STOPWORDS
from mklab_focused_crawler_spark.sources.tables import dataset_key, load_table

from pyspark.sql import functions as F

_TOKS_SQL = text.tokenize_sql("text")
_STOPLIST_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship composition at sf0.001 — the engine end-to-end, not one
    query: politeness-budgeted frontier claim (RankerBolt order +
    per-host quota) → claimed documents → span extraction → exact
    dedup (canonical doc per content hash) → top terms per source."""
    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    claimed = _q_frontier_claim(spark, sf).select("doc_id")
    crawled = docs.join(claimed, "doc_id")
    canon = (
        dedup.exact_dedup(
            crawled.select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
        )
        .filter(F.col("doc_id") == F.col("canonical_doc_id"))
        .select("doc_id")
    )
    return top_terms_per_source(build_spans(crawled.join(canon, "doc_id")), k=10)


# --------------------------------------------------------------------------
# queries / oracles
# --------------------------------------------------------------------------


def _q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return top_terms_per_source(build_spans(docs), k=10)


def _q_spans_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return spans_stats(build_spans(docs))


# Deterministic URL corpus derived from documents.doc_id — identical
# string construction on both engines so the URL ops themselves are the
# thing under test.
def _synth_url_col(id_col: str = "doc_id"):
    d = F.col(id_col).cast("string")
    return (
        F.when(
            F.col(id_col) % 11 == 0,
            F.concat(F.lit("https://instagram.com/p/pic"), d, F.lit("/")),
        )
        .when(
            F.col(id_col) % 13 == 0,
            F.concat(F.lit("https://www.youtube.com/watch?v=vid"), d),
        )
        .when(F.col(id_col) % 17 == 0, F.concat(F.lit("https://vimeo.com/"), d))
        .when(
            F.col(id_col) % 19 == 0,
            F.concat(
                F.lit("http://www.facebook.com/photo.php?fbid=f"), d, F.lit("&set=a.1")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("HTTP://WWW.Site"),
                (F.col(id_col) % 23).cast("string"),
                F.lit(".Example.COM:80/Articles/"),
                d,
                F.lit("/?utm=x&b="),
                (F.col(id_col) % 3).cast("string"),
                F.lit("&a=1#frag"),
            )
        )
    )


def _synth_url_sql(id_col: str = "doc_id") -> str:
    c = id_col
    return f"""
    (CASE
      WHEN {c} % 11 = 0 THEN 'https://instagram.com/p/pic' || CAST({c} AS VARCHAR) || '/'
      WHEN {c} % 13 = 0 THEN 'https://www.youtube.com/watch?v=vid' || CAST({c} AS VARCHAR)
      WHEN {c} % 17 = 0 THEN 'https://vimeo.com/' || CAST({c} AS VARCHAR)
      WHEN {c} % 19 = 0 THEN 'http://www.facebook.com/photo.php?fbid=f' || CAST({c} AS VARCHAR) || '&set=a.1'
      ELSE 'HTTP://WWW.Site' || CAST({c} % 23 AS VARCHAR) || '.Example.COM:80/Articles/'
           || CAST({c} AS VARCHAR) || '/?utm=x&b=' || CAST({c} % 3 AS VARCHAR) || '&a=1#frag'
    END)
"""


_SYNTH_URL_SQL = _synth_url_sql("doc_id")


def _q_url_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    df = docs.withColumn("url", _synth_url_col())
    plat, mid = urls.platform_media_id(F.col("url"))
    return df.select(
        "doc_id",
        "url",
        urls.canonicalize_url("url").alias("canonical_url"),
        urls.url_host("url").alias("host"),
        urls.route("url").alias("route"),
        plat.alias("platform"),
        mid.alias("media_id"),
        (F.length("url") <= urls.MAX_URL_LENGTH).alias("url_ok"),
    )


# 2024-02-01T00:00:00Z — strictly after max(events.ts) at every sf
# (max observed epoch_ms 1706659165261 ≈ 2024-01-31), so now-pub ≥ 0 and
# every det_exp argument is ≤ 0 (round-1 bug: 2024-01-03 predated ~1/3
# of events, driving exp(+large) overflow and cross-engine hash breaks).
_NOW_MS = 1706745600000


def _q_page_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(
            scoring.page_score(
                F.col("user_id"), F.unix_millis(F.col("ts").cast("timestamp")), _NOW_MS
            ),
            9,
        ).alias("score"),
        F.round(scoring.shares_score(F.col("user_id")), 9).alias("shares_score"),
    )


# ---- dedup suite (operators/dedup.py) -----------------------------------


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup.augment_corpus(load_table(spark, sf_dir, "documents"))
    return dedup.exact_dedup(corpus)


class _CorpusCache:
    """Frames built once per corpus and shared by a session's queries.
    Key = (applicationId, ``dataset_key`` of the corpus's documents
    file), so a rewritten corpus rebuilds; capped at 2 corpora (the
    fuzz layer streams many tiny corpora through these queries). An
    evicted or cleared entry unpersists every DataFrame it holds."""

    def __init__(self) -> None:
        self._entries: dict[tuple, dict] = {}

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, spark: SparkSession, sf_dir: str, build: Callable[[], dict]) -> dict:
        path = f"{sf_dir.rstrip('/')}/documents.parquet"
        key = (spark.sparkContext.applicationId,) + dataset_key(path)
        if key not in self._entries:
            while len(self._entries) >= 2:
                self._release(self._entries.pop(next(iter(self._entries))))
            self._entries[key] = build()
        return self._entries[key]

    def clear(self) -> None:
        for entry in self._entries.values():
            self._release(entry)
        self._entries.clear()

    @staticmethod
    def _release(entry: dict) -> None:
        for v in entry.values():
            for f in v if isinstance(v, list) else [v]:
                if isinstance(f, DataFrame):
                    try:
                        f.unpersist()
                    except Exception:
                        pass  # owning session already stopped (test teardown)


# The LSH-family queries (pairs, clusters, corpus filter) are three
# consumers of ONE canonical artifact set — the exact-collapsed
# signature table plus verified canonical pairs. A production dedup
# deployment builds that index once and serves every downstream query
# from it (the reference's external visual index plays exactly this
# role, VisualIndexerBolt.java:167), so the driver session shares one
# build per corpus — same offline-artifact semantics as the trained
# IVF codebook below. Each consumer still runs its OWN stage off the
# artifacts: pair expansion, component labeling, or the corpus
# keep-join.
_LSH_CACHE = _CorpusCache()


def clear_lsh_cache() -> None:
    """Release every cached LSH artifact set. The bench harnesses call
    this before timed passes that must pay the full build (bench.py per
    minhash pass; bench_sf1.py per LSH-family leg)."""
    _LSH_CACHE.clear()


def _lsh_artifacts(spark: SparkSession, sf_dir: str) -> dict:
    def build() -> dict:
        corpus = dedup.augment_corpus(load_table(spark, sf_dir, "documents"))
        cpairs, sigs, hot = dedup.lsh_canonical_pairs(corpus)
        cpairs, hot = cpairs.persist(), hot.persist()
        cpairs.count()  # materialize through the already-cached sigs
        # eager-caller contract: the artifact build counts and logs any
        # hot-bucket drops once for all consumers (never a silent cap)
        dedup.log_hot_drops(hot)
        # clusters: built on first use, persisted in the >1M-edge regime
        return {"cpairs": cpairs, "sigs": sigs, "hot": hot, "clusters": None}

    return _LSH_CACHE.get(spark, sf_dir, build)


def _lsh_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _lsh_artifacts(spark, sf_dir)
    if a["clusters"] is None:
        # the artifact build already counted + logged hot drops once
        a["clusters"] = dedup.clusters_from_canonical(
            spark,
            a["cpairs"],
            a["sigs"],
            a["hot"],
            release_sigs=False,
            log_hot=False,
        )
    return a["clusters"]


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _lsh_artifacts(spark, sf_dir)
    return dedup.expand_canonical_pairs(a["cpairs"], a["sigs"])


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup.augment_corpus(load_table(spark, sf_dir, "documents"))
    return dedup.simhash_pairs(corpus)


def _q_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup.augment_corpus(load_table(spark, sf_dir, "documents"))
    return dedup.jaccard_topk(corpus)


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_clusters(spark, sf_dir)


def _q_near_dup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup.augment_corpus(load_table(spark, sf_dir, "documents"))
    return dedup.near_dup_filter(
        spark, corpus, clusters=_lsh_clusters(spark, sf_dir)
    )


# ---- similarity search (operators/similarity.py) -------------------------


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(load_table(spark, sf_dir, "embeddings"))


def _q_cosine_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk_gemm(load_table(spark, sf_dir, "embeddings"))


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_topk(load_table(spark, sf_dir, "embeddings"))


def _q_ann_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN (N_TABLES independent plane sets; recall and
    bucket size tuned independently — the 10^8+-vector design)."""
    return similarity.ann_topk_multi(load_table(spark, sf_dir, "embeddings"))


# ---- composed end-to-end pipeline (operators/pipeline.py) ----------------

# One build per corpus (the pipeline materializes intermediate tables +
# runs the eager LSH machinery), cached like the LSH artifacts. bench.py
# clears this before every timed pipeline pass so min-of-N can't hide
# the build cost (the LSH honesty rule).
_PIPELINE_CACHE = _CorpusCache()


def clear_pipeline_cache() -> None:
    _PIPELINE_CACHE.clear()


def _q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    def build() -> dict:
        frames: list = []
        df = pipeline.pipeline_e2e(
            spark,
            load_table(spark, sf_dir, "documents"),
            caches=frames,
            workdir=os.path.join(
                "spark-warehouse",
                "pipeline_scratch",
                os.path.basename(sf_dir.rstrip("/")),
            ),
        )
        return {"df": df, "frames": frames}

    return _PIPELINE_CACHE.get(spark, sf_dir, build)["df"]


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (coarse-quantizer inverted lists + multi-probe —
    the FAISS nlist/nprobe shape; fixed deterministic codebook stands
    in for offline k-means training)."""
    return similarity.ivf_topk(load_table(spark, sf_dir, "embeddings"))


# Trained codebooks are offline artifacts: a production index trains
# once and serves many queries, so consumers (ivf_topk_trained,
# semantic_dedup — bench runs each query multiple passes) share one
# training per corpus. Cache key = the parquet dataset's identity
# (dataset_key), so a rewritten corpus retrains.
_CODEBOOK_CACHE: dict[tuple, list[list[int]]] = {}


def _trained_codebook(spark: SparkSession, sf_dir: str) -> list[list[int]]:
    path = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    key = dataset_key(path)
    if key not in _CODEBOOK_CACHE:
        _CODEBOOK_CACHE[key] = similarity.train_ivf_codebook_df(
            load_table(spark, sf_dir, "embeddings")
        )
    return _CODEBOOK_CACHE[key]


_PQ_BOOKS_CACHE: dict[tuple, list] = {}


def _trained_pq_books(spark: SparkSession, sf_dir: str) -> list:
    path = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    key = dataset_key(path)
    if key not in _PQ_BOOKS_CACHE:
        _PQ_BOOKS_CACHE[key] = similarity.train_pq_codebooks_df(
            load_table(spark, sf_dir, "embeddings")
        )
    return _PQ_BOOKS_CACHE[key]


def _q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: trained coarse codebook + trained product-quantizer
    sub-codebooks, integer asymmetric-distance candidate scoring, exact
    re-rank of the ADC pool. Both trainings run against the same sf_dir
    (the production build-on-the-corpus-it-serves shape); the oracle
    twin trains via the same functions on the same parquet."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(
        emb,
        centroids=_trained_codebook(spark, sf_dir),
        pq_books=_trained_pq_books(spark, sf_dir),
    )


def _q_ivf_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat over a k-means-TRAINED codebook: the offline training
    job (deterministic sample → fixed-iteration integer Lloyd →
    broadcast literals) replaces the ±1 stand-in. Training and query
    run against the same sf_dir, exactly as a production index build
    trains on (a sample of) the corpus it serves."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, centroids=_trained_codebook(spark, sf_dir))


def _q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dups(load_table(spark, sf_dir, "embeddings"))


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means-trained coarse
    clusters (the IVF codebook job) → within-cluster integer-cosine
    prune, keep-earliest. Training and prune run against the same
    sf_dir, as a production curation pass trains on the corpus it
    filters."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb, centroids=_trained_codebook(spark, sf_dir)
    )


# ---- text analysis (functions/text.py) -----------------------------------


def _q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # null text ≡ empty document (deserialization-drop semantics applied
    # as coalesce so the row count is stable)
    t = F.coalesce(F.col("text"), F.lit(""))
    return docs.select(
        "doc_id",
        text.token_count(t).cast("int").alias("n_tokens"),
        text.quality_score(t).alias("quality"),
        text.lang_id(t).alias("lang_pred"),
        text.fingerprint(t).alias("fingerprint"),
    )


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget stats: whitespace-word count vs GPT-2-style
    pre-tokenizer piece count (functions/text.bpe_token_count), plus
    codepoint and byte lengths — the units training-data size budgets
    are quoted in. One narrow map, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    return docs.select(
        "doc_id",
        text.token_count(t).cast("int").alias("n_ws_tokens"),
        text.bpe_token_count(t).cast("int").alias("n_bpe_tokens"),
        F.length(t).cast("int").alias("n_chars"),
        F.octet_length(t).cast("int").alias("n_bytes"),
    )


_T = "coalesce(text, '')"
_TOKEN_STATS_SQL = f"""
    SELECT doc_id,
           CAST(len({text.tokenize_sql(_T)}) AS INT) AS n_ws_tokens,
           CAST({text.bpe_token_count_sql(_T)} AS INT) AS n_bpe_tokens,
           CAST(length({_T}) AS INT) AS n_chars,
           CAST(strlen({_T}) AS INT) AS n_bytes
    FROM documents ORDER BY doc_id
"""
_TEXT_ANALYSIS_SQL = f"""
    SELECT doc_id,
           CAST(len({text.tokenize_sql(_T)}) AS INT) AS n_tokens,
           {text.quality_score_sql(_T)} AS quality,
           {text.lang_id_sql(_T)} AS lang_pred,
           {text.fingerprint_sql(_T)} AS fingerprint
    FROM documents ORDER BY doc_id
"""


# ---- span-sequence invariant (the BASELINE.json per-row invariant) -------


def _q_span_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mklab_focused_crawler_spark.operators.spans import explode_spans

    docs = load_table(spark, sf_dir, "documents")
    return (
        explode_spans(build_spans(docs))
        .select("doc_id", "offset", "kind", "text", "media_ref")
    )


def _span_sequences_sql() -> str:
    from mklab_focused_crawler_spark.operators.spans import (
        BLOCK_TOKENS,
        MEDIA_EVERY,
        media_ref_sql,
    )
    from mklab_focused_crawler_spark.functions.text import tokenize_sql

    toks = tokenize_sql("coalesce(text, '')")
    n_text = f"CAST(ceil(len(toks) / {BLOCK_TOKENS}.0) AS INT)"
    # offset of text block i = i + floor(i/MEDIA_EVERY) (media spans
    # interleave after every MEDIA_EVERY-th block); the media span that
    # follows block i sits at offset+1
    return f"""
        WITH d AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, {toks} AS toks
            FROM documents
        ),
        blocks AS (
            SELECT doc_id, toks, unnest(range(0, {n_text})) AS i FROM d
        ),
        text_spans AS (
            SELECT doc_id,
                   CAST(i + (i // {MEDIA_EVERY}) AS INT) AS "offset",
                   'text' AS kind,
                   array_to_string(toks[i*{BLOCK_TOKENS}+1 : (i+1)*{BLOCK_TOKENS}], ' ') AS text,
                   '' AS media_ref
            FROM blocks
        ),
        media_spans AS (
            SELECT doc_id,
                   CAST(i + (i // {MEDIA_EVERY}) + 1 AS INT) AS "offset",
                   'media' AS kind, '' AS text,
                   {media_ref_sql("doc_id", "i")} AS media_ref
            FROM blocks WHERE i % {MEDIA_EVERY} = {MEDIA_EVERY - 1}
        )
        SELECT * FROM (
            SELECT * FROM text_spans UNION ALL SELECT * FROM media_spans
        ) ORDER BY doc_id, "offset"
    """


# ---- frontier claim (the scheduler itself, oracle-checked) ----------------

_CLAIM_MAX_PER_ROUTE = 10
_CLAIM_WINDOW_MS = 1000


def _q_frontier_claim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-budgeted per-host top-k claim over a deterministic
    synthetic frontier derived from the documents table. The same
    two-phase salted window math as operators/frontier.claim_batch,
    with quota from a per-host hash-derived crawl delay."""
    from pyspark.sql import Window

    from mklab_focused_crawler_spark.functions.hashing import hash64

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    f = docs.withColumn("url", _synth_url_col()).select(
        "doc_id", "url", urls.url_host("url").alias("host")
    )
    # portable hash for the delay so DuckDB reproduces the quota; the
    # in-engine crawl loop uses xxhash64 (operators/frontier.py) where
    # cross-engine parity is not required
    delay = (hash64(F.col("host")) % 5) * 100
    quota = F.least(
        F.lit(_CLAIM_MAX_PER_ROUTE),
        F.greatest(
            F.lit(1),
            F.floor(F.lit(_CLAIM_WINDOW_MS) / F.greatest(delay, F.lit(1))).cast(
                "int"
            ),
        ),
    ).cast("int")
    score = scoring.shares_score((F.col("doc_id") % 100).cast("double"))
    f = f.withColumn("score", F.round(score, 9)).withColumn("_quota", quota)
    w = Window.partitionBy("host").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        f.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= F.col("_quota"))
        .select("doc_id", "url", "host", "score", "rank")
    )


def _frontier_claim_sql() -> str:
    from mklab_focused_crawler_spark.functions.hashing import hash64_sql

    host = urls.url_host_sql("url")
    hash64_sql_host = hash64_sql("host")
    return f"""
        WITH u AS (
            SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents
        ),
        f AS (
            SELECT doc_id, url, {host} AS host,
                   round({scoring.shares_score_sql("(doc_id % 100)")}, 9) AS score
            FROM u
        ),
        q AS (
            SELECT host,
                   CAST(least({_CLAIM_MAX_PER_ROUTE}, greatest(1,
                        {_CLAIM_WINDOW_MS} // greatest(({hash64_sql_host} % 5) * 100, 1)
                   )) AS INT) AS quota
            FROM (SELECT DISTINCT host FROM f)
        )
        SELECT doc_id, url, host, score, rank FROM (
            SELECT f.doc_id, f.url, f.host, f.score,
                   CAST(row_number() OVER (PARTITION BY f.host
                        ORDER BY f.score DESC, f.doc_id ASC) AS INT) AS rank,
                   q.quota
            FROM f JOIN q USING (host)
        ) WHERE rank <= quota
        ORDER BY host, rank
    """


# ---- entity extraction / POS tagging (heuristic, oracle-checked) ----------


def _q_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EntityExtractionBolt (capitalized-run heuristic — the
    deterministic stand-in for the Stanford CRF model) as pure column
    expressions; see functions/nlp.py. The synthetic corpus is all-
    lowercase, so the fixture runs through deterministic case
    restoration first (hash-selected tokens capitalized) — without it
    the capitalized-run extractor is vacuously empty."""
    from mklab_focused_crawler_spark.functions import nlp

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", nlp.restore_case(F.col("text"))
    )
    return nlp.entity_counts(docs)


def _q_pos_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PosTaggingBolt (suffix-rule heuristic) per-tag counts."""
    from mklab_focused_crawler_spark.functions import nlp

    return nlp.pos_tag_counts(load_table(spark, sf_dir, "documents"))


# ---- per-domain media counters (MediaCounterBolt.java:71-82) --------------


def _q_domain_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling per-domain media counts: each event carries a synthetic
    media URL (deterministic on both engines); counts group by the URL
    host per 10-minute window, top-k per window."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    return trending.domain_counts(
        ev.withColumn("url", _synth_url_col("event_id"))
    )


# ---- JSON ingress / deserialization (SURVEY §2.2) ------------------------


def _q_json_ingress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deserialization-bolt family (WebPageDeserializationBolt.java:
    41-52 et al: JSON string → typed record, drop parse failures) as
    ``from_json`` + null filter over the events.props JSON column."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.from_json(F.col("props"), "k int").alias("p"),
    )
    return (
        parsed.filter(F.col("p").isNotNull())
        .select("event_id", F.col("p.k").alias("k"))
    )


# Twin of from_json(props, 'k int') + IS NOT NULL semantics: only JSON
# *objects* parse to a non-null struct in Spark (valid scalars/arrays →
# null), and a string-typed "5" does NOT coerce to int — gate on the
# JSON value type instead of blind CAST(json_extract_string(...)).
_JSON_INGRESS_SQL = """
    SELECT event_id,
           CAST(CASE WHEN json_type(props, '$.k') IN ('UBIGINT', 'BIGINT')
                     THEN json_extract_string(props, '$.k') END AS INT) AS k
    FROM events
    WHERE json_valid(props) AND json_type(props) = 'OBJECT'
    ORDER BY event_id
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "top_terms_per_source": _q_top_terms,
    "spans_stats": _q_spans_stats,
    "url_layer": _q_url_layer,
    "page_score": _q_page_score,
    "dedup_exact": _q_dedup_exact,
    "minhash_lsh_pairs": _q_minhash_lsh,
    "simhash_pairs": _q_simhash,
    "jaccard_topk": _q_jaccard_topk,
    "duplicate_clusters": _q_dup_clusters,
    "near_dup_filter": _q_near_dup_filter,
    "line_dedup": lambda s, d: lines.line_dedup(
        lines.augment_lines(load_table(s, d, "documents"))
    ),
    "repetition_signals": lambda s, d: lines.repetition_signals(
        lines.augment_lines(load_table(s, d, "documents"))
    ),
    "cosine_topk": _q_cosine_topk,
    "cosine_topk_gemm": _q_cosine_topk_gemm,
    "ann_topk": _q_ann_topk,
    "ann_topk_multi": _q_ann_topk_multi,
    "ivf_topk": _q_ivf_topk,
    "ivf_topk_trained": _q_ivf_topk_trained,
    "ivf_pq_topk": _q_ivf_pq_topk,
    "embedding_near_dups": _q_embedding_near_dups,
    "semantic_dedup": _q_semantic_dedup,
    "doc_quality": lambda s, d: quality.doc_quality_signals(
        load_table(s, d, "documents")
    ),
    "dataset_mix": lambda s, d: sampling.dataset_mix(
        load_table(s, d, "documents")
    ),
    "domain_quota": lambda s, d: sampling.domain_quota(
        load_table(s, d, "documents")
    ),
    "bpe_merges": lambda s, d: vocab.bpe_merge_candidates(
        load_table(s, d, "documents")
    ),
    "bpe_merges_iter": lambda s, d: vocab.bpe_merges_iter(
        load_table(s, d, "documents")
    ),
    "shard_shuffle": lambda s, d: sampling.shard_shuffle(
        load_table(s, d, "documents")
    ),
    "corpus_stats": lambda s, d: stats.corpus_stats(
        load_table(s, d, "documents")
    ),
    "decontaminate": lambda s, d: decontam.decontaminate(
        load_table(s, d, "documents")
    ),
    "substring_dedup": lambda s, d: substr_dedup.substring_dedup(
        dedup.augment_corpus(load_table(s, d, "documents"))
    ),
    "pii_redact": lambda s, d: pii.pii_redact(
        pii.augment_pii(load_table(s, d, "documents"))
    ),
    "dsir_weights": lambda s, d: dsir.dsir_weights(
        load_table(s, d, "documents")
    ),
    "ppl_buckets": lambda s, d: lm.ppl_buckets(load_table(s, d, "documents")),
    "lexicon_filter": lambda s, d: lexicon.lexicon_filter(
        lexicon.augment_lexicon(load_table(s, d, "documents"))
    ),
    "sequence_pack": lambda s, d: packing.sequence_pack(
        load_table(s, d, "documents")
    ),
    "pipeline_e2e": _q_pipeline_e2e,
    "text_analysis": _q_text_analysis,
    "token_stats": _q_token_stats,
    "rolling_top_events": lambda s, d: trending.rolling_top_events(
        load_table(s, d, "events")
    ),
    "contributor_counts": lambda s, d: trending.contributor_counts(
        load_table(s, d, "events")
    ),
    "idf_windows": lambda s, d: trending.idf_windows(load_table(s, d, "events")),
    "detect_events": lambda s, d: trending.detect_events(load_table(s, d, "events")),
    "media_pipeline": lambda s, d: multimodal.media_pipeline(
        build_spans(load_table(s, d, "documents"))
    ),
    "span_sequences": _q_span_sequences,
    "frontier_claim": _q_frontier_claim,
    "json_ingress": _q_json_ingress,
    "domain_counts": _q_domain_counts,
    "entities": _q_entities,
    "pos_tags": _q_pos_tags,
    "stream_users": lambda s, d: multimodal.first_seen_users(
        load_table(s, d, "events")
    ),
}

ORACLES: dict[str, str] = {
    "top_terms_per_source": f"""
        WITH toks AS (
            SELECT source,
                   unnest(list_filter({_TOKS_SQL},
                          t -> NOT list_contains({_STOPLIST_SQL}, t))) AS term
            FROM documents
        ), counts AS (
            SELECT source, term, count(*) AS term_count
            FROM toks GROUP BY source, term
        )
        SELECT source, term, term_count, rank FROM (
            SELECT source, term, term_count,
                   CAST(row_number() OVER (PARTITION BY source
                        ORDER BY term_count DESC, term ASC) AS INT) AS rank
            FROM counts
        ) WHERE rank <= 10
        ORDER BY source, rank
    """,
    "spans_stats": spans_stats_oracle_sql(),
    "url_layer": f"""
        WITH u AS (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents)
        SELECT doc_id, url,
               {urls.canonicalize_url_sql("url")} AS canonical_url,
               {urls.url_host_sql("url")} AS host,
               {urls.route_sql("url")} AS route,
               {urls.platform_media_id_sql("url")[0]} AS platform,
               {urls.platform_media_id_sql("url")[1]} AS media_id,
               (length(url) <= {urls.MAX_URL_LENGTH}) AS url_ok
        FROM u ORDER BY doc_id
    """,
    "page_score": f"""
        SELECT event_id,
               round({scoring.page_score_sql("user_id", "epoch_ms(ts)", _NOW_MS)}, 9) AS score,
               round({scoring.shares_score_sql("user_id")}, 9) AS shares_score
        FROM events ORDER BY event_id
    """,
    "dedup_exact": dedup.exact_dedup_sql(),
    "minhash_lsh_pairs": dedup.lsh_pairs_sql(),
    "simhash_pairs": dedup.simhash_pairs_sql(),
    "jaccard_topk": dedup.jaccard_topk_sql(),
    "duplicate_clusters": dedup.duplicate_clusters_sql(),
    "near_dup_filter": dedup.near_dup_filter_sql(),
    "line_dedup": lines.line_dedup_sql(),
    "repetition_signals": lines.repetition_signals_sql(),
    "cosine_topk": similarity.cosine_topk_sql(),
    "cosine_topk_gemm": similarity.cosine_topk_gemm_sql(),
    "ann_topk": similarity.ann_topk_sql(),
    "ann_topk_multi": similarity.ann_topk_multi_sql(),
    "ivf_topk": similarity.ivf_topk_sql(),
    "embedding_near_dups": similarity.embedding_near_dups_sql(),
    "doc_quality": quality.doc_quality_signals_sql(),
    "dataset_mix": sampling.dataset_mix_sql(),
    "domain_quota": sampling.domain_quota_sql(),
    "bpe_merges": vocab.bpe_merge_candidates_sql(),
    "bpe_merges_iter": vocab.bpe_merges_iter_sql(),
    "shard_shuffle": sampling.shard_shuffle_sql(),
    "corpus_stats": stats.corpus_stats_sql(),
    "decontaminate": decontam.decontaminate_sql(),
    "substring_dedup": substr_dedup.substring_dedup_sql(),
    "pii_redact": pii.pii_redact_sql(pii.augment_pii_sql()),
    "dsir_weights": dsir.dsir_weights_sql(),
    "ppl_buckets": lm.ppl_buckets_sql(),
    "lexicon_filter": lexicon.lexicon_filter_sql(lexicon.augment_lexicon_sql()),
    "sequence_pack": packing.sequence_pack_sql(),
    "pipeline_e2e": pipeline.pipeline_e2e_sql(),
    "text_analysis": _TEXT_ANALYSIS_SQL,
    "token_stats": _TOKEN_STATS_SQL,
    "rolling_top_events": trending.rolling_top_events_sql(),
    "contributor_counts": trending.contributor_counts_sql(),
    "idf_windows": trending.idf_windows_sql(),
    "detect_events": trending.detect_events_sql(),
    "media_pipeline": multimodal.media_pipeline_sql(),
    "span_sequences": _span_sequences_sql(),
    "frontier_claim": _frontier_claim_sql(),
    "json_ingress": _JSON_INGRESS_SQL,
    "domain_counts": trending.domain_counts_sql(_synth_url_sql("event_id")),
    "entities": __import__("mklab_focused_crawler_spark.functions.nlp", fromlist=["x"]).entity_counts_sql(
        "(SELECT doc_id, "
        + __import__(
            "mklab_focused_crawler_spark.functions.nlp", fromlist=["x"]
        ).restore_case_sql("text")
        + " AS text FROM documents)"
    ),
    "pos_tags": __import__("mklab_focused_crawler_spark.functions.nlp", fromlist=["x"]).pos_tag_counts_sql(),
    # StreamUser insert-if-absent (MediaUpdaterBolt.java:116-126): the
    # surviving row per user is the first event's in (ts, event_id) order
    "stream_users": """
        SELECT user_id, first_ts, first_event_id, n_events FROM (
            SELECT user_id,
                   epoch_ms(ts) AS first_ts,
                   event_id AS first_event_id,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n_events
            FROM events
        ) WHERE rn = 1
    """,
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


# The driver compares Spark vs DuckDB at sf0.01 (TESTDATA.md); the
# trained-IVF twin must embed the centroids trained on THAT data, so its
# SQL is generated lazily from the sf0.01 parquet (pyarrow + numpy — the
# exact training function the Spark query calls) and memoized. Every
# other oracle is data-independent and stays a static literal.
_ORACLE_SF_DIR = "/root/testdata/sf0.01"
_LAZY_ORACLES: dict[str, str] = {}


def oracle_sql() -> dict[str, str]:
    out = dict(ORACLES)
    if "ivf_topk_trained" not in _LAZY_ORACLES:
        cents = similarity.train_ivf_codebook_parquet(
            f"{_ORACLE_SF_DIR}/embeddings.parquet"
        )
        _LAZY_ORACLES["ivf_topk_trained"] = similarity.ivf_topk_sql(centroids=cents)
        _LAZY_ORACLES["semantic_dedup"] = similarity.semantic_dedup_sql(
            centroids=cents
        )
        _LAZY_ORACLES["ivf_pq_topk"] = similarity.ivf_pq_topk_sql(
            centroids=cents,
            pq_books=similarity.train_pq_codebooks_parquet(
                f"{_ORACLE_SF_DIR}/embeddings.parquet"
            ),
        )
    out.update(_LAZY_ORACLES)
    return out
