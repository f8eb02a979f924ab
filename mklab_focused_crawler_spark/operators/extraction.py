"""Boilerpipe-style article + media span extraction as JVM column
expressions.

Behavioral re-implementation of the reference's largest kernel:
- ArticleExtractionBolt.java:287-344 — boilerpipe ARTICLE_EXTRACTOR over
  the page, title + content text blocks (``getText(true,false)`` =
  content blocks only), quality flag, in-content image extraction.
- utils/ImageExtractor.java:126-244 — images positioned *inside* content
  blocks, in document order, skipping STYLE/SCRIPT/.../HEAD subtrees.
- image filters, ArticleExtractionBolt.java:405-443: parseable w/h;
  w ≥ 200, h ≥ 200, area ≥ 40000; resolved URL length ≤ 500; no .gif;
  alt falls back to page title else the image is dropped.
- media-id scheme, ArticleExtractionBolt.java:445-469: id = "Web#"+hash
  (we use the portable 60-bit md5 hash instead of Java hashCode —
  documented divergence, deterministic both sides).

Boilerpipe's full classifier is a trained block model; the behavioral
contract our golden tests pin down is its *shape*: split the page into
block-level text runs, keep content-dense blocks, drop boilerplate
(short and/or link-dense runs — the nav/footer signature), interleave
in-content images at their document position. Rules here:
  keep block ⇔ word_count ≥ 5 AND link_density ≤ 0.5
  is_article ⇔ total kept words ≥ 30   (SimpleEstimator stand-in)

Execution shape: higher-order functions over the block array and Java
regex on the columnar strings, inside the JVM — no Python workers, no
Arrow round-trip. At 100 TB this stage is a narrow map (no shuffle).
The golden and fuzz tests check it against the independent Python-re
extractor in tests/reference_extractor.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exprcache import session_expr
from ..functions.hashing import hash64
from ..functions.text import ascii_lower

MIN_WORDS_PER_BLOCK = 5
MAX_LINK_DENSITY = 0.5
MIN_ARTICLE_WORDS = 30
MIN_IMG_DIM = 200  # ArticleExtractionBolt.java:68
MIN_IMG_AREA = 40_000  # ArticleExtractionBolt.java:69
MAX_IMG_URL_LEN = 500  # ArticleExtractionBolt.java:70

_BLOCK_SPLIT = r"(?i)<(?:p|div|h[1-6]|li|ul|ol|table|tr|article|section|br)\b[^>]*>"
_STRIP_SUBTREES = r"(?is)<(script|style|noscript|head|option|embed|applet)\b[^>]*>.*?</\1>"
_TAG = r"(?s)<[^>]+>"
_WORD = r"[A-Za-z0-9]+"
_ANCHOR = r"(?is)<a\b[^>]*>(.*?)</a>"
_IMG = r"(?i)<img\b[^>]*>"


def extract_articles(
    df: DataFrame,
    id_col: str = "url",
    html_col: str = "html",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(id, html) → (doc_id, title, is_article, spans, media, media_ids,
    media_thumbnail). Pure map.

    ``passthrough`` columns of ``df`` are carried through and echoed on
    the output rows. This keeps the extract stage a pure narrow map at
    scale: metadata rides along instead of a post-extraction join — one
    fewer shuffle (and broadcast build) per crawl iteration.

    Pure JVM column expressions: profiling the crawl super-step showed
    the JVM tasks mostly *waiting* on an earlier pandas ``mapInPandas``
    form of this kernel, and its Arrow+pandas object churn (every
    ``.str`` op materializes a fresh object array) was the
    memory-bandwidth term capping core scaling.

    Documented divergences from the Python-re reference (ASCII inputs
    identical): Java ``\\s``/``\\b``/``\\w`` are ASCII-only while
    Python's are Unicode-aware; huge (>19-digit) width/height attrs
    overflow try_cast to NULL and drop the image.

    The kernel's expression trees are built once per session
    (``_native_kernel``); each call only aliases them onto ``df``."""
    k = _native_kernel(html_col)
    out = df.select(
        F.col(id_col).alias("doc_id"),
        k["title"].alias("title"),
        k["spans"].alias("spans"),
        *passthrough,
    )
    # spans is the single expensive producer; every output below derives
    # from its attribute (CollapseProject keeps a non-cheap expr used
    # more than once in its own projection — evaluated exactly once)
    out = out.select(
        "doc_id",
        "title",
        k["is_article"].alias("is_article"),
        "spans",
        k["media_ids"].alias("media_ids"),
        *passthrough,
    )
    return out.select(
        "doc_id",
        "title",
        "is_article",
        "spans",
        k["media"].alias("media"),
        "media_ids",
        k["media_thumbnail"].alias("media_thumbnail"),
        *passthrough,
    )


def _native_kernel(html_col: str) -> dict[str, F.Column]:
    """The JVM kernel's un-aliased output expressions over
    ``html_col`` — title and spans over the html, the rest over the
    ``spans``/``media_ids`` output attributes — built once per session."""
    return session_expr(
        ("extract_articles", html_col), lambda: _build_kernel(html_col)
    )


def _build_kernel(html_col: str) -> dict[str, F.Column]:
    h = F.coalesce(F.col(html_col), F.lit(""))
    title = F.trim(
        F.regexp_replace(
            F.regexp_extract(h, r"(?is)<title[^>]*>(.*?)</title>", 1),
            r"\s+",
            " ",
        )
    )
    body = F.regexp_replace(h, _STRIP_SUBTREES, " ")

    # --- per-block enrichment: each stage references the previous array
    # exactly once (nested transforms compose without re-evaluation) ----
    blocks = F.split(body, _BLOCK_SPLIT)
    t1 = F.transform(
        blocks,
        lambda b: F.struct(
            b.alias("block"),
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(b, _TAG, " "), r"\s+", " "
                )
            ).alias("text"),
        ),
    )
    t2 = F.transform(
        t1,
        lambda s: F.struct(
            s["block"].alias("block"),
            s["text"].alias("text"),
            F.size(F.regexp_extract_all(s["text"], F.lit(_WORD), F.lit(0))).alias(
                "words"
            ),
            F.size(
                F.regexp_extract_all(
                    F.regexp_replace(
                        F.array_join(
                            F.regexp_extract_all(s["block"], F.lit(_ANCHOR), F.lit(1)),
                            " ",
                        ),
                        _TAG,
                        " ",
                    ),
                    F.lit(_WORD),
                    F.lit(0),
                )
            ).alias("link_words"),
        ),
    )
    # keep ⇔ words ≥ 5 AND link_words / max(words,1) ≤ 0.5 — integer form
    kept = F.filter(
        t2,
        lambda s: (s["words"] >= MIN_WORDS_PER_BLOCK)
        & (s["link_words"] * 2 <= F.greatest(s["words"], F.lit(1))),
    )

    src_re = r'(?i)src\s*=\s*["\']([^"\']+)["\']'
    w_re = r'(?i)width\s*=\s*["\']?(\d+)'
    h_re = r'(?i)height\s*=\s*["\']?(\d+)'
    alt_re = r'(?i)alt\s*=\s*["\']([^"\']*)["\']'

    def img_spans(block):
        attrs = F.transform(
            F.regexp_extract_all(block, F.lit(_IMG), F.lit(0)),
            lambda im: F.struct(
                F.regexp_extract(im, src_re, 1).alias("src"),
                F.regexp_extract(im, w_re, 1).try_cast("bigint").alias("w"),
                F.regexp_extract(im, h_re, 1).try_cast("bigint").alias("h"),
                # alt="" must be distinguished from no-alt (falls back to
                # title): regexp_extract returns '' for both, so test
                # presence with the FULL pattern (closing quote required,
                # exactly what the extract matches)
                F.when(im.rlike(alt_re), F.regexp_extract(im, alt_re, 1))
                .otherwise(title)
                .alias("alt"),
            ),
        )
        ok = F.filter(
            attrs,
            lambda i: (i["src"] != "")
            & i["w"].isNotNull()
            & i["h"].isNotNull()
            & (i["w"] >= MIN_IMG_DIM)
            & (i["h"] >= MIN_IMG_DIM)
            & (i["w"] * i["h"] >= MIN_IMG_AREA)
            & (F.length(i["src"]) <= MAX_IMG_URL_LEN)
            & ~ascii_lower(i["src"]).endswith(".gif")
            & (i["alt"] != ""),
        )
        return F.transform(
            ok,
            lambda i: F.struct(
                F.lit("media").alias("kind"),
                F.lit("").alias("text"),
                F.concat(F.lit("Web#"), hash64(i["src"]).cast("string")).alias(
                    "media_ref"
                ),
            ),
        )

    flat = F.flatten(
        F.transform(
            kept,
            lambda s: F.concat(
                F.array(
                    F.struct(
                        F.lit("text").alias("kind"),
                        s["text"].alias("text"),
                        F.lit("").alias("media_ref"),
                    )
                ),
                img_spans(s["block"]),
            ),
        )
    )
    spans = F.transform(
        flat,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )

    media_ids = F.transform(
        F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("media")),
        lambda s: s["media_ref"],
    )
    total_words = F.aggregate(
        F.col("spans"),
        F.lit(0),
        lambda acc, s: acc
        + F.when(
            s["kind"] == F.lit("text"),
            F.size(F.regexp_extract_all(s["text"], F.lit(_WORD), F.lit(0))),
        ).otherwise(F.lit(0)),
    )
    return {
        "title": title,
        "spans": spans,
        "is_article": total_words >= MIN_ARTICLE_WORDS,
        "media_ids": media_ids,
        "media": F.size(F.col("media_ids")),
        "media_thumbnail": F.coalesce(F.get(F.col("media_ids"), 0), F.lit("")),
    }

