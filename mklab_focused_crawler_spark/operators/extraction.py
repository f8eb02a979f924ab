"""Boilerpipe-style article + media span extraction as a vectorized UDF.

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

Execution shape: ``mapInPandas`` — one Arrow batch in, pandas
C-level regex/str ops over whole columns (replace/extract/findall/
explode), spans reassembled per document, one Arrow batch out. No
Python loop over rows in the hot path. At 100 TB this stage is a
narrow map (no shuffle); batch size is bounded by
spark.sql.execution.arrow.maxRecordsPerBatch.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
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

OUTPUT_SCHEMA = (
    "doc_id string, title string, is_article boolean, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "media int, media_ids array<string>, media_thumbnail string"
)


def _hash60(s: str) -> int:
    """Portable 60-bit hash — python twin of functions.hashing.hash64."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def media_ref_for(src: str) -> str:
    return f"Web#{_hash60(src)}"


def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    n = len(pdf)
    doc_id = pdf["doc_id"].astype(str).reset_index(drop=True)
    html = pdf["html"].fillna("").reset_index(drop=True)

    title = (
        html.str.extract(r"(?is)<title[^>]*>(.*?)</title>")[0]
        .fillna("")
        .str.replace(r"\s+", " ", regex=True)
        .str.strip()
    )
    body = html.str.replace(_STRIP_SUBTREES, " ", regex=True)

    # --- blocks (document order preserved by split position) -----------
    blocks = body.str.split(_BLOCK_SPLIT)
    long = pd.DataFrame(
        {"row": range(n), "block": blocks}
    ).explode("block", ignore_index=True)
    long["block"] = long["block"].fillna("")
    long["block_idx"] = long.groupby("row").cumcount()

    text_raw = long["block"].str.replace(_TAG, " ", regex=True)
    long["text"] = (
        text_raw.str.replace(r"\s+", " ", regex=True).str.strip()
    )
    long["words"] = long["text"].str.findall(_WORD).str.len()
    anchor_text = (
        long["block"]
        .str.findall(_ANCHOR)
        .str.join(" ")
        .str.replace(_TAG, " ", regex=True)
    )
    long["link_words"] = anchor_text.str.findall(_WORD).str.len()
    density = long["link_words"] / long["words"].where(long["words"] > 0, 1)
    long["keep"] = (long["words"] >= MIN_WORDS_PER_BLOCK) & (
        density <= MAX_LINK_DENSITY
    )
    kept = long[long["keep"]].copy()

    # --- in-content images ---------------------------------------------
    imgs = (
        kept[["row", "block_idx"]]
        .assign(img=kept["block"].str.findall(_IMG))
        .explode("img")
        .dropna(subset=["img"])
    )
    if len(imgs):
        attrs = imgs["img"]
        imgs = imgs.assign(
            src=attrs.str.extract(r'(?i)src\s*=\s*["\']([^"\']+)["\']')[0],
            w=pd.to_numeric(
                attrs.str.extract(r'(?i)width\s*=\s*["\']?(\d+)')[0], errors="coerce"
            ),
            h=pd.to_numeric(
                attrs.str.extract(r'(?i)height\s*=\s*["\']?(\d+)')[0], errors="coerce"
            ),
            alt=attrs.str.extract(r'(?i)alt\s*=\s*["\']([^"\']*)["\']')[0],
        )
        imgs = imgs.merge(
            pd.DataFrame({"row": range(n), "_title": title}), on="row", how="left"
        )
        imgs["alt"] = imgs["alt"].fillna(imgs["_title"])
        # all-NaN extract columns come back float64 — the .str accessor
        # would raise; normalize to a string view for the length/suffix
        # checks (notna() still gates on the original)
        src_s = imgs["src"].fillna("").astype(str)
        ok = (
            imgs["src"].notna()
            & imgs["w"].notna()
            & imgs["h"].notna()
            & (imgs["w"] >= MIN_IMG_DIM)
            & (imgs["h"] >= MIN_IMG_DIM)
            & (imgs["w"] * imgs["h"] >= MIN_IMG_AREA)
            & (src_s.str.len() <= MAX_IMG_URL_LEN)
            & ~src_s.str.lower().str.endswith(".gif")
            & (imgs["alt"] != "")
        )
        imgs = imgs[ok].copy()
        imgs["media_ref"] = "Web#" + imgs["src"].map(
            lambda s: str(_hash60(s))
        )
    else:
        imgs = pd.DataFrame(columns=["row", "block_idx", "src", "media_ref"])

    # --- reassemble spans in document order ----------------------------
    t_spans = kept[["row", "block_idx", "text"]].assign(
        kind="text", media_ref="", sub=0
    )
    m_spans = imgs[["row", "block_idx", "media_ref"]].assign(
        kind="media", text="", sub=1
    )
    # stable order inside a block: text first, then images by appearance
    m_spans["sub"] = 1 + m_spans.groupby(["row", "block_idx"]).cumcount()
    spans = pd.concat([t_spans, m_spans], ignore_index=True).sort_values(
        ["row", "block_idx", "sub"], kind="stable"
    )
    spans["offset"] = spans.groupby("row").cumcount().astype("int32")
    spans["rec"] = spans[["kind", "text", "media_ref", "offset"]].to_dict("records")
    spans_by_row = spans.groupby("row")["rec"].agg(list)
    media_by_row = imgs.sort_values(["row", "block_idx"]).groupby("row")[
        "media_ref"
    ].agg(list)
    kept_words = kept.groupby("row")["words"].sum()

    out = pd.DataFrame(
        {
            "doc_id": doc_id,
            "title": title,
            "is_article": pd.Series(range(n)).map(
                lambda r: int(kept_words.get(r, 0)) >= MIN_ARTICLE_WORDS
            ),
            "spans": pd.Series(range(n)).map(
                lambda r: spans_by_row.get(r, [])
            ),
            "media_ids": pd.Series(range(n)).map(
                lambda r: media_by_row.get(r, [])
            ),
        }
    )
    out["media"] = out["media_ids"].str.len().astype("int32")
    out["media_thumbnail"] = out["media_ids"].map(
        lambda ids: ids[0] if ids else ""
    )
    return out[
        [
            "doc_id",
            "title",
            "is_article",
            "spans",
            "media",
            "media_ids",
            "media_thumbnail",
        ]
    ]


def extract_articles_native(
    df: DataFrame,
    id_col: str = "url",
    html_col: str = "html",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """The same behavioral contract as ``extract_articles`` (golden
    parity tests run over BOTH implementations) but as pure JVM column
    expressions — higher-order functions over the block array, Java
    regex on the columnar strings. No Python workers, no Arrow
    round-trip: profiling the crawl super-step showed the JVM tasks
    mostly *waiting* on the pandas kernel, and the Arrow+pandas object
    churn (every ``.str`` op materializes a fresh object array) was the
    memory-bandwidth term capping core scaling. This is also the
    100 TB shape: the stage stays a narrow map inside the JVM.

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
    """The native kernel's un-aliased output expressions over
    ``html_col`` — title and spans over the html, the rest over the
    ``spans``/``media_ids`` output attributes — built once per session."""
    return session_expr(
        ("extract_articles_native", html_col), lambda: _build_kernel(html_col)
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


def extract_articles(
    df: DataFrame,
    id_col: str = "url",
    html_col: str = "html",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(id, html) → (doc_id, title, is_article, spans, media, media_ids,
    media_thumbnail). Pure map.

    ``passthrough`` columns of ``df`` are carried through the kernel and
    echoed on the output rows (batch row order is preserved by
    ``_extract_batch``). This keeps the extract stage a pure narrow map
    at scale: metadata rides along instead of a post-extraction join —
    one fewer shuffle (and broadcast build) per crawl iteration."""
    names = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    cols = [F.col(id_col).alias("doc_id"), F.col(html_col).alias("html")]
    cols += [F.col(c) for c in passthrough]
    src = df.select(*cols)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = _extract_batch(pdf)
            for c in passthrough:
                out[c] = pdf[c].reset_index(drop=True)
            yield out

    schema = OUTPUT_SCHEMA + "".join(
        f", {c} {names[c]}" for c in passthrough
    )
    return src.mapInPandas(gen, schema)
