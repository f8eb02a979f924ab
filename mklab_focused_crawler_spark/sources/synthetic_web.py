"""Deterministic synthetic web: pages, redirects, robots, seeds.

The reference crawls the live web (WebPageFetcherBolt.java) with seeds
arriving over Redis (conf/focused.crawler.xml <webPagesChannel>). For
hermetic, replayable runs the crawl loop fetches against this generated
web instead: a ``pages`` table whose every column is a pure function of
(seed, page index) — built with Spark column expressions only, so a
10^10-row web is a ``spark.range`` away (no driver-side data, no RNG
state; xxhash64 is the generator).

Host distribution is deliberately skewed (u³ mapping → the hot-host
problem the frontier's salting must solve): with 20 hosts, host 0 owns
≈37% of pages.

Page anatomy (exercises every extractor rule, ArticleExtractionBolt.java
:405-443 + ImageExtractor.java):
- boilerplate nav block (short, link-dense → must be dropped)
- 2-4 content blocks of 12 vocab words each (kept, document order)
- i%5==0: a qualifying <img> (400x300) inside content → media span
- i%10==0: a 100x100 img (dropped: minDim 200)
- i%15==0: a .gif img (dropped: gif rule)
- i%23==0: mime image/png (dropped before parse: MIME gate,
  WebPageFetcherBolt.java:215-222)
- i%17==0: redirect hop to page i+1 (URLExpansionBolt redirect follow)
- i%29==0: path under /private/ (robots-disallowed on some hosts)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exprcache import session_expr

VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu apple banana cherry date elder fig grape honey iris jade "
    "kiwi lemon mango nectar olive peach quince raisin squash tomato ugli vine "
    "walnut ximenia yam zucchini"
).split()

BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
N_HOSTS_DEFAULT = 20


def _h(*cols) -> F.Column:
    return F.xxhash64(*[F.lit(c) if isinstance(c, (str, int)) else c for c in cols])


def _host_idx(i, n_hosts: int):
    # 1e6-granular u so host spaces up to ~10^5 are fully reachable
    # (coarser granularity silently caps the distinct-host count)
    u = F.pmod(_h("host", i), 1_000_000) / F.lit(1_000_000.0)
    return F.floor(F.lit(n_hosts) * u * u * u).cast("int")


def _url(i, n_hosts: int):
    private = F.when(i % 29 == 0, F.lit("private/")).otherwise(F.lit(""))
    return F.concat(
        F.lit("http://host"),
        _host_idx(i, n_hosts).cast("string"),
        F.lit(".test/"),
        private,
        F.lit("page/"),
        i.cast("string"),
    )


def _page_columns(
    i: F.Column,
    n_pages: int,
    n_hosts: int,
    min_blocks: int,
    mod_blocks: int,
) -> dict[str, F.Column]:
    """Every page column as a pure function of the page index ``i`` —
    shared by ``generate_pages`` (materialize a web table) and
    ``synthetic_fetch`` (regenerate one page per claimed URL, the
    fetch-cost-∝-claims emulation of HTTP)."""
    vocab = F.lit(VOCAB)

    word = lambda j, m: F.element_at(  # noqa: E731
        vocab, (F.pmod(_h("w", i, j, m), len(VOCAB)) + 1).cast("int")
    )
    n_blocks = (F.lit(min_blocks) + F.pmod(i, mod_blocks)).cast("int")
    block_txt = lambda j: F.array_join(  # noqa: E731
        F.transform(F.sequence(F.lit(0), F.lit(11)), lambda m: word(j, m)), " "
    )

    img_main = F.when(
        i % 5 == 0,
        F.concat(
            F.lit('<img src="http://img.test/m/'),
            i.cast("string"),
            F.lit('.jpg" width="400" height="300" alt="photo '),
            i.cast("string"),
            F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    img_small = F.when(
        i % 10 == 0,
        F.concat(
            F.lit('<img src="http://img.test/s/'),
            i.cast("string"),
            F.lit('.jpg" width="100" height="100" alt="small">'),
        ),
    ).otherwise(F.lit(""))
    img_gif = F.when(
        i % 15 == 0,
        F.concat(
            F.lit('<img src="http://img.test/g/'),
            i.cast("string"),
            F.lit('.gif" width="400" height="400" alt="anim">'),
        ),
    ).otherwise(F.lit(""))

    content = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda j: F.concat(
                F.lit("<p>"),
                block_txt(j),
                F.when(j == 0, F.concat(img_main, img_small, img_gif)).otherwise(
                    F.lit("")
                ),
                F.lit("</p>"),
            ),
        ),
        "\n",
    )

    html = F.concat(
        F.lit("<html><head><title>Title "),
        i.cast("string"),
        F.lit("</title><style>.x{color:red}</style></head><body>"),
        F.lit('<div><a href="/">home</a> <a href="/login">login</a> <a href="/about">about</a></div>'),
        F.lit("<script>var x=1;</script>"),
        content,
        F.lit("</body></html>"),
    )

    n_out = (F.lit(3) + F.pmod(i, 4)).cast("int")
    out_links = F.transform(
        F.sequence(F.lit(1), n_out),
        lambda k: _url(F.pmod(_h("lk", i, k), n_pages), n_hosts),
    )

    return {
        "url": _url(i, n_hosts),
        "redirect_to": F.when(i % 17 == 0, _url(i + 1, n_hosts)).otherwise(
            F.lit(None)
        ),
        "mime": F.when(i % 23 == 0, F.lit("image/png")).otherwise(
            F.lit("text/html")
        ),
        "html": F.when(i % 23 == 0, F.lit("")).otherwise(html),
        "out_links": out_links,
        "shares": F.pmod(_h("sh", i), 100).cast("int"),
        "pub_ms": F.lit(BASE_MS) + F.pmod(_h("ts", i), 86_400_000),
        "host_idx": _host_idx(i, n_hosts).cast("int"),
    }


def generate_pages(
    spark: SparkSession,
    n_pages: int,
    n_hosts: int = N_HOSTS_DEFAULT,
    min_blocks: int = 2,
    mod_blocks: int = 3,
) -> DataFrame:
    """min_blocks/mod_blocks size the content (blocks per page ∈
    [min_blocks, min_blocks+mod_blocks-1]) — the scaling bench passes
    larger values so extraction compute dominates coordination."""
    df = spark.range(n_pages).withColumnRenamed("id", "i")
    cols = _page_columns(F.col("i"), n_pages, n_hosts, min_blocks, mod_blocks)
    return df.select(*[c.alias(name) for name, c in cols.items()])


_PAGE_IDX_RE = r"page/(\d+)$"


def synthetic_fetch(
    n_pages: int,
    n_hosts: int = N_HOSTS_DEFAULT,
    min_blocks: int = 2,
    mod_blocks: int = 3,
    url_col: str = "expanded_url",
):
    """Column-expression fetch transport over the synthetic web: given a
    claimed-URL batch, regenerate each page's (mime, html, out_links)
    from the page index embedded in the URL — the same pure functions
    ``generate_pages`` materializes, evaluated per *claim*.

    This is the faithful HTTP-cost emulation for the crawl bench: a real
    fetch costs ∝ claimed URLs, while the page-store join costs ∝ web
    size (every iteration re-scanned and re-decoded the whole
    html-bearing table — measured as the memory-bandwidth term that
    capped core scaling; this box does ~6.6 GB/s at 2 cores but only
    ~10.5 at 8). Generation + extraction fuse into one codegen stage:
    each ~1.5 KB html string is built, parsed and discarded inside the
    task loop — cache-resident, never at rest.

    URLs that don't parse as synthetic pages (or index ≥ n_pages) are
    dropped — the equivalent of a DNS/404 fetch miss, counted by the
    caller's claimed-vs-fetched arithmetic exactly like the join path's
    missing rows. Exact join-path parity is pinned by
    tests/test_crawl_parts.py::test_synthetic_fetch_parity."""

    def build() -> dict[str, F.Column]:
        i = F.regexp_extract(F.col(url_col), _PAGE_IDX_RE, 1).try_cast("long")
        cols = _page_columns(i, n_pages, n_hosts, min_blocks, mod_blocks)
        return {
            "i": i,
            "in_range": F.col("_i").isNotNull() & (F.col("_i") < n_pages),
            # the regenerated URL must round-trip (guards against a
            # foreign URL that happens to end in page/<n>)
            "round_trip": F.col(url_col) == cols["url"],
            **{c: cols[c] for c in ("mime", "html", "out_links")},
        }

    key = ("synthetic_fetch", n_pages, n_hosts, min_blocks, mod_blocks, url_col)

    def fetch(df: DataFrame) -> DataFrame:
        # the page generator's trees are iteration-invariant: built
        # once per session, aliased per call
        c = session_expr(key, build)
        return (
            df.withColumn("_i", c["i"])
            .filter(c["in_range"])
            .filter(c["round_trip"])
            .select(
                *df.columns,
                c["mime"].alias("mime"),
                c["html"].alias("html"),
                c["out_links"].alias("out_links"),
            )
        )

    return fetch


def generate_redirects(
    spark: SparkSession, n_pages: int, n_hosts: int = N_HOSTS_DEFAULT
) -> DataFrame:
    """The synthetic web's redirect map (src_url, dst_url) straight from
    the index range — no scan of the html-bearing pages table."""
    df = spark.range(0, n_pages, 17).withColumnRenamed("id", "i")
    i = F.col("i")
    return df.select(
        _url(i, n_hosts).alias("src_url"),
        _url(i + 1, n_hosts).alias("dst_url"),
    )


def generate_meta(
    spark: SparkSession, n_pages: int, n_hosts: int = N_HOSTS_DEFAULT
) -> DataFrame:
    """Narrow (url, shares, pub_ms) metadata projection from the index
    range — the score join's build side, no html ever materialized."""
    df = spark.range(n_pages).withColumnRenamed("id", "i")
    i = F.col("i")
    return df.select(
        _url(i, n_hosts).alias("url"),
        F.pmod(_h("sh", i), 100).cast("int").alias("shares"),
        (F.lit(BASE_MS) + F.pmod(_h("ts", i), 86_400_000)).alias("pub_ms"),
    )


def generate_robots(spark: SparkSession, n_hosts: int = N_HOSTS_DEFAULT) -> DataFrame:
    """robots table: per-host disallow prefixes + crawl delay.

    The reference has no robots support (SURVEY §2, grep: none); required
    by north_rule. Hosts h%7==0 disallow /private/; crawl_delay_ms
    staggers 0..400 by host.
    """
    df = spark.range(n_hosts).withColumnRenamed("id", "h")
    h = F.col("h")
    return df.select(
        F.concat(F.lit("host"), h.cast("string"), F.lit(".test")).alias("host"),
        F.when(h % 7 == 0, F.array(F.lit("/private/")))
        .otherwise(F.array().cast("array<string>"))
        .alias("disallow_prefixes"),
        ((h % 5) * 100).cast("int").alias("crawl_delay_ms"),
    )


def generate_seeds(
    spark: SparkSession, n_pages: int, n_seeds: int, n_hosts: int = N_HOSTS_DEFAULT
) -> DataFrame:
    """Deterministic seed list: every ⌊n_pages/n_seeds⌋-th page.

    The bound is expressed in the range itself rather than ``.limit()``:
    a global limit funnels the whole seed chain through ONE partition,
    and every downstream transform (canonicalize, hash, score join)
    inherits that single task. ``rank`` is the seed ordinal ``i/step``
    — partitioning-independent, unlike monotonically_increasing_id."""
    step = max(1, n_pages // n_seeds)
    df = spark.range(0, min(n_pages, step * n_seeds), step).withColumnRenamed(
        "id", "i"
    )
    i = F.col("i")
    return df.select(
        _url(i, n_hosts).alias("url"),
        (i / step).cast("long").alias("rank"),
    )
