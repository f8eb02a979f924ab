"""URL scalar functions: canonicalization, host extraction, routing,
platform media-id extraction.

Reference parity:
- host extraction + media-domain routing: URLExpansionBolt.java:42-47
  (hard-coded 6-domain set), :67-81 (getHost + stream choice).
- 7 platform media-id regexes: MediaExtractionBolt.java:40-46. The
  reference's Java patterns contain unescaped '.'/'?' metacharacters
  (e.g. "photo.php?" parses as 'ph' + optional 'p'); we re-express the
  *intended* match behavior with properly escaped regexes (documented
  divergence — behavior on real URLs is identical).
- space→%20, '|'→%7C rewrite: ArticleExtractionBolt.java:238-241.
- URL length gate ≤300: ArticleExtractionBolt.java:229-233.

Canonicalization (ours — the reference dedups on raw URL strings in
Redis, StatusCheckBolt.java:59-68; north_rule keys the seen-set on
canonicalized-URL hashes): lowercase scheme+host, strip fragment, strip
default :80/:443 port, sort query params, strip trailing '/' on a bare
path, percent-encode space and pipe.

Everything is built-in column expressions (regexp_* / split /
array_sort) with a DuckDB-SQL twin for the oracle harness — zero UDFs,
stays inside whole-stage codegen.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

from .exprcache import session_expr
from .text import ascii_lower, ascii_lower_sql

# URLExpansionBolt.java:42-47
MEDIA_DOMAINS = (
    "vimeo.com",
    "instagram.com",
    "www.youtube.com",
    "twitpic.com",
    "dailymotion.com",
    "www.facebook.com",
)

# MediaExtractionBolt.java:40-46, intent-preserving escapes.
PLATFORM_PATTERNS: dict[str, str] = {
    "instagram": r"https?://instagram\.com/p/([\w-]+)/",
    "youtube": r"https?://www\.youtube\.com/watch\?.*v=([a-zA-Z0-9_-]+)",
    "vimeo": r"https?://vimeo\.com/([0-9]+)/*$",
    "twitpic": r"https?://twitpic\.com/([A-Za-z0-9]+)",
    "dailymotion": r"https?://www\.dailymotion\.com/video/([A-Za-z0-9]+)_",
    "facebook": r"https?://www\.facebook\.com/photo\.php\?.*fbid=([a-zA-Z0-9_-]+)",
    "flickr": r"https?://flickr\.com/photos/([A-Za-z0-9@]+)/([A-Za-z0-9@]+)",
}

MAX_URL_LENGTH = 300  # ArticleExtractionBolt.java:230
MAX_MEDIA_URL_LENGTH = 500  # ArticleExtractionBolt.java:70,427


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _by_name(fn):
    """Build ``fn`` over a column *name* once per session (the trees are
    name-keyed and iteration-invariant — functions/exprcache.py); a
    Column argument builds a fresh tree."""

    @functools.wraps(fn)
    def wrapper(col: Column | str) -> Column:
        if isinstance(col, str):
            return session_expr((fn.__name__, col), lambda: fn(F.col(col)))
        return fn(col)

    return wrapper


@_by_name
def canonicalize_url(col: Column | str) -> Column:
    u = F.trim(_c(col))
    # percent-encode space and pipe (ArticleExtractionBolt.java:238-241)
    u = F.regexp_replace(u, r" ", "%20")
    u = F.regexp_replace(u, r"\|", "%7C")
    # strip fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # split: scheme, authority(host[:port]), rest
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    after = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    # ascii_lower: authority may contain non-ASCII (IDN); engine lower()
    # is Unicode-divergent cross-engine (functions/text.ascii_lower)
    auth = ascii_lower(F.regexp_extract(after, r"^([^/?#]+)", 1))
    auth = F.regexp_replace(auth, r":80$|:443$", "")
    rest = F.regexp_replace(after, r"^[^/?#]+", "")
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    # sort query params for a stable key
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    path_n = F.when(path == "", F.lit("/")).otherwise(path)
    path_n = F.when(
        (F.length(path_n) > 1) & path_n.endswith("/") & (sorted_q == ""),
        F.regexp_replace(path_n, r"/+$", ""),
    ).otherwise(path_n)
    return F.when(
        scheme == "",
        u,  # not an absolute http(s) URL: leave as-is (already trimmed)
    ).otherwise(
        F.concat(
            scheme,
            F.lit("://"),
            auth,
            path_n,
            F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)).otherwise(F.lit("")),
        )
    )


def canonicalize_url_sql(expr: str) -> str:
    """DuckDB twin of canonicalize_url (same step order)."""
    # trim(x, ' '): DuckDB's one-arg trim strips Unicode whitespace
    # (NBSP included); Spark's F.trim strips ASCII space only — pin the
    # twin to the Spark semantics (found by the hypothesis fuzz layer)
    u = f"trim({expr}, ' ')"
    u = f"replace({u}, ' ', '%20')"
    u = f"replace({u}, '|', '%7C')"
    u = f"regexp_replace({u}, '#.*$', '')"
    scheme = f"lower(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    after = f"regexp_replace({u}, '^[A-Za-z][A-Za-z0-9+.-]*://', '')"
    auth_low = ascii_lower_sql(f"regexp_extract({after}, '^([^/?#]+)', 1)")
    auth = f"regexp_replace({auth_low}, ':80$|:443$', '')"
    rest = f"regexp_replace({after}, '^[^/?#]+', '')"
    path = f"regexp_extract({rest}, '^([^?]*)', 1)"
    query = f"regexp_extract({rest}, '\\?(.*)$', 1)"
    sorted_q = f"array_to_string(list_sort(string_split({query}, '&')), '&')"
    path_n = f"(CASE WHEN {path} = '' THEN '/' ELSE {path} END)"
    path_n = (
        f"(CASE WHEN length({path_n}) > 1 AND {path_n} LIKE '%/' AND {sorted_q} = '' "
        f"THEN regexp_replace({path_n}, '/+$', '') ELSE {path_n} END)"
    )
    return (
        f"(CASE WHEN {scheme} = '' THEN {u} ELSE "
        f"{scheme} || '://' || {auth} || {path_n} || "
        f"(CASE WHEN {sorted_q} <> '' THEN '?' || {sorted_q} ELSE '' END) END)"
    )


@_by_name
def url_host(col: Column | str) -> Column:
    """Host of an absolute URL, lowercased, port stripped.

    (URLExpansionBolt.java:67-68 uses java.net.URL#getHost.)
    DuckDB twin: url_host_sql.
    """
    return ascii_lower(
        F.regexp_extract(_c(col), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1)
    )


def url_host_sql(expr: str) -> str:
    host = f"regexp_extract({expr}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)"
    return ascii_lower_sql(host)


@_by_name
def url_path(col: Column | str) -> Column:
    """Path component of an absolute URL ('/' when empty) — robots
    prefix matching operates on this."""
    p = F.regexp_extract(_c(col), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def route(col: Column | str) -> Column:
    """'media' if host ∈ MEDIA_DOMAINS else 'webpage'
    (URLExpansionBolt.java:76-81)."""
    return F.when(url_host(col).isin(*MEDIA_DOMAINS), F.lit("media")).otherwise(
        F.lit("webpage")
    )


def route_sql(expr: str) -> str:
    doms = ", ".join(f"'{d}'" for d in MEDIA_DOMAINS)
    return f"(CASE WHEN {url_host_sql(expr)} IN ({doms}) THEN 'media' ELSE 'webpage' END)"


def platform_media_id(col: Column | str) -> tuple[Column, Column]:
    """(platform, media_id) via the 7 platform regexes; ('', '') when none.

    MediaExtractionBolt.java:122-166 tries patterns in declaration order
    and takes the first match — reproduced with a when-chain.
    """
    u = _c(col)
    plat = F.lit("")
    mid = F.lit("")
    for name, pat in reversed(list(PLATFORM_PATTERNS.items())):
        hit = F.regexp_extract(u, pat, 1)
        plat = F.when(hit != "", F.lit(name)).otherwise(plat)
        mid = F.when(hit != "", hit).otherwise(mid)
    return plat, mid


def platform_media_id_sql(expr: str) -> tuple[str, str]:
    # DuckDB string literals keep backslashes as-is (no escape processing),
    # so the Python regex string is passed through verbatim — only quotes
    # need doubling.
    plat, mid = "''", "''"
    for name, pat in reversed(list(PLATFORM_PATTERNS.items())):
        p = pat.replace("'", "''")
        hit = f"regexp_extract({expr}, '{p}', 1)"
        plat = f"(CASE WHEN {hit} <> '' THEN '{name}' ELSE {plat} END)"
        mid = f"(CASE WHEN {hit} <> '' THEN {hit} ELSE {mid} END)"
    return plat, mid
