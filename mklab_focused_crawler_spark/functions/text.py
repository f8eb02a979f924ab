"""Text scalar functions: tokenize, stopwords, n-grams, quality, lang-id,
token counting, fingerprinting.

Reference parity: ``TokenizationBolt.java:126-154`` runs Lucene
StandardTokenizer → StopFilter(English) → optional ShingleFilter →
LowerCaseFilter, row-at-a-time. Here every transform is a built-in
column expression (JVM-side, whole-stage codegen) — no UDFs. Each
function documents its DuckDB-equivalent SQL so queries stay
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Lucene's EnglishAnalyzer default stop set (public, org.apache.lucene
# .analysis.en.EnglishAnalyzer#ENGLISH_STOP_WORDS_SET) — the set the
# reference's StopFilter uses (TokenizationBolt.java:135-137).
STOPWORDS = (
    "a an and are as at be but by for if in into is it no not of on or "
    "such that the their then there these they this to was will with"
).split()

# tiny per-language stopword lists for the heuristic language-id
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "en", "los", "una", "por"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "les", "des", "est", "dans", "une", "pour"],
}

TOKEN_SPLIT_RE = "[^a-z0-9]+"

_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"


def ascii_lower(col: Column | str) -> Column:
    """Portable ASCII-only lowercase. Engine `lower()` is locale/Unicode-
    sensitive and NOT cross-engine stable (Spark's Java toLowerCase maps
    İ→i+combining-dot and final Σ→ς; DuckDB maps İ→i, Σ→σ — found by the
    hypothesis fuzz layer). translate over A-Z is per-character and
    identical everywhere; for tokenize the semantics are unchanged
    (non-ASCII chars are token separators either way)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, _UPPER, _LOWER)


def ascii_lower_sql(expr: str) -> str:
    return f"translate({expr}, '{_UPPER}', '{_LOWER}')"


def tokenize(col: Column | str) -> Column:
    """ascii_lower → split on non-alphanumeric → drop empties.

    DuckDB: list_filter(string_split_regex(<ascii_lower>, '[^a-z0-9]+'), t -> t <> '')
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(ascii_lower(c), TOKEN_SPLIT_RE), lambda t: t != F.lit("")
    )


def tokenize_sql(expr: str) -> str:
    return (
        f"list_filter(string_split_regex({ascii_lower_sql(expr)}, '[^a-z0-9]+'), t -> t <> '')"
    )


def remove_stopwords(tokens: Column) -> Column:
    """StopFilter equivalent (order-preserving, keeps duplicates).

    DuckDB: list_filter(tokens, t -> NOT list_contains([...], t))
    """
    stop = F.lit(STOPWORDS)
    return F.filter(tokens, lambda t: ~F.array_contains(stop, t))


def ngrams(tokens: Column, n: int) -> Column:
    """ShingleFilter equivalent: space-joined n-grams in order.

    DuckDB: list_transform(range(1, len(toks)-n+2), i ->
              array_to_string(toks[i:i+n-1], ' '))  -- 1-based inclusive slice

    n=2 takes a zip_with fast path (tokens ⊗ tokens[2:]): one array
    traversal instead of a slice+join per position — measurably faster
    in codegen, identical output.

    General n zips n shifted views of the array (arrays_zip of n
    slices) and joins each struct with one concat_ws: O(n) slice calls
    per ROW instead of the O(m) per-position slice+array_join a
    sequence→transform formulation costs (each interpreted HOF lambda
    invocation allocates an array — 4-5x slower measured at n=3, worse
    at the n=13 decontamination grams). concat_ws skips the nulls
    arrays_zip pads the short tails with, so positions past m-n+1
    degenerate to short grams — sliced off by the final bounded slice,
    which also yields [] for m < n (greatest-guarded empty range).
    """
    if n == 2:
        shifted = F.slice(tokens, 2, F.greatest(F.size(tokens) - 1, F.lit(0)))
        pairs = F.zip_with(
            tokens, shifted, lambda x, y: F.concat_ws(" ", x, y)
        )
        # zip_with pads the shorter side with null; concat_ws skips
        # nulls, so the final element degenerates to just the last
        # token — drop it by slicing to size-1
        return F.slice(pairs, 1, F.greatest(F.size(tokens) - 1, F.lit(0)))
    m = F.size(tokens)
    views = [
        F.slice(tokens, i + 1, F.greatest(m - i, F.lit(0))).alias(f"_{i}")
        if i
        else tokens.alias("_0")
        for i in range(n)
    ]

    def _joiner(nn: int):
        # closure factory: keeps the HOF lambda unary (CLAUDE.md arity)
        def gram(s: Column) -> Column:
            return F.concat_ws(" ", *[s[f"_{j}"] for j in range(nn)])

        return gram

    grams = F.transform(F.arrays_zip(*views), _joiner(n))
    return F.slice(grams, 1, F.greatest(m - (n - 1), F.lit(0)))


def ngrams_sql(tokens_expr: str, n: int) -> str:
    return (
        f"list_transform(range(1, greatest(len({tokens_expr}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(({tokens_expr})[i:i+{n - 1}], ' '))"
    )


def token_count(col: Column | str) -> Column:
    """Whitespace-ish token count. DuckDB: len(tokenize_sql(x))."""
    return F.size(tokenize(col))


def stopword_ratio(tokens: Column) -> Column:
    """Fraction of tokens that are stopwords (0.0 for empty docs)."""
    stop = F.lit(STOPWORDS)
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(stop, t)))
    return F.when(F.size(tokens) > 0, n_stop / F.size(tokens)).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Document quality heuristic ∈ [0,1]: mean of a length score, an
    alphanumeric-density score, and a stopword-presence score.

    Behavioral stand-in for the reference's boilerpipe
    ``SimpleEstimator.isLowQuality`` gate (ArticleExtractionBolt.java:
    299-322) — the reference's estimator needs block statistics we apply
    at span level; this is the document-level scalar variant. Formula is
    fully SQL-expressible (see quality_score_sql).
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokenize(c)
    len_score = F.least(F.size(toks) / F.lit(100.0), F.lit(1.0))
    alnum = F.length(F.regexp_replace(ascii_lower(c), "[^a-z0-9]", ""))
    density = F.when(F.length(c) > 0, alnum / F.length(c)).otherwise(F.lit(0.0))
    stop = stopword_ratio(toks)
    stop_score = F.least(stop * F.lit(4.0), F.lit(1.0))
    return F.round((len_score + density + stop_score) / F.lit(3.0), 6)


def quality_score_sql(expr: str) -> str:
    toks = tokenize_sql(expr)
    stoplist = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
    return (
        "round(("
        f"least(len({toks}) / 100.0, 1.0) + "
        f"(CASE WHEN length({expr}) > 0 THEN length(regexp_replace({ascii_lower_sql(expr)}, '[^a-z0-9]', '', 'g')) * 1.0 / length({expr}) ELSE 0.0 END) + "
        f"least((CASE WHEN len({toks}) > 0 THEN len(list_filter({toks}, t -> list_contains({stoplist}, t))) * 1.0 / len({toks}) ELSE 0.0 END) * 4.0, 1.0)"
        ") / 3.0, 6)"
    )


def lang_id(text: Column | str) -> Column:
    """Heuristic language id: argmax of per-language marker-stopword hit
    counts over LANG_MARKERS; 'und' when no marker hits. Deterministic
    tie-break by language code order en<es<de<fr via max_by on
    (count, -rank) — SQL-expressible both sides.
    """
    toks = tokenize(text)

    def contains_fn(ws):
        # closure, not lambda-default: PySpark reads lambda arity and
        # would treat a defaulted arg as a second lambda variable
        return lambda t: F.array_contains(F.lit(ws), t)

    scores = [
        (code, F.size(F.filter(toks, contains_fn(ws))))
        for code, ws in LANG_MARKERS.items()
    ]
    # build: greatest count wins; ties broken by list order (first wins)
    best = F.lit("und")
    best_n = F.lit(0)
    for code, n in reversed(scores):  # reversed so earlier codes win ties
        best = F.when(n >= F.greatest(best_n, F.lit(1)), F.lit(code)).otherwise(best)
        best_n = F.greatest(best_n, n)
    return best


def lang_id_sql(expr: str) -> str:
    toks = tokenize_sql(expr)
    parts_n = []
    for code, ws in LANG_MARKERS.items():
        lst = "[" + ", ".join(f"'{w}'" for w in ws) + "]"
        parts_n.append(
            (code, f"len(list_filter({toks}, t -> list_contains({lst}, t)))")
        )
    best, best_n = "'und'", "0"
    for code, n in reversed(parts_n):
        best = f"(CASE WHEN {n} >= greatest({best_n}, 1) THEN '{code}' ELSE {best} END)"
        best_n = f"greatest({best_n}, {n})"
    return best


def fingerprint(text: Column | str) -> Column:
    """Key-collision fingerprint: md5 of sorted distinct tokens —
    classic clustering key for near-identical documents.

    DuckDB: md5(array_to_string(list_sort(list_distinct(tokens)), ' '))
    """
    toks = tokenize(text)
    return F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))


def fingerprint_sql(expr: str) -> str:
    toks = tokenize_sql(expr)
    # coalesce: DuckDB array_to_string([]) is NULL, Spark array_join([]) is ''
    return f"md5(coalesce(array_to_string(list_sort(list_distinct({toks})), ' '), ''))"


# --------------------------------------------------------------------------
# BPE-ish subword pre-tokenization count (the GPT-2 pre-tokenizer split,
# restricted to the Java∩RE2 regex core: no lookahead — RE2 has none —
# so the original pattern's trailing `\s+(?!\S)` branch collapses into
# the plain whitespace branch; token COUNTS are unchanged because the
# two branches partition the same whitespace runs). Counting these
# pieces approximates tokenizer-units-per-doc far better than
# whitespace words (punctuation, contractions, and digit runs split the
# way a trained BPE's pre-tokenizer would) — the standard budget metric
# for training-data sizing.
#
# Whitespace is an EXPLICIT class, never `\s`: Java's \s includes
# vertical tab, RE2's does not, and a VT adjacent to punctuation would
# merge into one piece under RE2 but two under Java. \p{L}/\p{N} differ
# only by Unicode version: the ranges below are the codepoints DuckDB's
# RE2 classes as \p{L} / \p{N} and Java 17's regex tables (Unicode
# 13) leave unassigned (all of U+0000..U+10FFFF diffed; none the other
# way round). The Spark pattern adds them, so both engines split alike.
# --------------------------------------------------------------------------

_WS = r" \t\n\x0b\f\r"
BPE_SPLIT_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+"
    rf"| ?[^{_WS}\p{{L}}\p{{N}}]+|[{_WS}]+"
)
_RE2_ONLY_L = (
    (0x870, 0x887), (0x889, 0x88E), (0x8B5, 0x8B5), (0x8C8, 0x8C9),
    (0xC5D, 0xC5D), (0xCDD, 0xCDD), (0x170D, 0x170D), (0x171F, 0x171F),
    (0x1B4C, 0x1B4C), (0x2C2F, 0x2C2F), (0x2C5F, 0x2C5F), (0x9FFD, 0x9FFF),
    (0xA7C0, 0xA7C1), (0xA7D0, 0xA7D1), (0xA7D3, 0xA7D3), (0xA7D5, 0xA7D9),
    (0xA7F2, 0xA7F4), (0x10570, 0x1057A), (0x1057C, 0x1058A),
    (0x1058C, 0x10592), (0x10594, 0x10595), (0x10597, 0x105A1),
    (0x105A3, 0x105B1), (0x105B3, 0x105B9), (0x105BB, 0x105BC),
    (0x10780, 0x10785), (0x10787, 0x107B0), (0x107B2, 0x107BA),
    (0x10F70, 0x10F81), (0x11071, 0x11072), (0x11075, 0x11075),
    (0x1123F, 0x11240), (0x11740, 0x11746), (0x11AB0, 0x11ABF),
    (0x11F02, 0x11F02), (0x11F04, 0x11F10), (0x11F12, 0x11F33),
    (0x12F90, 0x12FF0), (0x1342F, 0x1342F), (0x13441, 0x13446),
    (0x16A70, 0x16ABE), (0x1AFF0, 0x1AFF3), (0x1AFF5, 0x1AFFB),
    (0x1AFFD, 0x1AFFE), (0x1B11F, 0x1B122), (0x1B132, 0x1B132),
    (0x1B155, 0x1B155), (0x1DF00, 0x1DF1E), (0x1DF25, 0x1DF2A),
    (0x1E030, 0x1E06D), (0x1E290, 0x1E2AD), (0x1E4D0, 0x1E4EB),
    (0x1E7E0, 0x1E7E6), (0x1E7E8, 0x1E7EB), (0x1E7ED, 0x1E7EE),
    (0x1E7F0, 0x1E7FE), (0x2A6DE, 0x2A6DF), (0x2B735, 0x2B739),
    (0x31350, 0x323AF),
)
_RE2_ONLY_N = (
    (0x11F50, 0x11F59), (0x16AC0, 0x16AC9), (0x1D2C0, 0x1D2D3),
    (0x1E4F0, 0x1E4F9),
)


def _java_class(prop: str, extra) -> str:
    return prop + "".join(rf"\x{{{a:X}}}-\x{{{b:X}}}" for a, b in extra)


_L_JAVA = _java_class(r"\p{L}", _RE2_ONLY_L)
_N_JAVA = _java_class(r"\p{N}", _RE2_ONLY_N)
_BPE_SPLIT_RE_JAVA = (
    rf"'s|'t|'re|'ve|'m|'ll|'d| ?[{_L_JAVA}]+| ?[{_N_JAVA}]+"
    rf"| ?[^{_WS}{_L_JAVA}{_N_JAVA}]+|[{_WS}]+"
)


def bpe_token_count(col: Column | str) -> Column:
    """Count of GPT-2-style pre-tokenizer pieces (whitespace runs that
    precede a word attach to it; standalone whitespace counts once)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(_BPE_SPLIT_RE_JAVA), F.lit(0)))


def bpe_token_count_sql(expr: str) -> str:
    pat = BPE_SPLIT_RE.replace("'", "''")
    return f"len(regexp_extract_all({expr}, '{pat}'))"
