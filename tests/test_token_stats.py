"""Unit tests for the BPE-ish pre-tokenizer count
(functions/text.bpe_token_count) and the token_stats query: hand-pinned
piece counts, Java/RE2 dialect agreement on edge strings (incl. the
vertical-tab \\s divergence the pattern explicitly neutralizes), and
the zero-shuffle plan contract."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from mklab_focused_crawler_spark.functions.text import (
    bpe_token_count,
    bpe_token_count_sql,
)

# (text, expected piece count) — counted by hand against the GPT-2
# pre-tokenizer split rules (contraction suffixes; space-prefixed
# letter/digit/punct runs; whitespace runs)
PINNED = [
    ("it's here", 3),          # it | 's | ␣here
    ("don't stop", 3),         # don | 't | ␣stop
    ("abc 123 !!", 3),         # abc | ␣123 | ␣!!
    ("a  b", 3),               # a | ␣␣ | b (double space breaks attachment)
    (" trailing ", 2),         # ␣trailing | ␣
    ("x9y", 3),                # x | 9 | y
    ("a,b.c;d", 7),
    ("1,234.56", 5),           # 1 | , | 234 | . | 56
    ("he'll we're I'm you've", 8),
    ("中文 😀", 2),             # ␣-attached CJK letters | ␣-attached symbol
    ("", 0),
    ("   ", 1),
    # vertical tab: Java \s includes \x0b, RE2 \s does not — the
    # explicit whitespace class makes both engines treat it as
    # whitespace, so punctuation after it never merges
    ("x \x0b.", 3),            # x | ␣\x0b | .
]


def test_pinned_counts(spark):
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(PINNED)], "i long, t string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select(
            "i", bpe_token_count(F.col("t")).cast("int").alias("n")
        ).collect()
    }
    for i, (t, want) in enumerate(PINNED):
        assert got[i] == want, (t, got[i], want)


def test_duckdb_dialect_agrees(spark):
    texts = [t for t, _ in PINNED] + [
        "\xa0",
        "İstanbul Σ ΣΙΓΜΑΣ",
        "ẞIG ǅungla ﬃ ＡＢＣ",
        "ı I µ Μ",
        "\x0b x \x0b",
        "tab\tand\nnewline",
        # letters/digits newer than Java 17's Unicode 13 tables
        "0\U0001e4f0",
        "\U00031350\U000323af x",
        "\u0870\u0887!\U00011f50",
        "a\U0001e4d0 9\U0001d2c0.",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select(
            "i", bpe_token_count(F.col("t")).cast("int").alias("n")
        ).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        want = con.execute(
            f"SELECT {bpe_token_count_sql('?')}", [t]
        ).fetchone()[0]
        assert got[i] == want, (t, got[i], want)
    con.close()


def test_token_stats_plan_is_narrow(spark, tmp_path):
    import __spark_entry__ as m

    p = str(tmp_path)
    spark.createDataFrame(
        [(1, "a b c", "en", "x", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{p}/documents.parquet")
    plan = (
        m.queries()["token_stats"](spark, p)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "source" not in read_schema[0], plan
