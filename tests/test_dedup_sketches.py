"""Per-document sketches of the dedup suite: the MinHash signature
kernel (``dedup.minhash_signatures``) and ``dedup.simhash_table``.

- Values: every signature and SimHash equals its DuckDB twin
  (``minhash_signature_sql(shingle_hashes_sql(text))``, ``simhash_sql``)
  on NULL, empty, one-token and ordinary texts. NULL text gets no row;
  texts without shingles get the P sentinel in every lane; texts
  without tokens get sh = 0.
- The kernel's lane and chunk loop equals a pure-Python MinHash on a
  sliced Arrow batch whose rows span several chunks.
- Plan: one Arrow map node, no aggregate, no union.
- The hot-bucket drop counter counts and warns once.
"""

from __future__ import annotations

import logging

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

from mklab_focused_crawler_spark.operators import dedup

TEXTS = {
    1: None,
    2: "",
    3: "single",
    4: "  ...  ",
    5: "The quick brown fox jumps over the lazy dog, the quick one.",
    6: "Near duplicate: the quick brown fox jumps over the lazy dog",
}


def _corpus(spark):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": list(TEXTS), "text": list(TEXTS.values())}),
        "doc_id long, text string",
    )


def _duck(expr: str) -> dict:
    con = duckdb.connect()
    con.register(
        "t", pd.DataFrame({"doc_id": list(TEXTS), "text": list(TEXTS.values())})
    )
    return {r[0]: r[1] for r in con.execute(f"SELECT doc_id, {expr} FROM t").fetchall()}


def test_sketch_values_match_duckdb_and_null_text_has_no_row(spark):
    got = {r["doc_id"]: r for r in dedup.minhash_signatures(_corpus(spark)).collect()}
    assert set(got) == set(TEXTS) - {1}
    hashes = _duck(f"list_sort({dedup.shingle_hashes_sql('text')})")
    sigs = _duck(dedup.minhash_signature_sql(dedup.shingle_hashes_sql("text")))
    for d, r in got.items():
        assert r["shingles"] == hashes[d], d
        assert r["sig"] == sigs[d], d
    for d in (2, 3, 4):
        assert got[d]["shingles"] == []
        assert got[d]["sig"] == [dedup.MINHASH_P] * dedup.K_HASHES
    assert len(got[5]["shingles"]) > 0 and got[5]["sig"] != got[6]["sig"]

    sh = {r["doc_id"]: r["sh"] for r in dedup.simhash_table(_corpus(spark)).collect()}
    assert set(sh) == set(TEXTS) - {1}
    assert sh[2] == 0 and sh[4] == 0
    want = _duck(dedup.simhash_sql("text"))
    assert sh == {d: want[d] for d in sh}


def _reference_sig(hashes: list[int]) -> list[int]:
    if not hashes:
        return [dedup.MINHASH_P] * dedup.K_HASHES
    p = dedup.MINHASH_P
    return [
        min((a * (h % p) + b) % p for h in hashes)
        for a, b in zip(dedup.COEF_A, dedup.COEF_B)
    ]


def test_kernel_chunks_match_reference(monkeypatch):
    """A small chunk forces the row-chunk loop through multi-row chunks,
    single rows longer than a chunk and empty rows; the input list
    column is a slice (non-zero first offset)."""
    monkeypatch.setattr(dedup, "SIG_CHUNK", 5)
    rng = np.random.default_rng(3)
    lens = [0, 3, 12, 0, 0, 1, 7, 2, 0, 5, 40, 0]
    lists = [sorted(set(rng.integers(0, 2**60, n).tolist())) for n in lens]
    full = pa.array([[9, 8]] + lists + [[1]], pa.list_(pa.int64()))
    ids = pa.array(range(len(lists)), pa.int64())
    rb = pa.RecordBatch.from_arrays([ids, full.slice(1, len(lists))], ["doc_id", "shingles"])
    (out,) = list(dedup._minhash_kernel()([rb]))
    assert out.schema.names == ["doc_id", "shingles", "sig"]
    assert out.column(1).to_pylist() == lists
    assert out.column(2).to_pylist() == [_reference_sig(x) for x in lists]


def test_minhash_plan_is_one_arrow_kernel(spark):
    plan = dedup.minhash_signatures(_corpus(spark), carry=("text",))
    s = plan._jdf.queryExecution().optimizedPlan().toString()
    assert s.count("MapInArrow") == 1, s
    assert "Aggregate" not in s and "Union" not in s, s
    assert plan.columns == ["doc_id", "text", "shingles", "sig"]


def test_log_hot_drops_counts_and_warns_once(spark, caplog):
    """Three distinct canonicals with identical token streams collide on
    every band; bucket_cap=2 drops each of the 32 buckets (3 rows)."""
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = [body, body.replace(" ", "  ", 1), body.replace(" ", "  ", 2)]
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(3), "text": texts}), "doc_id long, text string"
    )
    _cpairs, sigs, hot = dedup.lsh_canonical_pairs(corpus, bucket_cap=2)
    want = sum(r["bn"] for r in hot.collect())
    assert want == 3 * dedup.BANDS
    with caplog.at_level(logging.WARNING):
        n = dedup.log_hot_drops(hot)
    sigs.unpersist()
    assert n == want
    warnings = [r for r in caplog.records if r.levelno >= logging.WARNING]
    assert len(warnings) == 1 and str(want) in warnings[0].getMessage()
