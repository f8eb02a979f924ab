"""Similarity-operator unit tests beyond the oracle parity layer:
GEMM probe chunking (result must be chunk-boundary-independent), the
deterministic IVF k-means training job (recall vs brute force), the
argument checks that keep short results from passing silently, and the
ordered output schema of the ANN family."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from conftest import SF01_DIR
from pyspark.sql import functions as F

from mklab_focused_crawler_spark.operators import similarity as sim


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _clustered_embeddings(spark, n_clusters=10, per_cluster=60, noise=0.08):
    """Deterministic clustered unit vectors (fixed-seed RandomState —
    the legacy numpy generator whose streams are frozen by numpy's
    compatibility policy): 10 well-separated centers, mild noise, so a
    vector's true dot-product top-k ARE its cluster-mates and a coarse
    quantizer aligned to the clusters recovers them."""
    rng = np.random.RandomState(7)
    centers = rng.normal(size=(n_clusters, sim.DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = []
    for c in centers:
        v = c[None, :] + rng.normal(scale=noise, size=(per_cluster, sim.DIM))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        pts.append(v)
    emb = np.vstack(pts)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(len(emb), dtype=np.int64),
            "embedding": [row.astype(np.float32).tolist() for row in emb],
        }
    )
    return spark.createDataFrame(pdf)


def _topk_sets(df):
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["probe_id"], set()).add(r["vec_id"])
    return out


def _recall(got: dict, truth: dict) -> float:
    hits = sum(len(got.get(p, set()) & t) for p, t in truth.items())
    return hits / sum(len(t) for t in truth.values())


def test_trained_ivf_recall_on_clustered_corpus(spark):
    """The deterministic k-means codebook must (a) be input-order
    independent, (b) beat the ±1 stand-in codebook on clustered data,
    and (c) reach ≥0.95 recall@5 vs the exact brute force at n_probe=2
    — the measurement VERDICT r2 asked for (the stand-in scores ~0.68
    here: hyperplane signs split every true cluster across lists)."""
    emb = _clustered_embeddings(spark)
    mod = sim.train_sample_mod(emb.count())
    rows = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(f"vec_id % {mod} = 0").collect()
    ]
    cents = sim.train_ivf_codebook(rows)
    assert cents == sim.train_ivf_codebook(list(reversed(rows)))

    truth = _topk_sets(sim.cosine_topk(emb))
    got_tr = _topk_sets(sim.ivf_topk(emb, n_probe=2, centroids=cents))
    got_pm = _topk_sets(sim.ivf_topk(emb, n_probe=2))
    r_tr, r_pm = _recall(got_tr, truth), _recall(got_pm, truth)
    assert r_tr >= 0.95, f"trained recall {r_tr:.3f}"
    assert r_tr > r_pm, f"trained {r_tr:.3f} must beat stand-in {r_pm:.3f}"


def test_gemm_chunking_forced(spark):
    """cosine_topk_gemm with chunk < probe count (forcing the multi-pass
    union) is bit-identical to the single-chunk run and to the zip_with
    brute force — the (dot desc, vec_id asc) comparator is total, so
    per-chunk top-k unions are exact."""
    emb = spark.read.parquet(f"{SF01_DIR}/embeddings.parquet")
    n_probes = emb.filter(f"vec_id % {sim.PROBE_MOD} = 0").count()
    assert n_probes > 3, "fixture must have enough probes to force chunks"
    chunked = _rows(sim.cosine_topk_gemm(emb, chunk=3))
    single = _rows(sim.cosine_topk_gemm(emb))
    brute = _rows(sim.cosine_topk(emb))
    assert chunked == single == brute


def test_train_sample_mod_scales_with_corpus(spark, tmp_path):
    """VERDICT r3 item 3: the IVF training decimation derives from the
    corpus count (target ~256·K_LISTS sample vectors) instead of a fixed
    MOD — a 10^9-vector corpus no longer collects a third of itself to
    the driver — and the Spark and parquet-twin training paths compute
    the SAME modulus from the SAME rows, so the codebooks stay equal."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = sim.TRAIN_TARGET_PER_CENTROID * sim.K_LISTS
    assert sim.train_sample_mod(600) == 1  # tiny corpus: train on all
    assert sim.train_sample_mod(3 * target) == 3
    assert sim.train_sample_mod(10**9) == 10**9 // target  # ~244k

    n = 5 * target  # large enough that MOD=5 > the old fixed 3
    assert sim.train_sample_mod(n) == 5
    vecs = [
        np.array(
            [((i * 31 + j * 17) % 200 - 100) / 100.0 for j in range(sim.DIM)],
            dtype=np.float32,
        )
        for i in range(n)
    ]
    t = pa.table(
        {
            "vec_id": pa.array(range(n), type=pa.int64()),
            "embedding": pa.array([v.tolist() for v in vecs], type=pa.list_(pa.float32())),
        }
    )
    path = str(tmp_path / "emb.parquet")
    pq.write_table(t, path)

    c_pq = sim.train_ivf_codebook_parquet(path)
    c_df = sim.train_ivf_codebook_df(spark.read.parquet(path))
    assert c_df == c_pq  # same rule, same rows, same codebook
    # the list count itself now derives from the corpus (r5): this n is
    # big enough to leave the K_LISTS floor behind
    assert len(c_df) == sim.derive_k_lists(n) > sim.K_LISTS


def test_semantic_dedup_semantics_vs_brute_force(spark):
    """semantic_dedup's prune rule, verified independently: a vector is
    pruned IFF some lower-id vector in the same coarse cluster clears
    the integer cosine threshold (numpy int64 re-derivation — same
    quantization, same L2 assignment, no Spark code). Also pins the two
    structural invariants: the min-id member of every cluster is kept,
    and the clustered corpus prunes a non-trivial set (cluster-mates sit
    far above the threshold by construction)."""
    emb = _clustered_embeddings(spark)
    cents = sim.train_ivf_codebook_df(emb)
    got = {
        r["vec_id"]: (r["list_id"], r["kept"])
        for r in sim.semantic_dedup(emb, centroids=cents).collect()
    }

    rows = sorted(
        (r["vec_id"], r["embedding"]) for r in emb.collect()
    )
    X = np.rint(
        np.asarray([list(e) for _, e in rows], dtype=np.float64) * sim.SCALE
    ).astype(np.int64)
    C = np.asarray(cents, dtype=np.int64)
    nd = (C * C).sum(1)[None, :] - 2 * (X @ C.T)
    assign = np.argmin(nd, axis=1)  # argmin takes first min = id tiebreak
    n2 = (X * X).sum(1)
    num2 = sim.SEMDEDUP_NUM * sim.SEMDEDUP_NUM
    den2 = sim.SEMDEDUP_DEN * sim.SEMDEDUP_DEN
    pruned = set()
    for j in set(assign):
        idx = np.where(assign == j)[0]
        for bi, b in enumerate(idx):
            for a in idx[:bi]:
                d = int(X[a] @ X[b])
                if d > 0 and den2 * d * d >= num2 * int(n2[a]) * int(n2[b]):
                    pruned.add(int(rows[b][0]))
                    break

    assert set(got) == {v for v, _ in rows}
    for i, (vid, _) in enumerate(rows):
        assert got[vid][0] == int(assign[i]), vid
        assert got[vid][1] == (vid not in pruned), vid
    # min-id per cluster always kept; the clustered fixture must prune
    by_list: dict = {}
    for vid, (lid, kept) in got.items():
        by_list.setdefault(lid, []).append((vid, kept))
    for lid, members in by_list.items():
        assert min(members)[1] is True, lid
    n_pruned = sum(1 for _, k in got.values() if not k)
    assert 0 < n_pruned < len(got)


def test_ivf_pq_recall_on_clustered_corpus(spark):
    """IVF-PQ (trained coarse codebook + trained product sub-codebooks,
    integer ADC + exact re-rank) must reach recall@5 ≥ 0.9 vs the exact
    brute force on the clustered corpus — the compressed index keeps
    the quality while storing ~20 bytes per vector instead of 256."""
    emb = _clustered_embeddings(spark)
    mod = sim.train_sample_mod(emb.count())
    rows = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(f"vec_id % {mod} = 0").collect()
    ]
    cents = sim.train_ivf_codebook(rows)
    books = sim.train_pq_codebooks(rows)
    assert books == sim.train_pq_codebooks(list(reversed(rows)))

    truth = _topk_sets(sim.cosine_topk(emb))
    got = _topk_sets(
        sim.ivf_pq_topk(emb, n_probe=2, centroids=cents, pq_books=books)
    )
    r = _recall(got, truth)
    assert r >= 0.9, f"IVF-PQ recall {r:.3f}"


def test_ivf_pq_rerank_pool_bounds_misranking(spark):
    """With rerank >= corpus size the candidate pool is every in-list
    candidate, so IVF-PQ must equal IVF-flat exactly (ADC only selects
    the pool; the final ranking is the same exact integer dot). Pins
    the contract that PQ compression can only affect POOL membership,
    never the ordering of re-ranked survivors."""
    emb = _clustered_embeddings(spark, n_clusters=4, per_cluster=30)
    mod = sim.train_sample_mod(emb.count())
    rows = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(f"vec_id % {mod} = 0").collect()
    ]
    cents = sim.train_ivf_codebook(rows)
    books = sim.train_pq_codebooks(rows)
    flat = _rows(
        sim.ivf_topk(emb, n_probe=2, centroids=cents).select(
            "probe_id", "vec_id", "rank", "dot_q"
        )
    )
    pq = _rows(
        sim.ivf_pq_topk(
            emb, n_probe=2, rerank=10**6, centroids=cents, pq_books=books
        ).select("probe_id", "vec_id", "rank", "dot_q")
    )
    assert pq == flat


def test_derived_k_lists_scales_and_twins_agree(spark, tmp_path):
    """VERDICT r4 item 5: the list count derives from the corpus
    (average cluster ≈ TARGET_LIST_SIZE, clamped) instead of a fixed
    K_LISTS — and on a corpus big enough to CHANGE the value, both
    training paths still produce identical codebooks and the
    semantic_dedup / ivf_topk oracles still agree exactly."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    assert sim.derive_k_lists(100) == sim.K_LISTS  # floor
    assert sim.derive_k_lists(40 * sim.TARGET_LIST_SIZE) == 40
    assert sim.derive_k_lists(10**9) == sim.K_LISTS_CAP  # driver ceiling

    emb = _clustered_embeddings(spark, n_clusters=80, per_cluster=110)
    n = emb.count()
    k = sim.derive_k_lists(n)
    # the corpus genuinely changes the value: this parity run exercises
    # the Arrow GEMM nearest-centroid kernel at a derived k against the
    # DuckDB relational argmin
    assert k > sim.K_LISTS

    path = str(tmp_path / "emb.parquet")
    pdf = emb.toPandas()
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)

    cents_df = sim.train_ivf_codebook_df(emb)
    cents_pq = sim.train_ivf_codebook_parquet(path)
    assert cents_df == cents_pq and len(cents_df) == k

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")

    got_sd = _rows(sim.semantic_dedup(emb, centroids=cents_df))
    want_sd = sorted(
        tuple(r)
        for r in con.sql(sim.semantic_dedup_sql(centroids=cents_pq)).fetchall()
    )
    assert got_sd == want_sd and len(got_sd) == n

    got_ivf = _rows(sim.ivf_topk(emb, centroids=cents_df))
    want_ivf = sorted(
        tuple(r)
        for r in con.sql(sim.ivf_topk_sql(centroids=cents_pq)).fetchall()
    )
    assert got_ivf == want_ivf and len(got_ivf) > 0


def test_pq_training_sample_matches_coarse_sample(spark, tmp_path, monkeypatch):
    """The PQ sub-quantizers train on the SAME decimated sample as the
    coarse quantizer — the modulus derives from the corpus-derived list
    count in both — once that count leaves the K_LISTS floor (8,800
    vectors → k=68 lists), and the df and parquet PQ twins agree."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    emb = _clustered_embeddings(spark, n_clusters=80, per_cluster=110)
    n = emb.count()
    assert sim.derive_k_lists(n) > sim.K_LISTS

    mods = []
    real = sim.train_sample_mod

    def spy(*args, **kwargs):
        mods.append(real(*args, **kwargs))
        return mods[-1]

    monkeypatch.setattr(sim, "train_sample_mod", spy)
    sim.train_ivf_codebook_df(emb)
    books_df = sim.train_pq_codebooks_df(emb)
    assert len(mods) == 2 and mods[0] == mods[1], mods

    path = str(tmp_path / "emb.parquet")
    pq.write_table(
        pa.Table.from_pandas(emb.toPandas(), preserve_index=False), path
    )
    assert sim.train_pq_codebooks_parquet(path) == books_df
    assert mods[2] == mods[0]


def test_gemm_rejects_chunk_below_one(spark):
    """chunk < 1 raises. It used to return short without an error:
    chunk=-1 makes floor((rn-1)/chunk) negative, so every chunk after 0
    came back empty (1 of 10 probes), and chunk=0 failed inside a
    cached-batch task with DIVIDE_BY_ZERO."""
    emb = spark.read.parquet(f"{SF01_DIR}/embeddings.parquet")
    for chunk in (-1, 0):
        with pytest.raises(ValueError, match="chunk"):
            sim.cosine_topk_gemm(emb, chunk=chunk)


def test_ivf_pq_rejects_rerank_below_k(spark):
    """rerank < k raises on both engines: the pool keeps only rerank
    rows per probe, so the result used to hold fewer than k rows per
    probe. rerank == k is the smallest pool that fills every probe."""
    emb = spark.read.parquet(f"{SF01_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="rerank"):
        sim.ivf_pq_topk(emb, rerank=sim.TOP_K - 1)
    with pytest.raises(ValueError, match="rerank"):
        sim.ivf_pq_topk_sql(rerank=sim.TOP_K - 1)
    n_probes = emb.filter(F.col("vec_id") % sim.PROBE_MOD == 0).count()
    assert sim.ivf_pq_topk(emb, rerank=sim.TOP_K).count() == n_probes * sim.TOP_K


_TOPK = [
    "probe_id:bigint",
    "vec_id:bigint",
    "rank:int",
    "dot_q:bigint",
    "cosine:double",
]
_IVF = _TOPK[:2] + ["list_id:int"] + _TOPK[2:]
ANN_SCHEMAS = {
    "cosine_topk": _TOPK,
    "cosine_topk_gemm": _TOPK,
    "ann_topk": _TOPK[:2] + ["bucket:int"] + _TOPK[2:],
    "ann_topk_multi": _TOPK,
    "ivf_topk": _IVF,
    "ivf_pq_topk": _IVF[:4] + ["adc_q:bigint"] + _IVF[4:],
    "ivf_index_topk": _IVF,
    "embedding_near_dups": [
        "id_a:bigint",
        "id_b:bigint",
        "dot_q:bigint",
        "cosine:double",
    ],
    "semantic_dedup": ["vec_id:bigint", "list_id:int", "kept:boolean"],
}


def test_ann_family_output_schemas(spark, tmp_path):
    """The ordered output schema (names, order, types) of the seven
    top-k operators, embedding_near_dups and semantic_dedup, and the
    column order of their DuckDB twins. The oracle compare sorts columns
    by name, so it cannot see a reorder."""
    import duckdb

    from mklab_focused_crawler_spark.storage.snapshot import SnapshotTable
    from mklab_focused_crawler_spark.streaming import similarity as ssim

    path = f"{SF01_DIR}/embeddings.parquet"
    emb = spark.read.parquet(path)
    store = str(tmp_path / "ivf_store")
    q = emb.select("vec_id", sim.quantized(F.col("embedding")).alias("q"))
    SnapshotTable(store, ssim.INDEX_NAME, partition_by=("list_id",)).append(
        sim.ivf_assign(q.withColumn("n2", sim.qnorm2(F.col("q"))), None, 1).select(
            "vec_id", "q", "n2", F.element_at("ranked", 1).alias("list_id")
        )
    )
    frames = {
        "cosine_topk": sim.cosine_topk(emb),
        "cosine_topk_gemm": sim.cosine_topk_gemm(emb),
        "ann_topk": sim.ann_topk(emb),
        "ann_topk_multi": sim.ann_topk_multi(emb),
        "ivf_topk": sim.ivf_topk(emb),
        "ivf_pq_topk": sim.ivf_pq_topk(emb),
        "ivf_index_topk": ssim.ivf_index_topk(spark, store),
        "embedding_near_dups": sim.embedding_near_dups(emb),
        "semantic_dedup": sim.semantic_dedup(emb),
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    for name, df in frames.items():
        want = ANN_SCHEMAS[name]
        got = [f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields]
        assert got == want, name
        twin = getattr(sim, f"{name}_sql", None)
        if twin is not None:
            assert con.sql(twin()).columns == [c.split(":")[0] for c in want], name


def test_derive_k_lists_warns_when_clamped(caplog):
    """The K_LISTS_CAP ceiling is logged, not silent: one WARNING naming
    the corpus size and the clamped list count just past the cap, none
    at the cap itself. Driver arithmetic only."""
    import logging

    at_cap = sim.K_LISTS_CAP * sim.TARGET_LIST_SIZE
    over = (sim.K_LISTS_CAP + 1) * sim.TARGET_LIST_SIZE
    with caplog.at_level(logging.WARNING):
        assert sim.derive_k_lists(at_cap) == sim.K_LISTS_CAP
    assert not [r for r in caplog.records if r.levelno >= logging.WARNING]
    with caplog.at_level(logging.WARNING):
        assert sim.derive_k_lists(over) == sim.K_LISTS_CAP
    warnings = [r for r in caplog.records if r.levelno >= logging.WARNING]
    assert len(warnings) == 1
    msg = warnings[0].getMessage()
    assert str(over) in msg and str(sim.K_LISTS_CAP) in msg
