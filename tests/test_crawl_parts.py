"""Unit tests: snapshot storage, synthetic web, bloom seen-set,
span extraction parity vs the independent reference extractor."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mklab_focused_crawler_spark.operators import seen as seen_mod
from mklab_focused_crawler_spark.operators.extraction import extract_articles
from mklab_focused_crawler_spark.sources.synthetic_web import (
    generate_pages,
    generate_robots,
    generate_seeds,
)
from mklab_focused_crawler_spark.storage import SnapshotTable
from tests.reference_extractor import extract as ref_extract


# --------------------------- storage ---------------------------------
def test_snapshot_table_commit_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "t")
    assert not t.exists()
    t.overwrite(spark.createDataFrame([(1,)], "a int"))
    t.append(spark.createDataFrame([(2,)], "a int"))
    assert t.current_snapshot() == 2
    assert sorted(r["a"] for r in t.read(spark).collect()) == [1, 2]
    assert [r["a"] for r in t.read(spark, snapshot=1).collect()] == [1]
    t.rollback_to(1)
    assert [r["a"] for r in t.read(spark).collect()] == [1]
    t2 = SnapshotTable(str(tmp_path), "t")  # fresh handle = resume
    assert t2.current_snapshot() == 1


def test_snapshot_merge_upsert(spark, tmp_path):
    """MERGE INTO semantics: matched updates, unmatched inserts,
    untouched rows survive, non-update columns keep target values."""
    t = SnapshotTable(str(tmp_path), "m")
    t.overwrite(
        spark.createDataFrame(
            [("u1", "old", 1), ("u2", "keep", 2)], "url string, text string, n int"
        )
    )
    updates = spark.createDataFrame(
        [("u1", "new", 10), ("u3", "ins", 30)], "url string, text string, n int"
    )
    t.merge(spark, updates, key="url", update_cols=["text"])
    got = {r["url"]: (r["text"], r["n"]) for r in t.read(spark).collect()}
    assert got == {
        "u1": ("new", 1),  # text updated, n kept (not in update_cols)
        "u2": ("keep", 2),  # untouched
        "u3": ("ins", None),  # inserted; non-update col null
    }
    # full-column upsert
    t.merge(spark, updates, key="url")
    got = {r["url"]: (r["text"], r["n"]) for r in t.read(spark).collect()}
    assert got["u1"] == ("new", 10) and got["u3"] == ("ins", 30)


def test_snapshot_partitioned_writes_prune(spark, tmp_path):
    """partition_by columns become hive partitions; a filter on them
    prunes directories at scan time (Iceberg bucket-transform stand-in)."""
    t = SnapshotTable(str(tmp_path), "p", partition_by=("bucket",))
    df = spark.range(1000).selectExpr(
        "id AS url_hash", "CAST(pmod(id, 8) AS INT) AS bucket"
    )
    t.overwrite(df)
    read = t.read(spark).filter("bucket = 3")
    assert read.count() == 125
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan
    # appends keep partitioning
    t.append(df.filter("bucket = 3"))
    assert t.read(spark).filter("bucket = 3").count() == 250


def test_bloom_incremental_merge_no_false_negatives(spark):
    """merge_bloom(build(half1), half2) must contain every key of both
    halves — the incremental maintenance path the crawl loop uses."""
    all_keys = spark.range(400).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    ).withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(8)).cast("int"))
    h1 = all_keys.limit(200)
    h2 = all_keys.subtract(h1)
    merged = seen_mod.merge_bloom(seen_mod.build_bloom(h1), h2)
    # probing the merged filter with every key must hit (bloom has no
    # false negatives); route through filter_unseen with an EMPTY exact
    # table: rows surviving as 'definite new' would be false negatives
    empty_seen = all_keys.limit(0)
    survivors = seen_mod.filter_unseen(all_keys, empty_seen, merged)
    # all 400 pass the exact anti-join (seen empty), but none may have
    # skipped the bloom as a definite miss — check via the broadcast path
    hits = seen_mod.filter_unseen(all_keys, all_keys, seen_mod.collect_bloom(merged))
    assert hits.count() == 0  # every key bloom-hits and is confirmed seen
    assert survivors.count() == 400


# --------------------------- synthetic web ---------------------------
def test_pages_deterministic(spark):
    a = generate_pages(spark, 100).orderBy("url").collect()
    b = generate_pages(spark, 100).orderBy("url").collect()
    assert a == b


def test_pages_shape(spark):
    rows = generate_pages(spark, 200).collect()
    assert len(rows) == 200
    by_url = {r["url"]: r for r in rows}
    urls = set(by_url)
    redirects = [r for r in rows if r["redirect_to"] is not None]
    assert redirects and all(r["redirect_to"] in urls for r in redirects)
    nonhtml = [r for r in rows if r["mime"] != "text/html"]
    assert nonhtml and all(r["html"] == "" for r in nonhtml)
    # skew: top host owns >20% of pages
    hosts = {}
    for r in rows:
        hosts[r["host_idx"]] = hosts.get(r["host_idx"], 0) + 1
    assert max(hosts.values()) > 40
    robots = generate_robots(spark).collect()
    assert any(r["disallow_prefixes"] for r in robots)
    seeds = generate_seeds(spark, 200, 10).collect()
    assert len(seeds) == 10 and all(s["url"] in urls for s in seeds)


def test_synthetic_fetch_parity(spark):
    """synthetic_fetch (fetch-cost-∝-claims transport) regenerates
    exactly the rows generate_pages materializes, and drops foreign /
    out-of-range URLs (the fetch-miss semantics of the join path)."""
    from mklab_focused_crawler_spark.sources.synthetic_web import synthetic_fetch

    n = 300
    web = {
        r["url"]: r
        for r in generate_pages(spark, n, min_blocks=3, mod_blocks=4).collect()
    }
    batch = spark.createDataFrame(
        [(u,) for u in web] + [
            ("http://other.test/page/5",),   # foreign scheme, index parses
            ("http://host0.test/page/999999",),  # index ≥ n_pages
            ("http://host0.test/nopage",),   # no index at all
        ],
        "expanded_url string",
    )
    got = synthetic_fetch(n, min_blocks=3, mod_blocks=4)(batch).collect()
    assert len(got) == len(web)
    for r in got:
        w = web[r["expanded_url"]]
        assert r["mime"] == w["mime"]
        assert r["html"] == w["html"]
        assert list(r["out_links"]) == list(w["out_links"])


# --------------------------- bloom seen-set --------------------------
N_BUCKETS = 8


def _seen_df(spark, hashes):
    return spark.createDataFrame(
        [(h, h % N_BUCKETS) for h in hashes], "url_hash long, bucket int"
    )


def test_bloom_no_false_negatives_and_exactness(spark):
    seen_hashes = list(range(0, 5000, 2))  # evens seen
    cand_hashes = list(range(1000, 6000))  # mix
    seen_df = _seen_df(spark, seen_hashes)
    bloom = seen_mod.build_bloom(seen_df)
    cands = _seen_df(spark, cand_hashes)
    got = sorted(
        r["url_hash"]
        for r in seen_mod.filter_unseen(cands, seen_df, bloom).collect()
    )
    want = sorted(h for h in cand_hashes if h not in set(seen_hashes))
    assert got == want  # bloom+confirm == exact semantics


def test_bloom_prunes(spark):
    seen_hashes = list(range(1000))
    seen_df = _seen_df(spark, seen_hashes)
    bloom = seen_mod.build_bloom(seen_df).collect()
    assert all(b["nbits"] >= len(seen_hashes) for b in bloom)
    # false-positive sanity: far-away candidates mostly pruned
    import numpy as np

    from mklab_focused_crawler_spark.operators.seen import _positions

    fp = 0
    for b in bloom:
        arr = np.frombuffer(b["bits"], dtype=np.uint8)
        probe = np.arange(10_000_000, 10_001_000, dtype=np.uint64)
        pos = _positions(probe, int(b["nbits"]))
        hit = (arr[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
        fp += int(hit.all(axis=1).sum())
    assert fp < 100  # « 1000 probes/bucket; 12 bits/key ⇒ fp ≈ 0.3%


@settings(max_examples=20, deadline=None)
@given(st.sets(st.integers(min_value=-(2**62), max_value=2**62), max_size=50))
def test_bloom_positions_no_false_negatives_property(hashes):
    import numpy as np

    from mklab_focused_crawler_spark.operators.seen import _build_one, _positions

    if not hashes:
        return
    arr_h = np.array(sorted(hashes), dtype=np.int64)
    nbits, bits = _build_one(arr_h)
    arr = np.frombuffer(bits, dtype=np.uint8)
    pos = _positions(arr_h.astype(np.uint64), nbits)
    hit = (arr[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
    assert hit.all()  # every inserted key must test positive


def test_merge_bloom_driver_matches_build_one():
    """The driver-side bloom merge over an Arrow key batch: merged into
    an empty table, each bucket's filter equals an independent
    ``_build_one`` of that bucket's keys; merging the same keys again
    sets no new bit. Keys span the whole int64 range, negative values
    included, as real xxhash64 url hashes do."""
    import numpy as np
    import pyarrow as pa

    from mklab_focused_crawler_spark.operators.seen import (
        _build_one,
        merge_bloom_driver,
    )

    rng = np.random.default_rng(7)
    keys = rng.integers(-(2**63), 2**63 - 1, 5000, dtype=np.int64)
    bks = rng.integers(0, 8, 5000)
    assert (keys < 0).any() and (keys > 0).any()
    tbl = pa.table(
        {"bucket": pa.array(bks, pa.int32()), "url_hash": pa.array(keys, pa.int64())}
    )
    table = {}
    merge_bloom_driver(table, tbl)
    assert sorted(table) == sorted(set(bks.tolist()))
    for bk, (nbits, arr) in table.items():
        want_nbits, want_bits = _build_one(keys[bks == bk])
        assert nbits == want_nbits
        assert arr.tobytes() == want_bits
    before = {bk: arr.copy() for bk, (_, arr) in table.items()}
    merge_bloom_driver(table, tbl)
    for bk, (_, arr) in table.items():
        assert np.array_equal(arr, before[bk])


# --------------------------- extraction ------------------------------
def test_extraction_matches_reference(spark):
    pages = generate_pages(spark, 120).filter(F.col("mime") == "text/html")
    rows = {r["url"]: r["html"] for r in pages.collect()}
    got = {
        r["doc_id"]: r
        for r in extract_articles(pages, "url", "html").collect()
    }
    assert set(got) == set(rows)
    checked_media = 0
    for url, html in rows.items():
        want = ref_extract(html)
        g = got[url]
        assert g["title"] == want["title"], url
        assert g["is_article"] == want["is_article"], url
        got_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in g["spans"]
        ]
        want_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in want["spans"]
        ]
        assert got_spans == want_spans, url  # the per-row invariant
        assert list(g["media_ids"]) == want["media_ids"], url
        checked_media += len(want["media_ids"])
    assert checked_media > 0  # fixture actually exercises media spans


def test_extraction_edge_cases(spark):
    cases = [
        ("empty", ""),
        ("no_blocks", "<html><body>just text no block tags at all here</body></html>"),
        ("only_nav", '<html><body><div><a href="/">a b c d e f</a></div></body></html>'),
        (
            "img_no_alt_no_title",
            "<html><body><p>one two three four five six "
            '<img src="http://x.test/a.jpg" width="300" height="300"></p></body></html>',
        ),
    ]
    df = spark.createDataFrame(cases, "url string, html string")
    got = {r["doc_id"]: r for r in extract_articles(df, "url", "html").collect()}
    for name, html in cases:
        want = ref_extract(html)
        g = got[name]
        got_spans = [(s["kind"], s["text"], s["media_ref"]) for s in g["spans"]]
        want_spans = [(s["kind"], s["text"], s["media_ref"]) for s in want["spans"]]
        assert got_spans == want_spans, name
    # img with no alt and no page title → dropped (alt-fallback rule)
    assert got["img_no_alt_no_title"]["media"] == 0


# ASCII per the documented divergence (Java \s/\b/\w are ASCII-only,
# Python's are Unicode-aware); structure is the adversarial part here:
# unclosed tags, nested anchors, mixed quotes, weird attr spacing.
_FRAG = st.sampled_from(
    [
        "<p>", "<div class='x'>", "<DIV>", "<br/>", "<li >", "</p>",
        "<a href='/x'>", "</a>", "<A HREF=\"y\">click here now</a>",
        "<script>var x = '<p>sneaky</p>';</script>",
        "<style>p { color: red }</style>",
        "<img src='http://t.co/a.jpg' width='300' height='300' alt='pic'>",
        "<img src=\"http://t.co/b.GIF\" width=250 height=250 alt=ok>",
        "<img width='300' height='300'>",
        "<img src='http://t.co/c.png' width='300' height='300' alt=''>",
        "<img src='http://t.co/d.png' width='100' height='900' alt='x'>",
        "one two three four five six seven",
        "w1 w2 w3 w4",
        "  \t\n  ", "&amp; &lt;", "<title>T I T L E</title>",
        "<notag", ">", "< p >", "text<with>angle</with>brackets",
    ]
)


@settings(max_examples=8, deadline=None)
@given(frags=st.lists(_FRAG, min_size=0, max_size=25))
def test_extraction_fuzz_parity(spark, frags):
    """The kernel must match the independent Python-re extractor on
    adversarial HTML (same per-row invariant as the golden test)."""
    html = "".join(frags)
    df = spark.createDataFrame([("d", html)], "url string, html string")
    want = ref_extract(html)
    g = extract_articles(df, "url", "html").collect()[0]
    assert g["title"] == want["title"]
    assert g["is_article"] == want["is_article"]
    got_spans = [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in g["spans"]
    ]
    want_spans = [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in want["spans"]
    ]
    assert got_spans == want_spans
    assert list(g["media_ids"]) == want["media_ids"]


def test_merge_if_absent_users(spark, tmp_path):
    """StreamUser second merge (MediaUpdaterBolt.java:120-126): media
    upserts, users insert-if-absent — existing user rows survive."""
    from mklab_focused_crawler_spark.operators.multimodal import (
        update_media_and_users,
    )

    media = SnapshotTable(str(tmp_path), "media")
    users = SnapshotTable(str(tmp_path), "users")
    b1 = spark.createDataFrame(
        [("m1", "http://a/1.jpg", 7, "alice"), ("m2", "http://a/2.jpg", 8, "bob")],
        "media_id string, url string, user_id long, username string",
    )
    update_media_and_users(spark, media, users, b1)
    # second batch: m1 re-crawled with a new url; user 7 renamed upstream
    # (must NOT overwrite), user 9 is new (must insert)
    b2 = spark.createDataFrame(
        [("m1", "http://a/1-v2.jpg", 7, "alice-renamed"), ("m3", "http://a/3.jpg", 9, "carol")],
        "media_id string, url string, user_id long, username string",
    )
    update_media_and_users(spark, media, users, b2)

    got_media = {r["media_id"]: r["url"] for r in media.read(spark).collect()}
    assert got_media == {
        "m1": "http://a/1-v2.jpg",  # upserted
        "m2": "http://a/2.jpg",
        "m3": "http://a/3.jpg",
    }
    got_users = {r["user_id"]: r["username"] for r in users.read(spark).collect()}
    assert got_users == {7: "alice", 8: "bob", 9: "carol"}  # alice kept


def test_partition_scoped_merge(spark, tmp_path):
    """merge() on a bucket-partitioned table rewrites ONLY touched
    partitions (replace_partitions / merge-on-read exclusion): untouched
    buckets keep their original files; results match full-merge
    semantics."""
    t = SnapshotTable(str(tmp_path), "ps", partition_by=("bucket",))
    base = spark.createDataFrame(
        [(k, k % 4, f"v{k}") for k in range(16)],
        "k int, bucket int, val string",
    )
    t.overwrite(base)
    updates = spark.createDataFrame(
        [(1, 1, "UPD"), (101, 1, "NEW")], "k int, bucket int, val string"
    )
    t.merge(spark, updates, key="k")
    m = t._manifest(t.current_snapshot())
    assert m["op"] == "replace_partitions"
    # the original file is retained with bucket 1 excluded (exclusion
    # values are canonically hive dir-name STRINGS — compared in string
    # space, never via IN-list type coercion)
    entries = [e for e in m["files"] if not isinstance(e, str)]
    assert entries and entries[0]["exclude"] == {"bucket": ["1"]}
    got = {r["k"]: r["val"] for r in t.read(spark).collect()}
    want = {k: f"v{k}" for k in range(16)}
    want[1] = "UPD"
    want[101] = "NEW"
    assert got == want
    # a second scoped merge on another bucket accumulates exclusions
    t.merge(
        spark,
        spark.createDataFrame([(2, 2, "UPD2")], "k int, bucket int, val string"),
        key="k",
    )
    got2 = {r["k"]: r["val"] for r in t.read(spark).collect()}
    want[2] = "UPD2"
    assert got2 == want
