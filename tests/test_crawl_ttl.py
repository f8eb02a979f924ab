"""TTL / re-crawl golden tests (CrawlDecider.java:14,23-36 — seen
entries expire after 24h and URLs become re-crawlable;
WebPagesUpdaterBolt.java:70-92 — a re-fetched page is upserted, never
duplicated).

In the BSP loop the TTL unit is the super-step: ``ttl_iterations=2``
means a URL claimed at iteration i is claimable again at i+2 and its
seen-entry stops blocking rediscovery then too.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mklab_focused_crawler_spark.operators import crawl as crawl_mod
from mklab_focused_crawler_spark.operators.crawl import CrawlLoop
from mklab_focused_crawler_spark.sources.synthetic_web import (
    generate_pages,
    generate_robots,
    generate_seeds,
)


HTML = (
    "<html><head><title>T {0}</title></head><body>"
    "<p>alpha bravo charlie delta echo foxtrot golf hotel {0}</p>"
    "</body></html>"
)


def _two_page_web(spark):
    """A ↔ B two-page web: with TTL, the crawl never drains — each page
    is re-claimed every ttl iterations."""
    rows = [
        ("http://a.test/p/1", None, "text/html", HTML.format("a"),
         ["http://b.test/p/1"], 3, 1_704_067_200_000),
        ("http://b.test/p/1", None, "text/html", HTML.format("b"),
         ["http://a.test/p/1"], 7, 1_704_067_260_000),
    ]
    pages = spark.createDataFrame(
        rows,
        "url string, redirect_to string, mime string, html string, "
        "out_links array<string>, shares int, pub_ms long",
    )
    robots = spark.createDataFrame(
        [("a.test", [], 0), ("b.test", [], 0)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )
    seeds = spark.createDataFrame(
        [("http://a.test/p/1", 0)], "url string, rank long"
    )
    return pages, robots, seeds


# each seen-gate size regime, forced by shrinking the thresholds: the
# two-page web otherwise stays in the broadcast anti-join regime
_REGIMES = {
    "anti_join": {},
    "bloom": {"BROADCAST_ANTI_MAX_KEYS": -1},
    "cogroup": {"BROADCAST_ANTI_MAX_KEYS": -1, "BROADCAST_BLOOM_MAX_BYTES": 0},
}


@pytest.mark.parametrize("regime", list(_REGIMES))
def test_ttl_reclaim_updates_not_duplicates(spark, tmp_path, regime, monkeypatch):
    """A TTL-expired URL is re-claimed and its document row is updated
    in place (merge), not appended twice — in every seen-gate regime."""
    for name, value in _REGIMES[regime].items():
        monkeypatch.setattr(crawl_mod, name, value)
    pages, robots, seeds = _two_page_web(spark)
    loop = CrawlLoop(spark, str(tmp_path / regime), ttl_iterations=2)
    loop.init(seeds, pages.select("url", "shares", "pub_ms"))
    stats = loop.run(pages, robots, max_iterations=4)

    # the loop never drains under TTL: every iteration claims something
    assert [s["claimed"] for s in stats] == [1, 1, 1, 1]
    assert not any(s.get("done") for s in stats)

    docs = loop.documents.read(spark).collect()
    by_id = {}
    for r in docs:
        assert r["doc_id"] not in by_id, "duplicate doc row after re-crawl"
        by_id[r["doc_id"]] = r
    assert set(by_id) == {"http://a.test/p/1", "http://b.test/p/1"}
    # A claimed at iterations 0 and 2 → its surviving row is the re-crawl
    assert by_id["http://a.test/p/1"]["iteration"] == 2
    assert by_id["http://b.test/p/1"]["iteration"] == 3

    # the claim state records A's LATEST claim (iteration 2 — the
    # re-claim after TTL expiry; compaction keeps only the newest claim
    # per key, older history lives in the metrics lineage)
    claims = loop.claims.read(spark)
    a_hash = loop.frontier.read(spark).filter(
        F.col("url") == "http://a.test/p/1"
    ).select("url_hash").collect()[0][0]
    a_claims = [
        r["claimed_iter"] for r in claims.filter(F.col("url_hash") == a_hash).collect()
    ]
    folded = loop.frontier.read(spark).filter(
        (F.col("url_hash") == a_hash) & F.col("claimed_iter").isNotNull()
    )
    folded_iters = [r["claimed_iter"] for r in folded.collect()]
    assert 2 in set(a_claims) | set(folded_iters)
    # ...and the metrics lineage shows one claim in every iteration
    per_iter = {
        r["iteration"]: r["n"]
        for r in loop.metrics.read(spark)
        .filter(F.col("stage") == "claimed")
        .groupBy("iteration")
        .agg(F.sum("rows").alias("n"))
        .collect()
    }
    assert per_iter == {0: 1, 1: 1, 2: 1, 3: 1}

    # B was *not* re-scheduled while seen (first_seen_iter=1 blocks its
    # rediscovery at iteration 2 but not at 3+): frontier has exactly one
    # row per URL unless a true re-discovery happened after expiry
    fr = loop.frontier.read(spark)
    assert fr.count() == fr.select("url", "first_seen_iter").distinct().count()


def test_ttl_zero_without_flag_unchanged(spark, tmp_path):
    """Without ttl_iterations the same web drains: each URL fetched
    exactly once and the loop reports done."""
    pages, robots, seeds = _two_page_web(spark)
    loop = CrawlLoop(spark, str(tmp_path / "nottl"))
    loop.init(seeds, pages.select("url", "shares", "pub_ms"))
    stats = loop.run(pages, robots, max_iterations=6)
    assert stats[-1]["done"]
    docs = loop.documents.read(spark).collect()
    assert sorted(r["doc_id"] for r in docs) == [
        "http://a.test/p/1",
        "http://b.test/p/1",
    ]


def test_ttl_bloom_rebuilds_before_outgrowing_its_sizing(
    spark, tmp_path, monkeypatch
):
    """Under TTL a rebuild sizes the filter for the LIVE seen keys only,
    while every newly scheduled key is merged into it. Each probe of a
    crawl held in the driver-bloom regime must see a filter holding at
    most twice the keys it was built for; past that its false-positive
    rate climbs toward 1 and the gate silently stops pruning. Counted
    from outside the loop: keys handed to each build, and keys merged
    since."""
    monkeypatch.setattr(crawl_mod, "BROADCAST_ANTI_MAX_KEYS", -1)
    occ = {"built": None, "merged": 0}
    probes = []
    build, merge, probe = (
        crawl_mod.build_bloom,
        crawl_mod.merge_bloom_driver,
        crawl_mod.filter_unseen,
    )

    def counting_build(seen):
        occ.update(built=seen.count(), merged=0)
        return build(seen)

    def counting_merge(table, rows):
        occ["merged"] += rows.num_rows
        merge(table, rows)

    def recording_probe(cand, seen, bloom, *args, **kw):
        if bloom is not None:
            probes.append(dict(occ))
        return probe(cand, seen, bloom, *args, **kw)

    monkeypatch.setattr(crawl_mod, "build_bloom", counting_build)
    monkeypatch.setattr(crawl_mod, "merge_bloom_driver", counting_merge)
    monkeypatch.setattr(crawl_mod, "filter_unseen", recording_probe)

    pages = generate_pages(spark, 250).persist()
    loop = CrawlLoop(spark, str(tmp_path / "occ"), ttl_iterations=2)
    loop.init(generate_seeds(spark, 250, 10), pages.select("url", "shares", "pub_ms"))
    stats = loop.run(pages, generate_robots(spark), max_iterations=9)
    loop.close()
    pages.unpersist()

    assert len(probes) == len(stats) >= 5 and not any(s.get("done") for s in stats)
    assert all(p["built"] is not None for p in probes)
    held = [(p["built"] + p["merged"], p["built"]) for p in probes]
    assert all(h <= 2 * b for h, b in held), held
