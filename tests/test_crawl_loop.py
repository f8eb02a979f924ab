"""Golden end-to-end crawl: CrawlLoop vs the pure-Python simulator.

The five parity criteria from BASELINE.json exercised here: exact crawl
order (defined sort), exact URL-seen set, politeness quota honored,
robots honored, resume-from-snapshot equivalence.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mklab_focused_crawler_spark.operators.crawl import (
    DEFAULT_NOW_MS,
    CrawlLoop,
)
from mklab_focused_crawler_spark.sources.synthetic_web import (
    generate_pages,
    generate_robots,
    generate_seeds,
)

from tests.crawl_simulator import host_of, simulate

N_PAGES = 250
N_SEEDS = 10
MAX_ITERS = 5


def _setup(spark):
    pages = generate_pages(spark, N_PAGES).persist()
    robots = generate_robots(spark)
    seeds = generate_seeds(spark, N_PAGES, N_SEEDS)
    return pages, robots, seeds


def _simulate(spark, pages, robots, seeds, max_iters=MAX_ITERS):
    page_rows = [r.asDict() for r in pages.collect()]
    robot_rows = [r.asDict() for r in robots.collect()]
    seed_urls = [r["url"] for r in seeds.collect()]
    hash_rows = pages.select("url", F.xxhash64("url").alias("h")).collect()
    url_hash = {r["url"]: r["h"] for r in hash_rows}
    return simulate(
        page_rows, robot_rows, seed_urls, url_hash, DEFAULT_NOW_MS, max_iters
    )


def _run_loop(spark, root, pages, robots, seeds, iters=MAX_ITERS, start=0):
    loop = CrawlLoop(spark, str(root))
    if start == 0:
        loop.init(seeds, pages.select("url", "shares", "pub_ms"))
    return loop, loop.run(pages, robots, max_iterations=iters, start_iteration=start)


def test_crawl_order_and_seen_parity(spark, tmp_path):
    pages, robots, seeds = _setup(spark)
    sim = _simulate(spark, pages, robots, seeds)
    loop, stats = _run_loop(spark, tmp_path / "a", pages, robots, seeds)

    log = loop.crawl_log().collect()
    got_order = [(r["iteration"], r["doc_id"], r["source_url"], r["crawl_order"]) for r in log]
    want_order = sim["order"]
    assert got_order == want_order, (
        f"crawl order diverges at {next(i for i, (g, w) in enumerate(zip(got_order, want_order)) if g != w) if got_order != want_order and len(got_order) == len(want_order) else 'len'}: "
        f"{len(got_order)} vs {len(want_order)} entries"
    )

    got_seen = {
        r["canonical_url"] for r in loop.seen_df().select("canonical_url").collect()
    }
    assert got_seen == sim["seen"]

    # something actually happened
    assert sum(s["claimed"] for s in stats) > 30
    assert any(s.get("scheduled", 0) > 0 for s in stats)
    pages.unpersist()


def test_crawl_parity_with_incremental_bloom(spark, tmp_path, monkeypatch):
    """Force the beyond-broadcast cogroup regime (normally engaged past
    ~10^9 seen keys: filters too big to broadcast, incremental cogroup
    merge into the filter table) and assert identical crawl order +
    seen set."""
    from mklab_focused_crawler_spark.operators import crawl as crawl_mod

    monkeypatch.setattr(crawl_mod, "BROADCAST_ANTI_MAX_KEYS", -1)
    monkeypatch.setattr(crawl_mod, "BROADCAST_BLOOM_MAX_BYTES", 0)
    pages, robots, seeds = _setup(spark)
    sim = _simulate(spark, pages, robots, seeds, max_iters=3)
    loop, _ = _run_loop(spark, tmp_path / "inc", pages, robots, seeds, iters=3)
    log = loop.crawl_log().collect()
    got = [(r["iteration"], r["doc_id"], r["source_url"], r["crawl_order"]) for r in log]
    assert got == sim["order"]
    got_seen = {
        r["canonical_url"] for r in loop.seen_df().select("canonical_url").collect()
    }
    assert got_seen == sim["seen"]
    pages.unpersist()


def test_crawl_parity_with_broadcast_bloom(spark, tmp_path, monkeypatch):
    """Force the mid regime (seen keys outgrow the anti-join broadcast,
    bloom bits still broadcastable: driver-held filter + pandas-UDF
    probe + exact confirm) and assert identical crawl order + seen
    set."""
    from mklab_focused_crawler_spark.operators import crawl as crawl_mod

    monkeypatch.setattr(crawl_mod, "BROADCAST_ANTI_MAX_KEYS", -1)
    pages, robots, seeds = _setup(spark)
    sim = _simulate(spark, pages, robots, seeds, max_iters=3)
    loop, _ = _run_loop(spark, tmp_path / "bb", pages, robots, seeds, iters=3)
    # init and every iteration ran in the driver-bloom regime: the
    # filter lives on the driver, so no filter table was ever written
    assert not loop.filter_table.exists()
    log = loop.crawl_log().collect()
    got = [(r["iteration"], r["doc_id"], r["source_url"], r["crawl_order"]) for r in log]
    assert got == sim["order"]
    got_seen = {
        r["canonical_url"] for r in loop.seen_df().select("canonical_url").collect()
    }
    assert got_seen == sim["seen"]
    pages.unpersist()


def test_crawl_parity_with_synthetic_fetch(spark, tmp_path):
    """The scaling bench's transport path (fetch_fn = column-expression
    synthetic_fetch, no page store anywhere in the loop) produces the
    identical crawl order and seen set as the page-store join path /
    golden simulator."""
    from mklab_focused_crawler_spark.sources.synthetic_web import (
        generate_meta,
        generate_redirects,
        synthetic_fetch,
    )

    pages, robots, seeds = _setup(spark)
    sim = _simulate(spark, pages, robots, seeds)
    meta = generate_meta(spark, N_PAGES)
    redirect_map = generate_redirects(spark, N_PAGES)
    loop = CrawlLoop(
        spark, str(tmp_path / "synth"), fetch_fn=synthetic_fetch(N_PAGES)
    )
    loop.init(seeds, meta)
    loop.run(
        None,
        robots,
        max_iterations=MAX_ITERS,
        redirect_map=redirect_map,
        pages_meta=meta,
    )
    log = loop.crawl_log().collect()
    got = [(r["iteration"], r["doc_id"], r["source_url"], r["crawl_order"]) for r in log]
    assert got == sim["order"]
    got_seen = {
        r["canonical_url"] for r in loop.seen_df().select("canonical_url").collect()
    }
    assert got_seen == sim["seen"]
    pages.unpersist()


def test_politeness_and_robots(spark, tmp_path):
    pages, robots, seeds = _setup(spark)
    sim = _simulate(spark, pages, robots, seeds)
    robot_rows = {r["host"]: r.asDict() for r in robots.collect()}

    # per-(iteration, host) claim counts never exceed the host quota
    from tests.crawl_simulator import ITER_WINDOW_MS, MAX_PER_ROUTE

    counts: dict[tuple[int, str], int] = {}
    for it, u in sim["claims"]:
        counts[(it, host_of(u))] = counts.get((it, host_of(u)), 0) + 1
    for (it, h), c in counts.items():
        delay = robot_rows.get(h, {}).get("crawl_delay_ms", 0) or 0
        quota = min(MAX_PER_ROUTE, max(1, ITER_WINDOW_MS // max(delay, 1)))
        assert c <= quota, f"host {h} iter {it}: {c} > quota {quota}"

    # robots: no fetched doc under a disallowed prefix
    for it, doc, src, rank in sim["order"]:
        prefixes = robot_rows.get(host_of(src), {}).get("disallow_prefixes") or []
        path = src.split(".test", 1)[1]
        assert not any(path.startswith(p) for p in prefixes), src
    # the disallow rule actually bites somewhere in this web
    assert any((r["disallow_prefixes"] or []) for r in robot_rows.values())
    pages.unpersist()


def test_crawl_drains_to_reachable_set(spark, tmp_path):
    """Run until the frontier empties: every robots-allowed page
    reachable from the seeds is fetched exactly once (first-seen-wins),
    and the loop reports done. Reachability oracle = BFS over collected
    page rows honoring the same robots/mime/redirect rules."""
    pages, robots, seeds = _setup(spark)
    page_rows = {r["url"]: r.asDict() for r in pages.collect()}
    robot_rows = {r["host"]: r.asDict() for r in robots.collect()}
    seed_urls = [r["url"] for r in seeds.collect()]

    def allowed(u):
        pre = robot_rows.get(host_of(u), {}).get("disallow_prefixes") or []
        path = "/" + u.split("://", 1)[1].split("/", 1)[1]
        return not any(path.startswith(p) for p in pre)

    # BFS: a URL is *scheduled* if discovered; *fetched* if allowed and
    # its redirect target exists with text/html mime
    from collections import deque

    scheduled = set(seed_urls)
    fetched_docs = set()
    dq = deque(seed_urls)
    while dq:
        u = dq.popleft()
        if not allowed(u):
            continue
        final = u
        for _ in range(4):
            p = page_rows.get(final)
            if p is None or not p.get("redirect_to"):
                break
            final = p["redirect_to"]
        p = page_rows.get(final)
        if p is None or p["mime"] != "text/html":
            continue
        fetched_docs.add(final)
        for link in p["out_links"]:
            if link not in scheduled:
                scheduled.add(link)
                dq.append(link)

    loop, stats = _run_loop(spark, tmp_path / "drain", pages, robots, seeds, iters=100)
    assert stats[-1]["done"]
    log = loop.crawl_log().collect()
    # every source URL claimed at most once
    sources = [r["source_url"] for r in log]
    assert len(sources) == len(set(sources))
    # fetched doc set == BFS-reachable fetchable set
    assert {r["doc_id"] for r in log} == fetched_docs
    # seen set == everything ever scheduled
    got_seen = {
        r["canonical_url"] for r in loop.seen_df().select("canonical_url").collect()
    }
    assert got_seen == scheduled
    # per-partition lineage (derived from committed segment files)
    # reconciles with the metrics totals per table
    lin = loop.lineage().collect()
    assert {r["table"] for r in lin} >= {"documents", "frontier"}
    doc_rows_per_iter = {}
    for r in lin:
        if r["table"] == "documents":
            doc_rows_per_iter[r["iteration"]] = (
                doc_rows_per_iter.get(r["iteration"], 0) + r["rows"]
            )
    fetched_per_iter = {
        r["iteration"]: r["rows"]
        for r in loop.metrics.read(spark)
        .filter(F.col("stage") == "fetched")
        .collect()
    }
    mime_rej = {
        r["iteration"]: r["rows"]
        for r in loop.metrics.read(spark)
        .filter(F.col("stage") == "mime_rejected")
        .collect()
    }
    for it, n in doc_rows_per_iter.items():
        assert n == fetched_per_iter[it] - mime_rej[it]
    pages.unpersist()


def test_resume_from_snapshot(spark, tmp_path):
    pages, robots, seeds = _setup(spark)
    # uninterrupted run
    loop_a, _ = _run_loop(spark, tmp_path / "full", pages, robots, seeds, iters=4)
    # interrupted at iteration 2, resumed by a fresh CrawlLoop instance
    loop_b, _ = _run_loop(spark, tmp_path / "part", pages, robots, seeds, iters=2)
    loop_b2 = CrawlLoop(spark, str(tmp_path / "part"))
    assert loop_b2.completed_iterations() == 2
    loop_b2.run(pages, robots, max_iterations=2, start_iteration=2)

    a = [tuple(r) for r in loop_a.crawl_log().collect()]
    b = [tuple(r) for r in loop_b2.crawl_log().collect()]
    assert a == b
    sa = sorted(r["canonical_url"] for r in loop_a.seen_df().collect())
    sb = sorted(r["canonical_url"] for r in loop_b2.seen_df().collect())
    assert sa == sb
    pages.unpersist()


def test_crawl_parity_across_regime_transition(spark, tmp_path, monkeypatch):
    """Cross the anti-join -> driver-bloom boundary MID-RUN (the seen
    set outgrows BROADCAST_ANTI_MAX_KEYS between iterations, as it does
    on any real crawl that starts small): the driver bloom must be
    (re)built from the full frontier on first use, not just from keys
    appended after the switch — golden order + seen parity across the
    whole run pins that."""
    from mklab_focused_crawler_spark.operators import crawl as crawl_mod

    # seeds = 10 <= 40 -> anti regime at init; the frontier outgrows 40
    # within the first iterations -> bloom regime for the rest
    monkeypatch.setattr(crawl_mod, "BROADCAST_ANTI_MAX_KEYS", 40)
    pages, robots, seeds = _setup(spark)
    sim = _simulate(spark, pages, robots, seeds)
    loop, stats = _run_loop(spark, tmp_path / "trans", pages, robots, seeds)
    # the boundary was actually crossed (otherwise this test is vacuous)
    assert loop._n_seen > 40 >= N_SEEDS
    log = loop.crawl_log().collect()
    got = [(r["iteration"], r["doc_id"], r["source_url"], r["crawl_order"]) for r in log]
    assert got == sim["order"]
    got_seen = {
        r["canonical_url"] for r in loop.seen_df().select("canonical_url").collect()
    }
    assert got_seen == sim["seen"]
    pages.unpersist()
