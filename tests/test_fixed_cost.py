"""The crawl super-step's fixed driver cost: what does not depend on the
claimed batch is paid once per session, not once per iteration.

- the per-iteration job budget and codegen budget of a steady-state
  iteration (no schema-inference job, no large generated class
  recompiled because a per-iteration literal sits inside it);
- SnapshotTable's schema memo (reads stop re-inferring the schema, and
  every commit that changes the schema is seen);
- the once-per-session expression cache (functions/exprcache.py).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from mklab_focused_crawler_spark.functions import exprcache
from mklab_focused_crawler_spark.operators import crawl, extraction
from mklab_focused_crawler_spark.operators.crawl import (
    BROADCAST_ANTI_MAX_KEYS,
    CrawlLoop,
)
from mklab_focused_crawler_spark.operators.extraction import extract_articles_native
from mklab_focused_crawler_spark.sources.synthetic_web import (
    generate_meta,
    generate_pages,
    generate_redirects,
    generate_robots,
    generate_seeds,
    synthetic_fetch,
)
from mklab_focused_crawler_spark.storage.snapshot import SnapshotTable

MAX_JOBS_PER_ITERATION = 7
MAX_RECOMPILED_SOURCE_BYTES = 20_000


def _job_ids(sc) -> set[int]:
    # the status tracker is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _untagged_jobs(sc, job_ids) -> list[str]:
    """Jobs that ran outside any SQL execution. Every DataFrame action
    (write, collect, broadcast build) carries its execution's job tag;
    the footer-reading job of a parquet read without a schema runs
    during analysis, before any execution exists."""
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sorted(job_ids):
        job = store.job(jid)
        if "execution-root-id" not in job.jobTags().mkString(","):
            out.append(f"{jid}: {job.name()}")
    return out


def _source_sizes(jvm) -> Counter:
    metric = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE()
    return Counter(metric.getSnapshot().getValues())


def test_steady_state_iteration_fixed_cost_budget(spark, tmp_path, monkeypatch):
    """From the third iteration on (iteration 0 compiles the plans,
    iteration 1 the tombstone path) an iteration allocates at most
    MAX_JOBS_PER_ITERATION jobs, none of them a schema-inference job,
    and compiles no generated class larger than 20 KB of source. The
    tombstone anti-join broadcasts up to BROADCAST_ANTI_MAX_KEYS
    tombstones and shuffle-hashes above."""
    n_pages, n_hosts = 2000, 20
    sc = spark.sparkContext
    robots = generate_robots(spark, n_hosts)
    meta = generate_meta(spark, n_pages, n_hosts)
    redirect_map = generate_redirects(spark, n_pages, n_hosts)
    loop = CrawlLoop(
        spark, str(tmp_path / "crawl"), fetch_fn=synthetic_fetch(n_pages, n_hosts)
    )
    loop.init(generate_seeds(spark, n_pages, 40, n_hosts), meta)

    def step(it: int) -> dict:
        return loop.run(
            None,
            robots,
            max_iterations=1,
            start_iteration=it,
            redirect_map=redirect_map,
            pages_meta=meta,
        )[0]

    for it in range(2):
        assert not step(it)["done"]
    for it in range(2, 5):
        assert loop._n_seen <= BROADCAST_ANTI_MAX_KEYS  # anti-join regime
        jobs0, sizes0 = _job_ids(sc), _source_sizes(sc._jvm)
        s = step(it)
        jobs = _job_ids(sc) - jobs0
        recompiled = sorted((_source_sizes(sc._jvm) - sizes0).elements())
        assert not s["done"] and s["claimed"] > 0
        assert len(jobs) <= MAX_JOBS_PER_ITERATION, (it, sorted(jobs))
        assert not _untagged_jobs(sc, jobs), (it, _untagged_jobs(sc, jobs))
        assert all(n <= MAX_RECOMPILED_SOURCE_BYTES for n in recompiled), (
            it,
            recompiled,
        )

    def tombstone_join() -> str:
        plan = loop.active_frontier(5)._jdf.queryExecution().executedPlan().toString()
        return next(l for l in plan.splitlines() if "LeftAnti" in l)

    assert "BroadcastHashJoin" in tombstone_join()
    monkeypatch.setattr(crawl, "BROADCAST_ANTI_MAX_KEYS", loop._n_tombs - 1)
    assert "ShuffledHashJoin" in tombstone_join()
    loop.close()


def test_snapshot_schema_memo_follows_commits(spark, tmp_path):
    sc = spark.sparkContext
    t = SnapshotTable(str(tmp_path), "t")
    t.overwrite(spark.createDataFrame([(1, "a")], "a int, b string"))
    assert t.read(spark).columns == ["a", "b"]  # inferred once, remembered
    snap = t.append(spark.createDataFrame([(2, "b")], "a int, b string"))

    # the handle's own same-schema append keeps the memo: no footer job
    jobs0 = _job_ids(sc)
    df = t.read(spark)
    appended = t.read_appended(spark, snap)
    assert _job_ids(sc) == jobs0
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]
    assert [tuple(r) for r in appended.collect()] == [(2, "b")]

    # overwrite with other columns: the next read sees the new schema
    t.overwrite(spark.createDataFrame([(7, 1.5)], "x long, y double"))
    df = t.read(spark)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("x", "bigint"),
        ("y", "double"),
    ]
    assert [tuple(r) for r in df.collect()] == [(7, 1.5)]

    # rollback to the two-column (a, b) snapshot
    t.rollback_to(snap)
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [(1, "a"), (2, "b")]

    # an append in another column order drops the memo; the appended
    # rows read back under the table's schema (columns match by name)
    t.overwrite(spark.createDataFrame([(3, "c")], "a int, b string"))
    t.read(spark)
    snap = t.append(spark.createDataFrame([("d", 4)], "b string, a int"))
    assert t._schema is None
    got = t.read_appended(spark, snap).collect()
    assert [r.asDict() for r in got] == [{"a": 4, "b": "d"}]

    # a fresh handle (resume) infers for itself, and a commit by another
    # handle is seen by the first one
    t2 = SnapshotTable(str(tmp_path), "t")
    assert t2.read(spark).count() == 2
    t2.overwrite(spark.createDataFrame([("z",)], "c string"))
    assert t.read(spark).columns == ["c"]


def _html_frame(spark, ids):
    pages = generate_pages(spark, 30).filter(F.col("mime") == "text/html")
    return pages.filter(F.col("url").rlike(ids)).select("url", "html")


def test_expression_cache_self_union_and_rebuild(spark, monkeypatch):
    """Cached trees are un-aliased, so two outputs built from them never
    share an output attribute: a self-union of the kernel over two
    inputs equals the two outputs computed alone."""
    a = extract_articles_native(_html_frame(spark, r"/page/[0-9]$"))
    b = extract_articles_native(_html_frame(spark, r"/page/[0-9]{2}$"))
    alone_a, alone_b = a.collect(), b.collect()
    assert alone_a and alone_b
    union = a.unionByName(b).collect()
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(union, key=key) == sorted(alone_a + alone_b, key=key)

    # one tree per session: the same Column objects come back ...
    k1 = extraction._native_kernel("html")
    assert extraction._native_kernel("html") is k1
    # ... until the SparkContext changes, which drops every entry
    monkeypatch.setattr(exprcache, "_context_key", lambda: object())
    k2 = extraction._native_kernel("html")
    assert k2 is not k1
    monkeypatch.undo()
    assert extraction._native_kernel("html") is not k2
