"""Fixed driver cost: what does not depend on the claimed batch (crawl
super-step) or on the call (corpus query) is paid once per session.

- the per-iteration job budget and codegen budget of a steady-state
  iteration (no schema-inference job, no large generated class
  recompiled because a per-iteration literal sits inside it);
- SnapshotTable's schema memo (reads stop re-inferring the schema, and
  every commit that changes the schema is seen);
- the once-per-session expression cache (functions/exprcache.py);
- ``load_table``'s scan memo (a warm corpus query builder starts no
  Spark job), and media_pipeline's one documents scan;
- a Python stage pays for its kernel, not for re-parsing every zip
  archive on the worker path each task (pydaemon.py), and an Arrow
  kernel's output is evaluated once per query (semantic_dedup and
  ivf_topk).
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry

from mklab_focused_crawler_spark import pydaemon, session
from mklab_focused_crawler_spark.functions import exprcache
from mklab_focused_crawler_spark.operators import crawl, extraction
from mklab_focused_crawler_spark.operators import similarity as sim
from mklab_focused_crawler_spark.operators.multimodal import (
    _fake_decode,
    media_pipeline,
)
from mklab_focused_crawler_spark.operators.spans import build_spans
from mklab_focused_crawler_spark.operators.crawl import (
    BROADCAST_ANTI_MAX_KEYS,
    CrawlLoop,
)
from mklab_focused_crawler_spark.operators.extraction import extract_articles
from mklab_focused_crawler_spark.sources.synthetic_web import (
    generate_meta,
    generate_pages,
    generate_redirects,
    generate_robots,
    generate_seeds,
    synthetic_fetch,
)
from mklab_focused_crawler_spark.sources.tables import load_table
from mklab_focused_crawler_spark.storage.snapshot import SnapshotTable
from tests.conftest import SF01_DIR

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
    a = extract_articles(_html_frame(spark, r"/page/[0-9]$"))
    b = extract_articles(_html_frame(spark, r"/page/[0-9]{2}$"))
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


def test_load_table_schema_memo_follows_rewrites(spark, tmp_path):
    """A second load of the same file starts no Spark job; a file
    rewritten with another schema, and a directory that gains a part
    file, are inferred afresh."""
    sc = spark.sparkContext
    sf = str(tmp_path)
    path = os.path.join(sf, "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, sf, "t").count() == 2
    jobs0 = _job_ids(sc)
    df = load_table(spark, sf, "t")
    assert _job_ids(sc) == jobs0  # remembered schema: no footer job
    assert df.columns == ["a"]

    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    df = load_table(spark, sf, "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y"), (3, "z")]

    d = os.path.join(sf, "d.parquet")
    spark.createDataFrame([(1,)], "a long").coalesce(1).write.parquet(d)
    assert load_table(spark, sf, "d").count() == 1
    pq.write_table(pa.table({"a": [2, 3]}), os.path.join(d, "part-99999.parquet"))
    jobs0 = _job_ids(sc)
    df = load_table(spark, sf, "d")
    assert _untagged_jobs(sc, _job_ids(sc) - jobs0)  # inferred afresh
    assert df.count() == 3
    jobs0 = _job_ids(sc)
    load_table(spark, sf, "d")
    assert _job_ids(sc) == jobs0


@pytest.mark.parametrize(
    "name",
    ["semantic_dedup", "rolling_top_events", "top_terms_per_source", "media_pipeline"],
)
def test_warm_corpus_query_builder_starts_no_job(spark, name):
    """Once a query has been built in this session (its scan schema and
    any per-corpus artifact remembered), building it again starts no
    Spark job. cosine_topk_gemm is left out: it fetches its probe
    chunks while building, by design."""
    q = entry.queries()[name]
    q(spark, SF01_DIR)
    jobs0 = _job_ids(spark.sparkContext)
    q(spark, SF01_DIR)
    assert _job_ids(spark.sparkContext) == jobs0


def test_media_pipeline_reads_documents_once(spark):
    """The decode kernel carries doc_id through: one documents scan,
    one Python stage and no join back to the media rows. The spans are
    built once per document (no inferred explode filter pushed below
    build_spans' projection)."""
    df = entry.queries()["media_pipeline"](spark, SF01_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation ") == 1, plan
    assert plan.count("split(") == 1, plan
    assert plan.count("MapInPandas") == 1, plan
    assert "Join" not in plan, plan


def test_media_pipeline_counts_only_its_own_items(spark):
    """Two docs whose media spans carry the same media_ref each count
    only their own item (a join back on media_ref credits each doc
    with the other's)."""
    import hashlib

    def passes(ref):
        w, h, _, _ = _fake_decode(hashlib.md5(ref.encode()).digest() * 4, "image")
        return w >= 200 and h >= 200 and w * h >= 40_000

    ref = next(r for r in (f"Web#{i}" for i in range(100)) if passes(r))
    span = ("media", "", ref, 0)
    spans = spark.createDataFrame(
        [("d1", [span], "en", "s"), ("d2", [span], "en", "s")],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, lang string, source string",
    )
    got = {r["doc_id"]: r["n_media"] for r in media_pipeline(spans).collect()}
    assert got == {"d1": 1, "d2": 1}


def test_build_spans_self_union_and_self_join(spark):
    """build_spans' trees are cached per session: two outputs built from
    them still have their own attributes, so a self-union and a
    self-join return the rows each output gives alone."""
    docs = load_table(spark, SF01_DIR, "documents")
    a = build_spans(docs.filter(F.col("doc_id") % 2 == 0))
    b = build_spans(docs.filter(F.col("doc_id") % 2 == 1))
    alone_a, alone_b = a.collect(), b.collect()
    assert alone_a and alone_b
    key = lambda r: r["doc_id"]  # noqa: E731
    union = a.unionByName(b).collect()
    assert sorted(union, key=key) == sorted(alone_a + alone_b, key=key)

    whole = build_spans(docs)
    other = build_spans(docs).select("doc_id", F.col("spans").alias("spans2"))
    joined = whole.join(other, "doc_id").collect()
    assert len(joined) == len(alone_a) + len(alone_b)
    assert all(r["spans"] == r["spans2"] for r in joined)
    assert sorted((r["doc_id"], r["spans"]) for r in joined) == sorted(
        (r["doc_id"], r["spans"]) for r in alone_a + alone_b
    )


def _write_module_zip(archive, module: str, value: int) -> None:
    # a rewrite, as a redeploy does it: a new file moved over the old one
    tmp = f"{archive}.next"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{module}.py", f"VALUE = {value}\n")
    os.replace(tmp, archive)


def test_zip_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    """With pydaemon's patch, invalidating an unchanged archive reads
    nothing; a rewritten archive is re-read, and a module only the new
    archive holds becomes importable."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )  # restored after the test
    pydaemon.install()
    pydaemon.install()  # idempotent: still one wrapper
    archive = str(tmp_path / "shipped.zip")
    tag = uuid.uuid4().hex[:8]
    old_mod, new_mod = f"zipped_old_{tag}", f"zipped_new_{tag}"
    _write_module_zip(archive, old_mod, 1)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport,
        "_read_directory",
        lambda path: reads.append(path) or read_directory(path),
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(old_mod).VALUE == 1
        importlib.invalidate_caches()  # records the archive's key
        n = reads.count(archive)
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads.count(archive) == n  # unchanged: not re-read

        _write_module_zip(archive, new_mod, 2)
        importlib.invalidate_caches()
        assert reads.count(archive) == n + 1  # rewritten: re-read once
        assert importlib.import_module(new_mod).VALUE == 2
        importlib.invalidate_caches()
        assert reads.count(archive) == n + 1
    finally:
        sys.modules.pop(old_mod, None)
        sys.modules.pop(new_mod, None)
        sys.path_importer_cache.pop(archive, None)


def test_pyfile_shipped_to_warm_workers_is_importable(spark, tmp_path):
    """The contract invalidate_caches exists for: a module shipped with
    addPyFile (as a zip or as a .py) after the Python workers are warm
    is importable inside the next mapInPandas task — here on workers
    forked from pydaemon, with its patch live."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == session.PYDAEMON_MODULE

    def probe(batches):
        import zipimport

        method = zipimport.zipimporter.invalidate_caches
        patched = getattr(method, "_reads_on_change", False)
        for pdf in batches:
            yield pdf.assign(patched=patched)

    warm = spark.range(0, 64, 1, 8).mapInPandas(probe, "id long, patched boolean")
    assert all(r.patched for r in warm.collect())

    tag = uuid.uuid4().hex[:8]
    zmod, pmod = f"shipped_zip_{tag}", f"shipped_py_{tag}"
    archive = str(tmp_path / f"{zmod}.zip")
    _write_module_zip(archive, zmod, 7)
    (tmp_path / f"{pmod}.py").write_text("VALUE = 11\n")
    sc.addPyFile(archive)
    sc.addPyFile(str(tmp_path / f"{pmod}.py"))

    def use(batches):
        import importlib

        value = sum(importlib.import_module(m).VALUE for m in (zmod, pmod))
        for pdf in batches:
            yield pdf.assign(v=value)

    got = spark.range(0, 64, 1, 8).mapInPandas(use, "id long, v long").collect()
    assert len(got) == 64 and {r.v for r in got} == {18}


@pytest.mark.parametrize(
    "op", ["semantic_dedup", "ivf_topk", "ivf_topk_trained"]
)
def test_ivf_kernel_runs_once_per_query(spark, op):
    """One exchange sits directly above the assignment kernel and both
    join sides read it: the executed (final adaptive) plan holds exactly
    one MapInPandas, the other side a reused exchange."""
    emb = spark.read.parquet(f"{SF01_DIR}/embeddings.parquet")
    if op == "semantic_dedup":
        df, want = sim.semantic_dedup(emb), emb.count()
    else:
        cents = sim.train_ivf_codebook_df(emb) if op == "ivf_topk_trained" else None
        n_probes = emb.filter(F.col("vec_id") % sim.PROBE_MOD == 0).count()
        df, want = sim.ivf_topk(emb, centroids=cents), n_probes * sim.TOP_K
    assert df.count() == want
    df.collect()
    adaptive = df._jdf.queryExecution().executedPlan()
    assert "isFinalPlan=true" in adaptive.toString()
    final = adaptive.executedPlan().toString()
    assert final.count("MapInPandas") == 1, final
    assert "ReusedExchange" in final, final


def test_pydaemon_module_only_where_workers_import_the_package(tmp_path):
    """The daemon module is set only for a local master whose daemon
    starts with the package root on its path (cwd or PYTHONPATH), and
    never when the package itself came from an archive."""
    root = session.PACKAGE_ROOT
    other = str(tmp_path)
    mod = session.PYDAEMON_MODULE
    assert root is not None
    assert session.pydaemon_module("local[8]", root, "") == mod
    both = os.pathsep.join([other, root])
    assert session.pydaemon_module("local", other, both) == mod
    assert session.pydaemon_module("local[*]", other, "") is None
    assert session.pydaemon_module("local[4]", other, other) is None
    rel = os.path.relpath(root, other)  # relative entries resolve against cwd
    assert session.pydaemon_module("local[4]", other, rel) == mod
    assert session.pydaemon_module("local[4]", os.path.join(other, "sub"), rel) is None
    for master in ("local-cluster[2,1,1024]", "yarn", "spark://host:7077"):
        assert session.pydaemon_module(master, root, root) is None
    assert session.pydaemon_module("local[8]", root, root, package_root=None) is None


def test_stock_daemon_branch_runs_arrow_kernels(tmp_path):
    """A session whose workers cannot import the package (cwd elsewhere,
    no PYTHONPATH) keeps the stock daemon, and Arrow kernels run."""
    script = tmp_path / "stock_daemon.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {session.PACKAGE_ROOT!r})
            from mklab_focused_crawler_spark.session import get_spark

            spark = get_spark("stock_daemon", master="local[2]", shuffle_partitions=2)
            conf = spark.sparkContext.getConf()
            assert conf.get("spark.python.daemon.module") is None

            def double(batches):
                for pdf in batches:
                    yield pdf.assign(v=pdf["id"] * 2)

            df = spark.range(0, 10, 1, 2).mapInPandas(double, "id long, v long")
            rows = df.collect()
            assert sorted(r.v for r in rows) == list(range(0, 20, 2)), rows
            spark.stop()
            print("OK")
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "OK"
