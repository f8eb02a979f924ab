"""spark-submit job entrypoint: run a crawl as a cluster job.

The north-star deployment shape is ``spark-submit --py-files
dist/mklab_focused_crawler_spark.zip crawl_job.py ...`` — this module
is the driver logic behind that thin repo-root script, so the same
command line works as a bare ``python -m mklab_focused_crawler_spark.cli``
in local mode and as a submitted job on a multi-executor cluster
(reference analog: the Storm topology submit of
``FocusedCrawlTopology``; SURVEY §2.1 — one topology jar + a config,
here one zip + argv).

Two fetch modes:

- **page-store mode** (``--pages``): fetch is the politeness-bounded
  claim-batch join against a parquet/Iceberg page store (columns
  ``url, html, mime, redirect_to, shares, pub_ms``) — batch
  re-processing of an already-materialized web. ``--pages-table``
  names a catalog table instead; when it is bucketed on url the join
  is storage-partitioned (only a catalog table carries bucket
  metadata).
- **synthetic mode** (``--synthetic-pages``): the deterministic
  generated web with column-expression fetch (cost ∝ claimed URLs) —
  the scaling-protocol workload, usable as a smoke/benchmark job on
  any cluster with no input data at all.

Runs are resumable: the frontier / claims / documents / metrics
snapshot tables live under ``--root``; ``--resume`` continues a
partially-completed crawl from its committed iteration count (same
contract as tests/test_crawl_loop.py::test_resume_from_snapshot).

Session handling: under spark-submit the JVM gateway already exists
(PYSPARK_GATEWAY_PORT is set) and the submitted ``--master``/conf must
win, so the builder attaches without overriding; bare-python runs fall
back to the local get_spark defaults.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import uuid


def _session(master: str | None):
    from pyspark.sql import SparkSession

    from .session import get_spark

    if master:
        return get_spark("crawl-job", master=master)
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        # spark-submit launched this driver: inherit ITS master/conf
        return SparkSession.builder.appName("crawl-job").getOrCreate()
    return get_spark("crawl-job")


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mklab_focused_crawler_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="run (or resume) a crawl")
    c.add_argument("--root", required=True, help="snapshot-table store dir")
    c.add_argument("--iterations", type=int, default=4)
    c.add_argument("--resume", action="store_true")
    c.add_argument("--master", default=None)
    c.add_argument("--window-ms", type=int, default=1000)
    c.add_argument("--ttl-iterations", type=int, default=None)
    # page-store mode
    c.add_argument("--pages", default=None, help="page-store parquet path")
    c.add_argument(
        "--pages-table",
        default=None,
        help="page-store CATALOG table name (a table bucketed on url gets "
        "the storage-partitioned fetch join)",
    )
    c.add_argument("--robots", default=None, help="robots parquet path")
    c.add_argument("--seeds", default=None, help="seeds parquet path")
    # synthetic mode
    c.add_argument("--synthetic-pages", type=int, default=None)
    c.add_argument("--hosts", type=int, default=100)
    c.add_argument("--seed-count", type=int, default=50)

    ln = sub.add_parser(
        "lineage", help="print a crawl's per-partition lineage as JSON lines"
    )
    ln.add_argument("--root", required=True)
    ln.add_argument("--master", default=None)

    st = sub.add_parser(
        "stream",
        help="drain a parquet directory stream into an incremental store "
        "(availableNow trigger: processes files committed since the "
        "checkpoint, then exits — re-run to ingest more)",
    )
    st.add_argument(
        "--op",
        required=True,
        choices=["lsh", "clusters", "vocab", "quota", "pack", "ivf"],
    )
    st.add_argument("--in", dest="in_dir", required=True, help="parquet dir")
    st.add_argument("--store", required=True, help="incremental store root")
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--compact-every", type=int, default=None)
    st.add_argument(
        "--key-buckets",
        type=int,
        default=None,
        help="band/shingle store partition fan-out for the lsh/clusters "
        "ops (default: the store's committed value, else derived from "
        "the first batch's band volume — see streaming.dedup."
        "derive_key_buckets)",
    )
    st.add_argument(
        "--bucket-cap",
        type=int,
        default=None,
        help="hot-bucket occupancy cap for the lsh/clusters ops "
        "(default: operators.dedup.LSH_BUCKET_CAP)",
    )
    st.add_argument("--master", default=None)

    pl = sub.add_parser(
        "pipeline",
        help="run the composed training-data pipeline (line/substring "
        "dedup → quality → decontaminate → PII → near-dup → quota → mix "
        "→ shard → pack) over a documents parquet and write the packed "
        "chunk map",
    )
    pl.add_argument(
        "--in", dest="in_path", required=True,
        help="documents parquet (doc_id, source, text)",
    )
    pl.add_argument(
        "--out", required=True, help="output dir for the chunk-map parquet"
    )
    pl.add_argument(
        "--workdir",
        default=None,
        help="intermediate-table dir (default: <out>_stages, beside --out) "
        "— the text chain commits clean/prov tables here (the lineage "
        "cut); it must not lie inside --out, which is overwritten",
    )
    pl.add_argument("--master", default=None)
    return p


_CLI_META = "cli_meta.json"
# the layout/semantics-critical loop config a store records at creation.
# Only these keys are read back: stores written by older versions also
# record knobs that no longer exist (the seen-filter choice)
_STORE_KEYS = ("window_ms", "ttl_iterations")


def _store_meta_path(root: str) -> str:
    return os.path.join(root, _CLI_META)


def _stored_config(root: str) -> dict:
    if not os.path.exists(_store_meta_path(root)):
        return {}
    with open(_store_meta_path(root)) as f:
        meta = json.load(f)
    return {k: meta[k] for k in _STORE_KEYS if k in meta}


def _run_crawl(args) -> dict:
    # ---- pure-argv validation BEFORE the session: a bad command line
    # must not pay JVM startup (or cluster allocation under spark-submit)
    synth = args.synthetic_pages is not None
    page_mode = args.pages is not None or args.pages_table is not None
    if synth == page_mode:
        raise SystemExit(
            "exactly one of --pages/--pages-table or --synthetic-pages required"
        )
    if args.pages and args.pages_table:
        raise SystemExit("--pages and --pages-table are mutually exclusive")
    if page_mode and not args.robots:
        raise SystemExit("--pages mode needs --robots")
    if page_mode and not (args.seeds or args.resume):
        raise SystemExit("--pages mode needs --seeds (or --resume)")
    if args.resume and not os.path.exists(args.root):
        raise SystemExit(f"--resume: no crawl store at {args.root}")

    loop_kw = dict(window_ms=args.window_ms, ttl_iterations=args.ttl_iterations)
    if args.resume:
        # the store's layout (TTL → doc_bucket-partitioned documents)
        # and gate semantics are decided at creation — a resume with
        # different flags would append a mismatched layout or change
        # crawl semantics mid-run, so the recorded config wins
        loop_kw.update(_stored_config(args.root))

    from .operators.crawl import CrawlLoop

    spark = _session(args.master)
    if synth:
        from .sources.synthetic_web import (
            generate_meta,
            generate_redirects,
            generate_robots,
            generate_seeds,
            synthetic_fetch,
        )

        n, h = args.synthetic_pages, args.hosts
        robots = generate_robots(spark, h)
        seeds = generate_seeds(spark, n, args.seed_count, h)
        redirect_map = generate_redirects(spark, n, h)
        meta = generate_meta(spark, n, h)
        pages = None
        loop = CrawlLoop(
            spark, args.root, fetch_fn=synthetic_fetch(n, h), **loop_kw
        )
        run_kw = dict(redirect_map=redirect_map, pages_meta=meta)
    else:
        pages = (
            spark.table(args.pages_table)
            if args.pages_table
            else spark.read.parquet(args.pages)
        )
        robots = spark.read.parquet(args.robots)
        seeds = spark.read.parquet(args.seeds) if args.seeds else None
        meta = pages.select("url", "shares", "pub_ms")
        loop = CrawlLoop(spark, args.root, **loop_kw)
        run_kw = {}

    start = 0
    if args.resume:
        if not loop.frontier.exists():
            raise SystemExit(f"--resume: no crawl store at {args.root}")
        start = loop.completed_iterations()
    else:
        loop.init(seeds, meta)
        # record the layout/semantics-critical config so later --resume
        # and lineage reconstruct the loop the store was created with
        with open(_store_meta_path(args.root), "w") as f:
            json.dump({k: loop_kw[k] for k in _STORE_KEYS}, f)
    stats = loop.run(
        pages,
        robots,
        max_iterations=args.iterations,
        start_iteration=start,
        **run_kw,
    )
    loop.close()
    urls = sum(s.get("claimed", 0) + s.get("scheduled", 0) for s in stats)
    return {
        "mode": "synthetic" if synth else "page-store",
        "root": args.root,
        "start_iteration": start,
        "iterations": [{k: v for k, v in s.items() if k != "done"} for s in stats],
        "urls": urls,
        "completed_iterations": loop.completed_iterations(),
    }


# op -> (file-stream schema, runner import path); every runner shares
# the (stream, store_root, checkpoint_dir, ..., compact_every) shape
# and the availableNow drain-then-exit trigger
_STREAM_OPS = {
    "lsh": ("doc_id long, text string", "dedup", "run_streaming_lsh_dedup"),
    "clusters": (
        "doc_id long, text string",
        "dedup",
        "run_streaming_duplicate_clusters",
    ),
    "vocab": ("doc_id long, text string", "vocab", "run_streaming_vocab_ingest"),
    "quota": (
        "doc_id long, source string",
        "quota",
        "run_streaming_domain_quota",
    ),
    "pack": (
        "doc_id long, source string, text string",
        "packing",
        "run_streaming_sequence_pack",
    ),
    "ivf": (
        "vec_id long, embedding array<float>",
        "similarity",
        "run_streaming_ivf_ingest",
    ),
}


def _run_stream(args) -> dict:
    import importlib

    schema, mod_name, fn_name = _STREAM_OPS[args.op]
    mod = importlib.import_module(f".streaming.{mod_name}", __package__)
    fn = getattr(mod, fn_name)
    spark = _session(args.master)
    stream = spark.readStream.schema(schema).parquet(args.in_dir)
    kw = {}
    if args.compact_every is not None:
        # quota's fold rewrites touched buckets wholesale, so its only
        # periodic maintenance is snapshot expiry — same cadence knob
        knob = "expire_every" if args.op == "quota" else "compact_every"
        kw[knob] = args.compact_every
    if args.op in ("lsh", "clusters"):
        if args.key_buckets is not None:
            kw["key_buckets"] = args.key_buckets
        if args.bucket_cap is not None:
            kw["bucket_cap"] = args.bucket_cap
    elif args.key_buckets is not None or args.bucket_cap is not None:
        raise SystemExit(
            "--key-buckets/--bucket-cap apply only to the lsh/clusters ops"
        )
    fn(stream, args.store, args.checkpoint, **kw)
    return {"op": args.op, "store": args.store, "drained": True}


def _write_then_rename(df, out: str) -> None:
    """Write ``df`` as parquet to a fresh directory beside ``out``, then
    rename it into place: a job that dies mid-write leaves the previous
    ``out`` as it was (and removes its own partial directory). The swap
    itself is two renames; only a crash between them leaves the
    previous map under ``<out>.old-*`` instead of at ``out``."""
    base = os.path.normpath(out)
    tag = uuid.uuid4().hex
    tmp, old = f"{base}.tmp-{tag}", f"{base}.old-{tag}"
    try:
        df.write.parquet(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if os.path.exists(base):
        os.rename(base, old)
    os.rename(tmp, base)
    shutil.rmtree(old, ignore_errors=True)


def _run_pipeline(args) -> dict:
    """The composed pipeline as a batch job: read documents, run every
    hygiene stage, write the (shard, chunk, piece → provenance) map.
    The intermediate clean/prov tables land under --workdir and are the
    job's restart points (re-running overwrites them). They live beside
    --out, never inside it: replacing --out would delete them while the
    plan still reads them. The map itself is written beside --out and
    renamed into place (local paths), so a failed run leaves the
    previous --out intact."""
    from .operators.pipeline import pipeline_e2e

    workdir = args.workdir or os.path.normpath(args.out) + "_stages"
    out_abs = os.path.realpath(args.out)
    if os.path.commonpath([out_abs, os.path.realpath(workdir)]) == out_abs:
        raise SystemExit(
            f"--workdir {workdir} lies inside --out {args.out}, which the "
            "job overwrites"
        )
    spark = _session(args.master)
    docs = spark.read.parquet(args.in_path)
    out = pipeline_e2e(spark, docs, workdir=workdir)
    _write_then_rename(out, args.out)
    n = spark.read.parquet(args.out).count()
    return {
        "out": args.out,
        "workdir": workdir,
        "rows": n,
        "done": True,
    }


def _run_lineage(args) -> None:
    from .operators.crawl import CrawlLoop

    # reconstruct the creation-time config: a TTL store's documents
    # table is doc_bucket-partitioned and reads wrongly without it
    kw = _stored_config(args.root)
    spark = _session(args.master)
    loop = CrawlLoop(spark, args.root, **kw)
    for r in loop.lineage().collect():
        print(json.dumps(r.asDict()))


def main(argv: list[str] | None = None) -> None:
    args = _build_parser().parse_args(argv)
    if args.cmd == "crawl":
        print(json.dumps(_run_crawl(args)))
    elif args.cmd == "stream":
        print(json.dumps(_run_stream(args)))
    elif args.cmd == "pipeline":
        print(json.dumps(_run_pipeline(args)))
    elif args.cmd == "lineage":
        _run_lineage(args)


if __name__ == "__main__":
    main(sys.argv[1:])
