"""The spark-submit job surface: cli.main() end-to-end + the actual
spark-submit deployment path."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from mklab_focused_crawler_spark.cli import main
from tests.conftest import SF_DIR


def test_cli_synthetic_crawl_and_resume(spark, tmp_path, capsys):
    root = str(tmp_path / "crawl")
    argv = [
        "crawl",
        "--root",
        root,
        "--synthetic-pages",
        "300",
        "--hosts",
        "20",
        "--seed-count",
        "10",
        "--iterations",
        "2",
    ]
    main(argv)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["mode"] == "synthetic"
    assert out["completed_iterations"] == 2 and len(out["iterations"]) == 2
    assert out["urls"] > 0

    # resume continues from the committed iteration count
    main(argv + ["--resume", "--iterations", "1"])
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["start_iteration"] == 2
    assert out2["completed_iterations"] >= 2

    # lineage surface reads the same store
    main(["lineage", "--root", root])
    lines = capsys.readouterr().out.strip().splitlines()
    rows = [json.loads(l) for l in lines]
    assert {r["table"] for r in rows} >= {"frontier", "documents"}


def test_cli_page_store_crawl(spark, tmp_path, capsys):
    from mklab_focused_crawler_spark.sources.synthetic_web import (
        generate_pages,
        generate_robots,
        generate_seeds,
    )

    pages_p = str(tmp_path / "pages.parquet")
    robots_p = str(tmp_path / "robots.parquet")
    seeds_p = str(tmp_path / "seeds.parquet")
    generate_pages(spark, 250).write.parquet(pages_p)
    generate_robots(spark).write.parquet(robots_p)
    generate_seeds(spark, 250, 10).write.parquet(seeds_p)

    main(
        [
            "crawl",
            "--root",
            str(tmp_path / "store"),
            "--pages",
            pages_p,
            "--robots",
            robots_p,
            "--seeds",
            seeds_p,
            "--iterations",
            "2",
        ]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["mode"] == "page-store" and out["urls"] > 0


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)
def test_spark_submit_deployment(tmp_path):
    """The north-star deployment command verbatim: zip via package.py,
    submit crawl_job.py with --py-files from a cwd OUTSIDE the repo, so
    only the zip provides the package."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, "package.py"], cwd=repo, check=True, capture_output=True
    )
    env = {
        k: v for k, v in os.environ.items() if k != "PYTHONPATH"
    }  # the zip, not the checkout, must supply the package
    proc = subprocess.run(
        [
            "spark-submit",
            "--master",
            "local[2]",
            "--conf",
            "spark.ui.enabled=false",
            "--py-files",
            os.path.join(repo, "dist", "mklab_focused_crawler_spark.zip"),
            os.path.join(repo, "crawl_job.py"),
            "crawl",
            "--root",
            str(tmp_path / "store"),
            "--synthetic-pages",
            "200",
            "--hosts",
            "10",
            "--seed-count",
            "5",
            "--iterations",
            "1",
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["urls"] > 0 and out["completed_iterations"] == 1


def test_cli_stream_vocab_and_quota(spark, tmp_path, capsys):
    """The stream subcommand drains a parquet dir into the incremental
    store; a second invocation with new files ingests ONLY them (the
    availableNow + checkpoint contract), and totals match batch."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mklab_focused_crawler_spark.streaming.vocab import vocab_counts

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame({"doc_id": [1, 2], "text": ["aa bb", "bb cc"]}),
            preserve_index=False,
        ),
        str(in_dir / "b0.parquet"),
    )
    argv = [
        "stream",
        "--op",
        "vocab",
        "--in",
        str(in_dir),
        "--store",
        str(tmp_path / "store"),
        "--checkpoint",
        str(tmp_path / "ckpt"),
    ]
    main(argv)
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["drained"]
    got = {
        (r["w"], r["c"])
        for r in vocab_counts(spark, str(tmp_path / "store")).collect()
    }
    assert got == {("aa", 1), ("bb", 2), ("cc", 1)}

    # drop a second file; re-run drains just it
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame({"doc_id": [3], "text": ["cc cc"]}),
            preserve_index=False,
        ),
        str(in_dir / "b1.parquet"),
    )
    main(argv)
    capsys.readouterr()
    got = {
        (r["w"], r["c"])
        for r in vocab_counts(spark, str(tmp_path / "store")).collect()
    }
    assert got == {("aa", 1), ("bb", 2), ("cc", 3)}

    # quota op over the same shape
    from mklab_focused_crawler_spark.streaming.quota import streaming_quota_kept

    (tmp_path / "qin").mkdir()
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame({"doc_id": [1, 2, 3], "source": ["s", "s", "t"]}),
            preserve_index=False,
        ),
        str(tmp_path / "qin" / "b0.parquet"),
    )
    main(
        [
            "stream",
            "--op",
            "quota",
            "--in",
            str(tmp_path / "qin"),
            "--store",
            str(tmp_path / "qstore"),
            "--checkpoint",
            str(tmp_path / "qckpt"),
        ]
    )
    capsys.readouterr()
    kept = {
        tuple(r)
        for r in streaming_quota_kept(spark, str(tmp_path / "qstore")).collect()
    }
    assert kept == {(1, "s"), (2, "s"), (3, "t")}


def test_cli_stream_clusters_three_drains_match_batch(spark, tmp_path, capsys):
    """``stream --op clusters`` run three times, one new parquet file per
    run (each run is a fresh process-equivalent call over the same
    store): the final clusters table equals batch duplicate_clusters
    over the union of the files. The docs hold an exact duplicate and a
    near duplicate across files, a one-token duplicate (no shingles, so
    only the exact-group edge links it) and a smallest id that arrives
    last."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mklab_focused_crawler_spark.operators.dedup import duplicate_clusters

    def words(stem, n=30):
        return " ".join(f"{stem}{i}" for i in range(n))

    files = [
        [
            (10, words("apple")),
            (11, words("cherry")),
            (12, "solo"),
            (13, words("kiwi")),
        ],
        [
            (20, words("apple")),  # exact duplicate of 10
            (21, words("cherry", 29) + " plum"),  # near duplicate of 11
            (22, words("lemon")),
            (23, "solo"),
        ],
        [
            (1, words("kiwi")),  # smallest id, duplicates 13
            (30, words("apple", 29) + " fig"),  # near duplicate of 10/20
            (31, words("mango")),
            (32, "SOLO "),  # same normalized text as 12/23
        ],
    ]
    in_dir = tmp_path / "in_cc"
    in_dir.mkdir()
    argv = [
        "stream", "--op", "clusters", "--in", str(in_dir),
        "--store", str(tmp_path / "cc_store"),
        "--checkpoint", str(tmp_path / "ckpt_cc"),
    ]
    for i, docs in enumerate(files):
        pq.write_table(
            pa.Table.from_pandas(
                pd.DataFrame(docs, columns=["doc_id", "text"]), preserve_index=False
            ),
            str(in_dir / f"b{i}.parquet"),
        )
        main(argv)
        assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])[
            "drained"
        ]

    from mklab_focused_crawler_spark.storage.snapshot import SnapshotTable

    got = {
        (r["doc_id"], r["cluster_id"])
        for r in SnapshotTable(
            str(tmp_path / "cc_store"), "clusters", partition_by=("doc_bucket",)
        )
        .read(spark)
        .collect()
    }
    corpus = spark.createDataFrame(
        [d for docs in files for d in docs], "doc_id long, text string"
    )
    want = {
        (r["doc_id"], r["cluster_id"])
        for r in duplicate_clusters(spark, corpus).collect()
    }
    assert got == want
    assert {(1, 1), (13, 1), (21, 11), (30, 10), (32, 12)} <= want


def test_cli_stream_ops_accept_their_maintenance_knob():
    """Every --op's runner must accept the knob the CLI maps
    --compact-every onto (quota folds rewrite touched buckets wholesale,
    so its cadence knob is snapshot expiry instead of compaction)."""
    import importlib
    import inspect

    from mklab_focused_crawler_spark import cli

    for op, (_schema, mod, fn_name) in cli._STREAM_OPS.items():
        fn = getattr(
            importlib.import_module(
                f"mklab_focused_crawler_spark.streaming.{mod}"
            ),
            fn_name,
        )
        knob = "expire_every" if op == "quota" else "compact_every"
        assert knob in inspect.signature(fn).parameters, (op, knob)


def test_cli_ttl_store_lineage_and_resume(spark, tmp_path, capsys):
    """A TTL crawl's documents table is doc_bucket-partitioned; the
    recorded store config must let lineage and --resume reconstruct
    that layout WITHOUT the user re-passing --ttl-iterations (a
    mismatched CrawlLoop would fail the multi-segment partitioned read
    or append an unpartitioned segment)."""
    root = str(tmp_path / "ttl_crawl")
    base = [
        "--synthetic-pages",
        "300",
        "--hosts",
        "20",
        "--seed-count",
        "10",
    ]
    main(["crawl", "--root", root, *base, "--iterations", "3",
          "--ttl-iterations", "5"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["completed_iterations"] == 3

    # lineage over >=2 partitioned document segments
    main(["lineage", "--root", root])
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    doc_segs = {r["file"] for r in rows if r["table"] == "documents"}
    assert len(doc_segs) >= 2

    # resume with NO ttl flag: stored config wins
    main(["crawl", "--root", root, *base, "--iterations", "1", "--resume"])
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["start_iteration"] == 3 and out2["completed_iterations"] == 4


def test_cli_resumes_store_recorded_with_cuckoo_filter(
    spark, tmp_path, capsys, monkeypatch
):
    """Stores written while the seen filter was a choice record
    ``"seen_filter"`` in cli_meta.json, and a cuckoo store also holds a
    cuckoo-format ``seen_filter`` table. --resume and lineage ignore
    both: the resumed loop builds its Bloom filter from the frontier
    before first use, so the resumed crawl equals an uninterrupted one."""
    from mklab_focused_crawler_spark.operators import crawl as crawl_mod
    from mklab_focused_crawler_spark.operators.crawl import CrawlLoop
    from mklab_focused_crawler_spark.storage.snapshot import SnapshotTable

    old, ref = str(tmp_path / "old"), str(tmp_path / "ref")
    base = ["--synthetic-pages", "300", "--hosts", "20", "--seed-count", "10"]
    main(["crawl", "--root", old, *base, "--iterations", "2"])
    capsys.readouterr()
    # the older on-disk layout: the meta names the filter, and the
    # cuckoo table (one 4-slot x 16-bit filter per bucket) sits beside
    # the crawl tables
    meta_path = os.path.join(old, "cli_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    with open(meta_path, "w") as f:
        json.dump({**meta, "seen_filter": "cuckoo"}, f)
    SnapshotTable(old, "seen_filter").overwrite(
        spark.createDataFrame(
            [(b, 8, 0, bytes(64)) for b in range(crawl_mod.N_BUCKETS_DEFAULT)],
            "bucket int, m long, n_keys long, slots binary",
        )
    )

    # the resumed iteration runs the cogroup regime, the one that
    # probes a filter table on disk
    monkeypatch.setattr(crawl_mod, "BROADCAST_ANTI_MAX_KEYS", -1)
    monkeypatch.setattr(crawl_mod, "BROADCAST_BLOOM_MAX_BYTES", 0)
    main(["crawl", "--root", old, *base, "--iterations", "1", "--resume"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["start_iteration"] == 2 and out["completed_iterations"] == 3

    main(["lineage", "--root", old])
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert {r["table"] for r in rows} >= {"frontier", "documents"}

    main(["crawl", "--root", ref, *base, "--iterations", "3"])
    a, b = CrawlLoop(spark, old), CrawlLoop(spark, ref)
    assert a.crawl_log().collect() == b.crawl_log().collect()
    assert sorted(r["canonical_url"] for r in a.seen_df().collect()) == sorted(
        r["canonical_url"] for r in b.seen_df().collect()
    )


def test_cli_bucketed_pages_table(spark, tmp_path, capsys):
    """--pages-table runs the crawl over a catalog table (the only form
    carrying bucket metadata); a url-bucketed table gets the
    storage-partitioned fetch join with no flag."""
    from mklab_focused_crawler_spark.sources.synthetic_web import (
        generate_pages,
        generate_robots,
        generate_seeds,
    )

    (
        generate_pages(spark, 250)
        .repartition(4, "url")
        .write.mode("overwrite")
        .bucketBy(4, "url")
        .option("path", str(tmp_path / "web"))
        .saveAsTable("cli_bucketed_web")
    )
    try:
        robots_p = str(tmp_path / "robots.parquet")
        seeds_p = str(tmp_path / "seeds.parquet")
        generate_robots(spark).write.parquet(robots_p)
        generate_seeds(spark, 250, 10).write.parquet(seeds_p)
        main(
            [
                "crawl",
                "--root",
                str(tmp_path / "store"),
                "--pages-table",
                "cli_bucketed_web",
                "--robots",
                robots_p,
                "--seeds",
                seeds_p,
                "--iterations",
                "2",
            ]
        )
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["mode"] == "page-store" and out["urls"] > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS cli_bucketed_web")


def test_cli_validation_runs_before_session(tmp_path, monkeypatch):
    """Bad argv must error WITHOUT paying JVM/session startup."""
    from mklab_focused_crawler_spark import cli

    def boom(master):
        raise AssertionError("session started before validation")

    monkeypatch.setattr(cli, "_session", boom)
    for argv in [
        ["crawl", "--root", str(tmp_path)],  # no mode
        ["crawl", "--root", str(tmp_path), "--pages", "p", "--synthetic-pages", "5"],
        ["crawl", "--root", str(tmp_path), "--pages", "p"],  # no robots
        ["crawl", "--root", str(tmp_path / "missing"), "--synthetic-pages", "5",
         "--resume"],
    ]:
        with pytest.raises(SystemExit):
            cli.main(argv)


def test_cli_pipeline_runs_end_to_end(spark, tmp_path, capsys):
    """The pipeline subcommand: documents parquet in → packed chunk map
    out, intermediate tables under --workdir, one JSON result line."""
    import json

    from mklab_focused_crawler_spark.cli import main

    out_dir = str(tmp_path / "pipe_out")
    main(
        [
            "pipeline",
            "--in",
            "/root/testdata/sf0.001/documents.parquet",
            "--out",
            out_dir,
            "--master",
            "local[4]",
        ]
    )
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["done"] and res["rows"] > 0
    got = spark.read.parquet(out_dir)
    assert {
        "shard_id",
        "chunk_id",
        "pos",
        "doc_id",
        "source",
        "piece_start",
        "piece_len",
    } == set(got.columns)
    assert got.count() == res["rows"]


def test_cli_pipeline_rerun_keeps_restart_tables(spark, tmp_path, capsys):
    """Running `pipeline` twice into the same --out succeeds both times:
    the default workdir lies beside --out (never inside the overwrite
    target), so the clean/prov restart tables survive each run. A
    workdir inside --out is refused before the session starts."""
    out_dir = str(tmp_path / "pipe_out")
    argv = [
        "pipeline",
        "--in",
        f"{SF_DIR}/documents.parquet",
        "--out",
        out_dir,
        "--master",
        "local[4]",
    ]
    rows = []
    for _ in range(2):
        main(argv)
        res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert res["done"] and res["workdir"] == out_dir + "_stages"
        rows.append(res["rows"])
    assert rows[0] == rows[1] > 0
    for table in ("clean", "prov"):
        assert spark.read.parquet(os.path.join(out_dir + "_stages", table)).count() > 0
    with pytest.raises(SystemExit):
        main(argv + ["--workdir", os.path.join(out_dir, "_stages")])


def test_cli_pipeline_failed_write_keeps_previous_out(
    spark, tmp_path, capsys, monkeypatch
):
    """A run that dies while writing the final map leaves the previous
    --out readable and byte-for-byte unchanged, with no partial
    directory beside it; a rerun then equals the uninterrupted run."""
    from pyspark.sql import DataFrameWriter

    out_dir = str(tmp_path / "pipe_out")
    argv = [
        "pipeline",
        "--in",
        f"{SF_DIR}/documents.parquet",
        "--out",
        out_dir,
        "--master",
        "local[4]",
    ]

    def files() -> dict[str, bytes]:
        got = {}
        for d, _, names in os.walk(out_dir):
            for name in names:
                with open(os.path.join(d, name), "rb") as f:
                    got[os.path.relpath(os.path.join(d, name), out_dir)] = f.read()
        return got

    main(argv)
    capsys.readouterr()
    before = files()
    rows = sorted(spark.read.parquet(out_dir).collect())
    assert rows

    real_parquet = DataFrameWriter.parquet

    def crash_on_final_write(self, path, *args, **kwargs):
        if os.path.dirname(os.path.normpath(path)) != str(tmp_path):
            return real_parquet(self, path, *args, **kwargs)  # workdir stages
        # an overwrite clears its target first, then dies part-way
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        with open(os.path.join(path, "part-00000.parquet"), "wb") as f:
            f.write(b"PAR1")
        raise RuntimeError("injected failure during the final write")

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_final_write)
    with pytest.raises(RuntimeError, match="injected"):
        main(argv)
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)
    assert files() == before
    assert sorted(spark.read.parquet(out_dir).collect()) == rows
    assert sorted(os.listdir(tmp_path)) == ["pipe_out", "pipe_out_stages"]

    main(argv)
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["done"] and res["rows"] == len(rows)
    assert sorted(spark.read.parquet(out_dir).collect()) == rows
    assert sorted(os.listdir(tmp_path)) == ["pipe_out", "pipe_out_stages"]
