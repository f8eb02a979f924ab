"""corpus_batch: closed loop over the driver-contract queries
(``__spark_entry__.queries()``), one query at a time, each forced with
the ``noop`` sink, over a seeded corpus (perfbench/inputs.py).

One pass runs every query in QUERIES once; the timed window runs whole
passes until the run length is used up.

The untimed warm-up pass collects each query's result; the check
compares it, order-insensitively, with the query's DuckDB twin from
the driver contract run over the same parquet files, or, for a query
without a twin, with the value hash the earliest earlier run of the
same code and seed recorded.
"""

from __future__ import annotations

import hashlib
import os
import time

from perfbench import inputs
from perfbench.harness import Run, median
from perfbench.metrics import QUERIES
from perfbench.trace import check_accounting, job_accounting

N_DOCS, N_EVENTS, N_VECS = 500, 10_000, 500  # the sf0.01 table sizes
TABLES = ("documents", "events", "embeddings")


def normalized(df):
    """Columns by name, object columns as text, rows sorted: the
    driver contract's order-insensitive comparison form."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        else:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                pass
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def value_hash(df) -> str:
    return hashlib.sha256(normalized(df).to_csv(index=False).encode()).hexdigest()[:16]


def matches(got, want) -> bool:
    import pandas as pd

    a, b = normalized(got), normalized(want)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError:
        return False
    return True


def run_corpus(run: Run, jvm_s: float) -> None:
    import duckdb

    import __spark_entry__ as entry

    spark = run.spark
    t0 = time.perf_counter()
    data = inputs.write_corpus(os.path.join(run.workdir, "sf"), run.seed, N_DOCS, N_EVENTS, N_VECS)
    gen_s = time.perf_counter() - t0
    qs = entry.queries()

    def query(name: str):
        return qs[name](spark, data)

    # warm-up: spawn the Python workers once (bench.py's warm batch),
    # then one pass whose results are collected for the check
    t0 = time.perf_counter()

    def _identity(batches):
        yield from batches

    spark.range(0, 256, 1, 64).mapInPandas(_identity, "id long").write.mode(
        "overwrite"
    ).format("noop").save()
    results = {name: query(name).toPandas() for name in QUERIES}
    warm_s = time.perf_counter() - t0
    run.e2e["setup_s"] = jvm_s + gen_s + warm_s
    run.layer.update({"sources.generate_s": gen_s, "warmup_s": warm_s})

    # -- timed window: whole passes, one query at a time ---------------
    passes = []  # {query: span}
    t_end = time.perf_counter() + run.seconds
    while time.perf_counter() < t_end:
        spans = {}
        for name in QUERIES:
            try:
                with run.tracer.call(f"q.{name}") as sp:
                    query(name).write.mode("overwrite").format("noop").save()
            except Exception:
                run.call_raised(name)
                continue
            run.attempted += 1
            spans[name] = sp
        passes.append(spans)
    totals = [sum(sp.dur for sp in p.values()) for p in passes if len(p) == len(QUERIES)]
    run.e2e["latency_p50_s"] = median(totals)
    busy = sum(sp.dur for p in passes for sp in p.values())
    run.e2e["throughput_per_s"] = sum(len(p) for p in passes) / busy if busy else 0.0
    run.report.update(batch_total_s=median(totals), batch_passes=len(totals))

    # -- untimed check against the DuckDB twins ------------------------
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    hashes = {n: value_hash(df) for n, df in results.items()}
    for name in QUERIES:
        if name in entry.ORACLES:
            want = con.execute(entry.ORACLES[name]).df()
            run.check(f"{name} == DuckDB twin", matches(results[name], want),
                      f"{hashes[name]} vs {value_hash(want)}")
            continue
        for past in run.history(f"hash.{name}", hashes[name])[:1]:
            run.check(f"{name} value hash as in an earlier run", hashes[name] == past,
                      f"{hashes[name]} vs {past}")
    con.close()
    run.report["value_hashes"] = hashes

    for name in QUERIES:
        run.layer[f"q.{name}_s"] = median(p[name].dur for p in passes if name in p)

    def from_log(log) -> None:
        accs = []
        for name in QUERIES:
            per = []
            for p in passes:
                if name not in p:
                    continue
                acc = job_accounting(log, p[name])
                stages = [s for j in acc["jobs"] for s in log.job_stages(j)]
                per.append((acc, stages))
                accs.append(acc)
            lay = run.layer
            lay[f"q.{name}.executor_s"] = median(sum(s.executor_ms for s in st) / 1e3 for _, st in per)
            lay[f"q.{name}.shuffle_bytes"] = median(sum(s.shuffle_write_bytes for s in st) for _, st in per)
            lay[f"q.{name}.driver_gap_s"] = median(a["driver_gap_s"] for a, _ in per)
            lay[f"q.{name}.jobs"] = median(len(a["jobs"]) for a, _ in per)
        run.report["unaccounted_frac"] = check_accounting(run, "corpus_batch queries", accs)

    run.post.append(from_log)
