"""crawl_extract: closed-loop crawl super-steps through the public
``CrawlLoop`` API over the synthetic web, fetched with
``synthetic_fetch`` (fetch cost proportional to claims).

One call = one super-step (``CrawlLoop.run(max_iterations=1)``): claim
-> expand -> fetch -> extract -> commit docs -> discover -> seen gate
-> commit frontier/claims/metrics. The first WARMUP_ITERATIONS are the
untimed warm-up; the timed window runs the next iterations back to back
until the run length is used up.

The workload seed chooses which pages seed the frontier (a hash of the
seed and the URL) and their seed rank; the web itself is the
program's deterministic synthetic web for the shape's page and host
counts.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from perfbench.harness import Run, list_files, median, new_files
from perfbench.trace import check_accounting, job_accounting

# many hosts, a 10 s politeness window, heavy pages (content blocks per
# page: min_blocks + i % mod_blocks) and a small frontier: fetch and
# extraction of the claimed pages dominate, the frontier and seen gate
# do little
SHAPE = dict(n_pages=100_000, n_hosts=24, seed_every=8, window_ms=10_000, blocks=(10, 7))
# iteration 0 builds the caches and compiles the plans; iteration 1 is
# the first with claim tombstones to anti-join, and compiles that path
WARMUP_ITERATIONS = 2
COUNTS = ("claimed", "mime_rejected", "fetch_missing", "scheduled")
# run_iteration's timing laps -> per-layer metric
LAPS = {
    "extract_commit": "crawl.extract_commit_s",
    "filter": "crawl.filter_s",
    "frontier": "crawl.frontier_s",
    "commit": "crawl.commit_s",
}


def make_inputs(spark, shape: dict, seed: int) -> dict:
    from mklab_focused_crawler_spark.sources.synthetic_web import (
        generate_meta,
        generate_redirects,
        generate_robots,
        synthetic_fetch,
    )

    n, h = shape["n_pages"], shape["n_hosts"]
    meta = generate_meta(spark, n, h)
    url = F.col("url")
    seeds = meta.filter(
        F.pmod(F.xxhash64(F.lit(seed), url), F.lit(shape["seed_every"])) == 0
    ).select(url, F.pmod(F.xxhash64(F.lit(seed), F.lit("rank"), url), F.lit(1 << 40)).alias("rank"))
    return {
        "robots": generate_robots(spark, h),
        "seeds": seeds,
        "redirect_map": generate_redirects(spark, n, h),
        "pages_meta": meta,
        "fetch": synthetic_fetch(n, h, *shape["blocks"]),
    }


def step(loop, inputs: dict, it: int) -> dict:
    return loop.run(
        None,
        inputs["robots"],
        max_iterations=1,
        start_iteration=it,
        redirect_map=inputs["redirect_map"],
        pages_meta=inputs["pages_meta"],
    )[0]


def set_up(run: Run, inputs: dict, shape: dict, root: str):
    """Seed a fresh loop and run the warm-up iterations. Returns (loop,
    init seconds, warm-up seconds, warm-up stats by iteration, seeded
    rows)."""
    from mklab_focused_crawler_spark.operators.crawl import CrawlLoop

    loop = CrawlLoop(run.spark, root, window_ms=shape["window_ms"], fetch_fn=inputs["fetch"])
    t0 = time.perf_counter()
    loop.init(inputs["seeds"], inputs["pages_meta"])
    init_s = time.perf_counter() - t0
    rows = loop.frontier.read(run.spark).count()
    t0 = time.perf_counter()
    warm = {i: step(loop, inputs, i) for i in range(WARMUP_ITERATIONS)}
    return loop, init_s, time.perf_counter() - t0, warm, rows


def iteration_ok(s: dict) -> bool:
    fetched = s.get("claimed", 0) - s.get("fetch_missing", 0)
    return (
        not s.get("done")
        and s["claimed"] > 0
        and 0 <= fetched <= s["claimed"]
        and 0 <= s["mime_rejected"] <= fetched
        and s["scheduled"] >= 0
    )


def seen_regime(rows_before: int) -> int:
    """1 = broadcast anti-join, 2 = driver-held bloom, 3 = distributed
    bloom: the seen-gate regime the loop picks for a seen set of this
    size (the program's own thresholds)."""
    from mklab_focused_crawler_spark.operators import crawl

    if rows_before <= crawl.BROADCAST_ANTI_MAX_KEYS:
        return 1
    return 2 if rows_before * 1.2 * 12 / 8 <= crawl.BROADCAST_BLOOM_MAX_BYTES else 3


def run_crawl(run: Run, jvm_s: float) -> None:
    spark, shape = run.spark, SHAPE
    inputs = make_inputs(spark, shape, run.seed)
    root = os.path.join(run.workdir, "crawl")
    loop, init_s, warm_s, stats, init_rows = set_up(run, inputs, shape, root)
    for i, s in stats.items():
        run.check(f"iteration {i}", iteration_ok(s), str(s))

    # -- timed window --------------------------------------------------
    calls = []  # (span, iteration, files written, bytes written)
    it, t_end = len(stats), time.perf_counter() + run.seconds
    while time.perf_counter() < t_end:
        before = list_files(root)
        try:
            with run.tracer.call("crawl.iteration", iteration=it) as sp:
                s = step(loop, inputs, it)
        except Exception:
            run.call_raised(f"iteration {it}")
            break
        written = new_files(before, list_files(root))
        run.check(f"iteration {it}", iteration_ok(s), str(s))
        stats[it] = s
        calls.append((sp, it, len(written), sum(written.values())))
        t = sp.start
        for lap, secs in s.get("timings", {}).items():
            run.tracer.child(sp, f"crawl.{lap}", t, t + secs)
            t += secs
        it += 1
    timed = [stats[i] for _, i, _, _ in calls]
    durs = [sp.dur for sp, *_ in calls]
    urls = sum(s["claimed"] + s["scheduled"] for s in timed)
    run.e2e["throughput_per_s"] = urls / sum(durs) if durs else 0.0
    run.e2e["latency_p50_s"] = median(durs)
    run.report.update(
        crawl_urls_per_s=run.e2e["throughput_per_s"],
        crawl_iter_s_p50=run.e2e["latency_p50_s"],
        crawl_iter_samples=len(durs),
        crawl_iter_s=durs,
        crawl_claimed=[s["claimed"] for s in timed],
        crawl_scheduled=[s["scheduled"] for s in timed],
    )

    # -- untimed output checks -----------------------------------------
    check_state(run, loop, inputs, shape, init_rows, stats)
    # same seed, same per-iteration counts: compare with the earlier runs
    # of this code and seed recorded in the checkout
    counts = {str(i): [s[k] for k in COUNTS] for i, s in stats.items()}
    for past in run.history("counts", counts)[:1]:
        for i in sorted(counts.keys() & past.keys(), key=int):
            run.check(f"iteration {i} counts as in an earlier run", counts[i] == past[i],
                      f"{counts[i]} vs {past[i]}")
    run.e2e["setup_s"] = jvm_s + init_s + warm_s
    run.layer.update({"sources.generate_s": init_s, "warmup_s": warm_s})

    # -- per-layer values ----------------------------------------------
    if run.trace:
        crawl_layers(run, loop, calls, stats, init_rows)
    loop.close()


def check_state(run: Run, loop, inputs: dict, shape: dict, init_rows: int, stats: dict) -> None:
    from mklab_focused_crawler_spark.operators.frontier import host_quota

    spark = run.spark
    fr = loop.frontier.read(spark)
    rows = fr.count()
    want = init_rows + sum(s["scheduled"] for s in stats.values())
    run.check("frontier rows", rows == want, f"{rows} != {want}")
    dup = fr.groupBy("url_hash").count().filter(F.col("count") > 1).count()
    run.check("frontier url_hash unique", dup == 0, f"{dup} repeated")
    docs = loop.documents.read(spark)
    refetched = docs.groupBy("src_hash").count().filter(F.col("count") > 1).count()
    run.check("no URL fetched twice", refetched == 0, f"{refetched} fetched again")
    claims = fr.filter(F.col("claimed_iter").isNotNull()).select("url_hash", "claimed_iter")
    if loop.claims.exists():
        claims = claims.unionByName(loop.claims.read(spark).select("url_hash", "claimed_iter"))
    over = (
        claims.join(fr.select("url_hash", "host"), "url_hash")
        .groupBy("claimed_iter", "host")
        .count()
        .join(inputs["robots"], "host", "left")
        .filter(
            F.col("count")
            > host_quota(F.coalesce(F.col("crawl_delay_ms"), F.lit(0)), shape["window_ms"])
        )
        .count()
    )
    run.check("host quota", over == 0, f"{over} (iteration, host) pairs over quota")


def crawl_layers(run: Run, loop, calls: list, stats: dict, init_rows: int) -> None:
    """Per-layer values that need no event log: laps, counts, job-id
    deltas, storage listing, seen-gate regime and candidate counts."""
    spark = run.spark
    timed = [stats[i] for _, i, _, _ in calls]
    lay = run.layer
    for lap, name in LAPS.items():
        lay[name] = median(s["timings"].get(lap, 0.0) for s in timed)
    # the part of CrawlLoop.run outside run_iteration's laps
    lay["crawl.loop_self_s"] = median(run.tracer.self_time(sp) for sp, *_ in calls)
    lay["crawl.jobs_per_iter"] = median(sp.attrs["jobs"][1] - sp.attrs["jobs"][0] + 1 for sp, *_ in calls)
    lay["crawl.claimed"] = median(s["claimed"] for s in timed)
    lay["crawl.fetched"] = median(s["claimed"] - s["fetch_missing"] for s in timed)
    lay["crawl.mime_rejected"] = median(s["mime_rejected"] for s in timed)
    lay["crawl.scheduled"] = median(s["scheduled"] for s in timed)
    lay["storage.files_written"] = median(n for *_, n, _ in calls)
    lay["storage.bytes_written"] = median(b for *_, b in calls)

    rows_before, rows = {}, init_rows
    for i in sorted(stats):
        rows_before[i] = rows
        rows += stats[i]["scheduled"]
    lay["seen.regime"] = median(seen_regime(rows_before[i]) for _, i, _, _ in calls)
    lay["frontier.rows"] = rows
    lay["frontier.active_rows"] = loop.active_frontier(max(stats) + 1).count()
    cand = {
        r["iteration"]: r["n"]
        for r in loop.documents.read(spark)
        .groupBy("iteration")
        .agg(F.sum(F.size("out_links")).alias("n"))
        .collect()
    }
    its = [i for _, i, _, _ in calls]
    lay["seen.candidates"] = median(cand.get(i, 0) for i in its)
    lay["seen.new_ratio"] = median(stats[i]["scheduled"] / cand[i] for i in its if cand.get(i))

    def from_log(log) -> None:
        per, accs = [], []
        for sp, i, *_ in calls:
            acc = job_accounting(log, sp)
            accs.append(acc)
            jobs = acc["jobs"]
            docs = [j for j in jobs if j.desc == f"it{i}:docs"]
            claim, extract = [], []
            # the last it{n}:docs job is the commit: its result stage
            # fetches, extracts and writes; every other stage of the
            # it{n}:docs jobs is the claim (frontier scan, tombstone
            # anti-join, host windows)
            for j in docs:
                st = log.job_stages(j)
                if j is docs[-1] and st:
                    last = max(st, key=lambda s: s.stage_id)
                    extract.append(last)
                    st = [s for s in st if s is not last]
                claim += st
            seen_st = [
                s
                for j in jobs
                if j.desc in (f"it{i}:discover", f"it{i}:filter")
                for s in log.job_stages(j)
            ]
            # jobs without a description come from the claims-append
            # thread (local properties do not follow a new thread)
            store_st = [
                s
                for j in jobs
                if j.desc in (f"it{i}:frontier", f"it{i}:claims", f"it{i}:metrics", f"it{i}:compact", "")
                for s in log.job_stages(j)
            ]
            per.append(
                {
                    "crawl.driver_gap_s": acc["driver_gap_s"],
                    "frontier.claim_executor_s": sum(s.executor_ms for s in claim) / 1e3,
                    "frontier.claim_shuffle_bytes": sum(s.shuffle_write_bytes for s in claim),
                    "extraction.executor_s": sum(s.executor_ms for s in extract) / 1e3,
                    "extraction.gc_s": sum(s.gc_ms for s in extract) / 1e3,
                    "seen.filter_executor_s": sum(s.executor_ms for s in seen_st) / 1e3,
                    "storage.commit_executor_s": sum(s.executor_ms for s in store_st) / 1e3,
                }
            )
        for k in per[0] if per else ():
            lay[k] = median(p[k] for p in per)
        run.report["unaccounted_frac"] = check_accounting(run, "crawl iterations", accs)

    run.post.append(from_log)
