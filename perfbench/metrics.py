"""The benchmark's metric catalogue. BENCHMARK.json lists the same
names; perfbench/tests/test_catalogue.py keeps the two in step.

End-to-end metrics are reported by every workload, each in that
workload's own unit of work (see README.md). Per-layer metrics are
reported by every traced run; a layer that a workload does not
exercise reports 0 there.
"""

from __future__ import annotations

# name -> (unit, better, bound)
END_TO_END = {
    "throughput_per_s": ("1/s", "higher", 0.25),
    "latency_p50_s": ("s", "lower", 0.25),
    "setup_s": ("s", "lower", 0.25),
}

# corpus_batch queries, in run order: one each from batch dedup,
# similarity, trending, terms and multimodal (README.md: the trim)
QUERIES = (
    "semantic_dedup",
    "cosine_topk_gemm",
    "rolling_top_events",
    "top_terms_per_source",
    "media_pipeline",
)

_S, _N, _B = "s", "count", "bytes"

# name -> (unit, better)
PER_LAYER = {
    "session.jvm_start_s": (_S, "lower"),
    "sources.generate_s": (_S, "lower"),
    "warmup_s": (_S, "lower"),
    "crawl.extract_commit_s": (_S, "lower"),
    "crawl.filter_s": (_S, "lower"),
    "crawl.frontier_s": (_S, "lower"),
    "crawl.commit_s": (_S, "lower"),
    "crawl.loop_self_s": (_S, "lower"),
    "crawl.jobs_per_iter": (_N, "lower"),
    "crawl.driver_gap_s": (_S, "lower"),
    "crawl.claimed": (_N, "higher"),
    "crawl.fetched": (_N, "higher"),
    "crawl.mime_rejected": (_N, "lower"),
    "crawl.scheduled": (_N, "higher"),
    "frontier.claim_executor_s": (_S, "lower"),
    "frontier.claim_shuffle_bytes": (_B, "lower"),
    "frontier.rows": (_N, "lower"),
    "frontier.active_rows": (_N, "lower"),
    "extraction.executor_s": (_S, "lower"),
    "extraction.gc_s": (_S, "lower"),
    "seen.regime": ("code", "lower"),
    "seen.candidates": (_N, "lower"),
    "seen.new_ratio": ("ratio", "higher"),
    "seen.filter_executor_s": (_S, "lower"),
    "storage.files_written": (_N, "lower"),
    "storage.bytes_written": (_B, "lower"),
    "storage.commit_executor_s": (_S, "lower"),
    **{
        k: v
        for q in QUERIES
        for k, v in (
            (f"q.{q}_s", (_S, "lower")),
            (f"q.{q}.executor_s", (_S, "lower")),
            (f"q.{q}.shuffle_bytes", (_B, "lower")),
            (f"q.{q}.driver_gap_s", (_S, "lower")),
            (f"q.{q}.jobs", (_N, "lower")),
        )
    },
    "peak_rss_mb": ("MB", "lower"),
    "trace.overhead_s": (_S, "lower"),
    "host.steal_pct": ("%", "lower"),
    "host.system_pct": ("%", "lower"),
}
