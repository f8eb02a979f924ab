"""Shared state of one benchmark run: results, failure accounting and
small helpers the workloads share."""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import traceback


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def code_digest(root: str) -> str:
    """Digest of the program's and the benchmark's Python sources under
    ``root``: runs compare themselves only with earlier runs of the
    same code."""
    h = hashlib.sha256()
    for top in ("mklab_focused_crawler_spark", "perfbench", "__spark_entry__.py"):
        paths = [os.path.join(root, top)] if top.endswith(".py") else sorted(
            os.path.join(d, f)
            for d, _, files in os.walk(os.path.join(root, top))
            for f in files
            if f.endswith(".py")
        )
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def list_files(root: str) -> dict:
    """path -> size of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass  # removed between listing and stat (snapshot expiry)
    return out


def new_files(before: dict, after: dict) -> dict:
    return {p: s for p, s in after.items() if p not in before}


class Run:
    """One run of one workload. Workloads fill ``e2e`` (end-to-end
    metric values), ``layer`` (per-layer values), ``report`` (the
    metrics under the names the workload's own domain uses, printed for
    people) and register ``post`` callbacks that derive per-layer
    values from the parsed event log once Spark has stopped."""

    def __init__(self, spark, tracer, workload: str, workdir: str, seed: int, seconds: int,
                 trace: bool, digest: str):
        self.spark = spark
        self.digest = digest
        self.workload = workload
        self.tracer = tracer
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.e2e: dict = {}
        self.layer: dict = {}
        self.report: dict = {}
        self.post: list = []
        self.attempted = 0
        self.failed = 0

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """One output check: counts as an attempted call, and as a
        failed one when ``ok`` is false."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {name} {detail}", file=sys.stderr)
        return ok

    def call_raised(self, name: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: call raised: {name}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def history(self, key: str, value=None, any_seed: bool = False) -> list:
        """Values earlier runs of the same code and workload (and seed,
        unless ``any_seed``) recorded under ``key`` in the checkout,
        oldest first; then records ``value`` for this run (unless None)."""
        path = os.path.join(os.path.dirname(self.workdir), "history.jsonl")
        me = {"digest": self.digest, "workload": self.workload, "seed": self.seed}
        match = {k: v for k, v in me.items() if not (any_seed and k == "seed")}
        past = []
        if os.path.exists(path):
            with open(path) as f:
                for line in f:
                    r = json.loads(line)
                    if {k: r.get(k) for k in match} == match and key in r:
                        past.append(r[key])
        if value is not None:
            with open(path, "a") as f:
                f.write(json.dumps({**me, key: value}) + "\n")
        return past

    @property
    def error_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
