"""Once-per-session expression trees.

Building a PySpark Column is a chain of Python→JVM gateway calls, one
per function node; the crawl super-step's iteration-invariant trees
(the native extraction kernel, the synthetic page generator, the
RankerBolt score, URL canonicalization) are hundreds of nodes each, so
rebuilding them every iteration is a fixed driver cost that no amount
of executor parallelism hides. ``session_expr`` builds a tree once per
active SparkContext and hands the same JVM Column back afterwards.

Only *un-aliased* Columns may be cached: an ``Alias`` fixes its exprId
at construction, so a shared aliased Column would give two DataFrames
the same output attribute (a self-union or self-join would then
conflate them). Callers alias the cached Column where they use it —
every ``.alias()``/``withColumn`` mints a fresh exprId.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark import SparkContext

T = TypeVar("T")

_lock = threading.Lock()
_owner: object | None = None  # the SparkContext the cached trees belong to
_trees: dict[Hashable, object] = {}


def _context_key() -> object | None:
    return SparkContext._active_spark_context


def session_expr(key: Hashable, build: Callable[[], T]) -> T:
    """The cached result of ``build()`` for ``key`` under the active
    SparkContext; a new context (session restart) drops every entry.
    ``build`` returns an un-aliased Column or a tuple/dict of them."""
    global _owner
    ctx = _context_key()
    with _lock:
        if ctx is not _owner:
            _trees.clear()
            _owner = ctx
        if key in _trees:
            return _trees[key]
    tree = build()
    with _lock:
        if _owner is ctx:
            tree = _trees.setdefault(key, tree)
    return tree
