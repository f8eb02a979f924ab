"""Snapshot-versioned parquet tables — Iceberg-style commit semantics
with zero extra dependencies.

Why: the reference persists all state in external mutable stores (Mongo
upserts WebPagesUpdaterBolt.java:70-92, Redis seen-set
StatusCheckBolt.java:59-68) with no atomicity or replay. Our crawl loop
commits every table mutation as an immutable snapshot so that
``resume == re-read last committed snapshot`` (SURVEY §7 M7). On a real
cluster this class is replaced 1:1 by Iceberg catalog tables
(``MERGE INTO`` / ``overwrite``); the sandbox has no Iceberg runtime
jar, so we emulate the exact commit protocol on plain parquet:

    <root>/<name>/data/<snap>-<uuid>.parquet/   (spark parquet dirs)
    <root>/<name>/_snapshots/<seq>.json         (manifest: data dirs)
    <root>/<name>/_snapshots/CURRENT            (atomic pointer, os.replace)

A snapshot is visible only after its manifest is atomically renamed into
place — readers never see partial writes; a killed writer leaves only
orphan data dirs (cleaned opportunistically). Single-writer, like an
Iceberg table with optimistic locking and one committer.

Schema: a parquet read without a schema runs one footer-reading Spark
job to infer it. A handle remembers the schema it last inferred, keyed
by the exact data-file list it was inferred over (Iceberg keeps the
schema in table metadata the same way), and passes it to later reads
of that list. Its own same-schema appends carry it forward; every
other commit (overwrite, merge, replace_partitions, compact), a
rollback or another writer's commit changes the file list, so the next
read infers afresh.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .interface import VersionedTable


class SnapshotTable(VersionedTable):
    def __init__(self, root: str, name: str, partition_by: tuple[str, ...] = ()):
        """partition_by: hive-style partition columns (e.g. ("bucket",))
        — filters on them prune whole directories at scan time, the
        parquet stand-in for Iceberg partition transforms like
        ``bucket(N, url_hash)``."""
        self.dir = os.path.join(root, name)
        self.data_dir = os.path.join(self.dir, "data")
        self.snap_dir = os.path.join(self.dir, "_snapshots")
        self.partition_by = tuple(partition_by)
        # (data-file list, schema inferred over exactly those files)
        self._schema: tuple[tuple[str, ...], StructType] | None = None
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.snap_dir, exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------
    def _current_path(self) -> str:
        return os.path.join(self.snap_dir, "CURRENT")

    def current_snapshot(self) -> int | None:
        try:
            with open(self._current_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _manifest(self, snap: int) -> dict:
        with open(os.path.join(self.snap_dir, f"{snap:07d}.json")) as f:
            return json.load(f)

    def _tags(self) -> set:
        """Cumulative commit tags (Iceberg: snapshot summary props) —
        the idempotence ledger for at-least-once writers: an append
        carrying an already-seen tag is a no-op. Every commit carries
        the set forward, so compaction/expiry can't forget a batch."""
        cur = self.current_snapshot()
        if cur is None:
            return set()
        return set(self._manifest(cur).get("tags", []))

    def _commit(
        self,
        files: list[str],
        op: str,
        new_tags: tuple = (),
        tags_override: list | None = None,
    ) -> int:
        snap = (self.current_snapshot() or 0) + 1
        manifest = {
            "snapshot": snap,
            "op": op,
            "files": files,
            "tags": (
                sorted(tags_override)
                if tags_override is not None
                else sorted(self._tags() | set(new_tags))
            ),
        }
        mpath = os.path.join(self.snap_dir, f"{snap:07d}.json")
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)
        ctmp = self._current_path() + ".tmp"
        with open(ctmp, "w") as f:
            f.write(str(snap))
        os.replace(ctmp, self._current_path())  # the atomic commit point
        return snap

    def _write_data(self, df: DataFrame, snap_hint: int) -> str:
        d = os.path.join(self.data_dir, f"{snap_hint:07d}-{uuid.uuid4().hex[:8]}")
        w = df.write.mode("overwrite")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(d)
        return d

    # -- schema memo -------------------------------------------------------
    def _files_key(self, files: list) -> tuple[str, ...]:
        return tuple(self._entry_path(e) for e in files)

    def _known_schema(self, files: list) -> StructType | None:
        if self._schema is not None and self._schema[0] == self._files_key(files):
            return self._schema[1]
        return None

    @staticmethod
    def _scan(spark: SparkSession, schema: StructType | None, *paths: str) -> DataFrame:
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*paths)

    def _carry_schema(self, parent: list, files: list, df: DataFrame) -> None:
        """After this handle appended ``df`` to the ``parent`` file list:
        keep the memo valid for the new list when ``df`` has the same
        columns and types. Not on partitioned tables — their partition
        column types are inferred from directory names, per segment."""
        known = self._known_schema(parent)
        self._schema = None
        if known is None or self.partition_by:
            return
        if [(f.name, f.dataType.simpleString()) for f in df.schema] == [
            (f.name, f.dataType.simpleString()) for f in known
        ]:
            self._schema = (self._files_key(files), known)

    # -- public ops ------------------------------------------------------
    def exists(self) -> bool:
        return self.current_snapshot() is not None

    def overwrite(self, df: DataFrame) -> int:
        """Replace table contents (Iceberg: overwrite snapshot)."""
        nxt = (self.current_snapshot() or 0) + 1
        d = self._write_data(df, nxt)
        return self._commit([d], "overwrite")

    def append(self, df: DataFrame, tag: str | None = None) -> int:
        """Add rows (Iceberg: append snapshot — prior files retained).

        ``tag``: idempotence token for at-least-once writers (streaming
        foreachBatch replays after a crash-before-checkpoint). If this
        table already committed the tag, the append is a NO-OP returning
        the current snapshot — the replayed batch's rows are already in
        the table. Tags survive compaction and expiry (carried on every
        manifest)."""
        cur = self.current_snapshot()
        if tag is not None and tag in self._tags():
            return cur or 0
        files = self._manifest(cur)["files"] if cur else []
        nxt = (cur or 0) + 1
        d = self._write_data(df, nxt)
        snap = self._commit(files + [d], "append", (tag,) if tag else ())
        self._carry_schema(files, files + [d], df)
        return snap

    def has_tag(self, tag: str) -> bool:
        """Whether an append carrying ``tag`` already committed. Tag and
        data commit on the SAME manifest (atomic ``os.replace``), so a
        True here means the rows are in — an at-least-once replayer can
        skip re-deriving state from the batch's rows without a torn
        window between data and ledger."""
        return tag in self._tags()

    def prune_tags(self, keep: list) -> int:
        """Drop idempotence tags outside ``keep`` (the interface's
        checkpoint-horizon rule: once the streaming checkpoint has
        committed a micro-batch's offsets, that batch can never replay
        and its tag is dead weight — without pruning the ledger grows
        one entry per batch forever and is rewritten whole on every
        commit). A no-op commit when nothing prunes; data files
        untouched."""
        cur = self.current_snapshot()
        if cur is None:
            return 0
        m = self._manifest(cur)
        kept = sorted(set(m.get("tags", [])) & {str(t) for t in keep})
        if kept == m.get("tags", []):
            return cur
        return self._commit(m["files"], "prune_tags", tags_override=kept)

    @staticmethod
    def _entry_path(e) -> str:
        return e if isinstance(e, str) else e["path"]

    def read(self, spark: SparkSession, snapshot: int | None = None) -> DataFrame:
        """Read a committed snapshot (default: current). Time travel =
        pass an older snapshot id, like Iceberg VERSION AS OF.

        Manifest entries are either plain paths or
        ``{"path": ..., "exclude": {col: [values...]}}`` — the
        merge-on-read form written by ``replace_partitions``: an
        excluded partition of an older file is shadowed by a newer file.
        The exclusion predicate is on partition columns only, so it
        prunes whole directories at scan time."""
        snap = snapshot if snapshot is not None else self.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"table {self.dir} has no committed snapshot")
        files = self._manifest(snap)["files"]
        schema = self._known_schema(files)
        out = self._read_files(spark, files, schema)
        if schema is None:
            self._schema = (self._files_key(files), out.schema)
        return out

    def _read_files(
        self, spark: SparkSession, files: list, schema: StructType | None
    ) -> DataFrame:
        has_excludes = any(not isinstance(e, str) and e.get("exclude") for e in files)
        if not has_excludes and not (self.partition_by and len(files) > 1):
            return self._scan(spark, schema, *[self._entry_path(e) for e in files])
        # each data dir has its own hive partition tree; a multi-path
        # read would reject the "conflicting" structures — union the
        # per-dir reads (partition pruning still applies per scan)
        out = None
        for e in files:
            df = self._scan(spark, schema, self._entry_path(e))
            if not isinstance(e, str):
                for col, values in (e.get("exclude") or {}).items():
                    # exclusions are stored as hive dir-name strings;
                    # compare in string space so an int partition column
                    # never depends on implicit IN-list type coercion
                    df = df.filter(
                        ~F.col(col).cast("string").isin([str(v) for v in values])
                    )
            out = df if out is None else out.unionByName(df)
        return out

    def read_partitions(
        self, spark: SparkSession, col: str, values: list
    ) -> DataFrame | None:
        """Partition-pruned read: only partition directories
        ``<col>=<value>`` of the single partition column are scanned —
        O(touched partitions), never O(table). This is what makes a
        SnapshotTable usable AS AN INDEX: a streaming probe against a
        key-bucketed band store reads the probed buckets' files, not the
        accumulated history (the Iceberg equivalent is a partition-
        column IN filter pruned at manifest level). Returns ``None``
        when no listed partition exists yet. Merge-on-read exclusion
        entries are honored (exclusions are on partition columns, so an
        excluded value simply skips that file's directory)."""
        assert self.partition_by == (col,), (
            f"read_partitions prunes on the table's partition column "
            f"{self.partition_by}, got {col!r}"
        )
        snap = self.current_snapshot()
        if snap is None:
            return None
        out = None
        wanted = {str(v) for v in values}
        for e in self._manifest(snap)["files"]:
            path = self._entry_path(e)
            excluded = set()
            if not isinstance(e, str):
                excluded = {str(v) for v in (e.get("exclude") or {}).get(col, [])}
            dirs = [
                os.path.join(path, f"{col}={v}")
                for v in sorted(wanted - excluded)
                if os.path.isdir(os.path.join(path, f"{col}={v}"))
            ]
            if not dirs:
                continue
            df = spark.read.option("basePath", path).parquet(*dirs)
            out = df if out is None else out.unionByName(df)
        return out

    def append_arrow(self, table) -> int:
        """Driver-side append of a small Arrow table (metrics-sized
        metadata that already lives on the driver) — one parquet file
        written directly, no Spark job. Same snapshot/commit protocol;
        read() sees it like any other segment. The crawl loop uses this
        for its 4-row per-iteration metrics commit: routing driver-local
        rows through a Spark write costs a whole job of core-count-
        independent scheduling time per iteration."""
        import pyarrow.parquet as pq

        cur = self.current_snapshot()
        files = self._manifest(cur)["files"] if cur else []
        nxt = (cur or 0) + 1
        d = os.path.join(self.data_dir, f"{nxt:07d}-{uuid.uuid4().hex[:8]}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
        return self._commit(files + [d], "append")

    def read_appended(self, spark: SparkSession, snapshot: int) -> DataFrame:
        """Incremental read: only the data files ADDED by ``snapshot``
        relative to its parent — Iceberg's incremental/changelog scan.
        O(batch), never O(table): the crawl loop uses this to re-read the
        document rows it just committed (narrow columnar projection)
        without listing or filtering the whole table. For a
        ``replace_partitions``/``merge`` snapshot the new file holds the
        merged *partitions* (old rows of touched partitions included) —
        filter by a batch predicate if exact batch rows are needed.

        Reads with the table schema: remembered, or (unpartitioned) read
        once for the snapshot and remembered from then on."""
        entries = self._manifest(snapshot)["files"]
        files = set(self._files_key(entries))
        prev: set[str] = set()
        if snapshot > 1 and os.path.exists(
            os.path.join(self.snap_dir, f"{snapshot - 1:07d}.json")
        ):
            prev = {
                self._entry_path(e) for e in self._manifest(snapshot - 1)["files"]
            }
        schema = self._known_schema(entries)
        if schema is None and not self.partition_by:
            schema = self.read(spark, snapshot).schema
        return self._scan(spark, schema, *sorted(files - prev))

    def replace_partitions(
        self, spark: SparkSession, df: DataFrame, partition_values: dict
    ) -> int:
        """Replace the listed partitions with ``df``'s rows — Iceberg's
        dynamic partition overwrite / ``rewrite_data_files`` scoped to
        touched partitions. ``partition_values``: {partition_col:
        [values...]}. Untouched partitions keep their existing files
        untouched (merge-on-read exclusion, resolved at scan by
        partition pruning); only the new data dir is written — O(touched
        partitions), never O(table)."""
        assert len(self.partition_by) == 1, (
            "replace_partitions supports a single partition column "
            "(independent per-column exclusion lists would over-exclude "
            "on composite partitioning)"
        )
        cur = self.current_snapshot()
        old = self._manifest(cur)["files"] if cur else []
        new_files = []
        for e in old:
            entry = {"path": self._entry_path(e), "exclude": {}} if isinstance(
                e, str
            ) else {"path": e["path"], "exclude": dict(e.get("exclude") or {})}
            for col, values in partition_values.items():
                seen = set(entry["exclude"].get(col, []))
                # normalize to the hive dir-name string form so exclusion
                # sets stay comparable whatever Python type callers pass
                entry["exclude"][col] = sorted(
                    {str(v) for v in seen} | {str(v) for v in values}
                )
            # a segment whose every on-disk partition is excluded holds
            # no visible row — drop the entry so reads stop opening it
            # and history stays bounded under repeated merges (Iceberg
            # drops fully-rewritten data files from the new snapshot the
            # same way); the directory itself lives until
            # expire_snapshots retires the manifests that reference it
            on_disk = self._dir_partition_values(entry["path"])
            col0 = self.partition_by[0]
            if on_disk and on_disk <= set(entry["exclude"].get(col0, [])):
                continue
            new_files.append(entry)
        nxt = (cur or 0) + 1
        d = self._write_data(df, nxt)
        return self._commit(new_files + [d], "replace_partitions")

    def _dir_partition_values(self, path: str) -> set[str]:
        """The hive partition values (dir-name strings) a data segment
        holds for this table's single partition column."""
        pre = f"{self.partition_by[0]}="
        try:
            return {n[len(pre):] for n in os.listdir(path) if n.startswith(pre)}
        except FileNotFoundError:
            return set()

    def fragmented_partitions(self, col: str, min_segments: int = 2) -> list[str]:
        """Partition values whose live rows span ≥ ``min_segments`` data
        segments — the read-amplified subset an incremental maintenance
        pass should rewrite (Iceberg: GROUP BY partition over the
        ``.files`` metadata table). Values are hive dir-name strings,
        directly consumable by :meth:`compact_partitions`."""
        assert self.partition_by == (col,)
        cur = self.current_snapshot()
        if cur is None:
            return []
        counts: dict[str, int] = {}
        for e in self._manifest(cur)["files"]:
            excluded = set()
            if not isinstance(e, str):
                excluded = {str(v) for v in (e.get("exclude") or {}).get(col, [])}
            for v in self._dir_partition_values(self._entry_path(e)) - excluded:
                counts[v] = counts.get(v, 0) + 1
        return sorted(v for v, n in counts.items() if n >= min_segments)

    def compact_partitions(self, spark: SparkSession, col: str, values: list) -> int:
        """Partition-scoped small-file compaction: rewrite ONLY the
        listed partitions' rows into one fresh segment (Iceberg:
        ``rewrite_data_files(where => "col IN (...)")``). Cost is
        O(listed partitions), never O(table) — this is what keeps a
        streaming index's maintenance incremental: each pass folds the
        buckets fragmented since the last pass and leaves every other
        bucket's files byte-identical (no read-amp reset for data that
        didn't move). Contents unchanged; tags carry forward."""
        sub = self.read_partitions(spark, col, values)
        if sub is None:
            return self.current_snapshot() or 0
        return self.replace_partitions(spark, sub, {col: list(values)})

    def merge(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key: str | list[str],
        update_cols: list[str] | None = None,
    ) -> int:
        """Iceberg ``MERGE INTO target USING updates ON key WHEN MATCHED
        UPDATE WHEN NOT MATCHED INSERT`` — the reference's Mongo upsert
        (WebPagesUpdaterBolt.java:70-92 update-else-insert by url;
        MediaUpdaterBolt.java:85-126 by id) as a snapshot commit.

        Matched rows take ``update_cols`` (default: all non-key columns)
        from ``updates``; unmatched target rows pass through; unmatched
        update rows insert.

        Physical strategy: on a single-column-partitioned table (e.g.
        ``bucket``), the merge is **partition-scoped** — only the
        partitions present in ``updates`` are read, merged and
        rewritten (``replace_partitions``); everything else keeps its
        files. O(touched partitions), the Iceberg MERGE shape. On an
        unpartitioned table it falls back to the full-outer rewrite.
        """
        keys = [key] if isinstance(key, str) else list(key)
        if not self.exists():
            return self.overwrite(updates)
        if len(self.partition_by) == 1 and self.partition_by[0] in updates.columns:
            pcol = self.partition_by[0]
            touched = [r[0] for r in updates.select(pcol).distinct().collect()]
            target_sub = self.read(spark).filter(F.col(pcol).isin(touched))
            merged = self._merge_frames(target_sub, updates, keys, update_cols)
            return self.replace_partitions(spark, merged, {pcol: touched})
        target = self.read(spark)
        return self.overwrite(self._merge_frames(target, updates, keys, update_cols))

    @staticmethod
    def _merge_frames(
        target: DataFrame,
        updates: DataFrame,
        keys: list[str],
        update_cols: list[str] | None,
    ) -> DataFrame:
        cols = [c for c in target.columns if c not in keys]
        upd = update_cols if update_cols is not None else [
            c for c in updates.columns if c not in keys
        ]
        u2 = updates.withColumn("__is_update", F.lit(True))
        joined = target.alias("t").join(u2.alias("u"), keys, "full_outer")
        has_update = F.col("u.__is_update").isNotNull()  # NULL-safe marker
        out_cols = [F.col(k).alias(k) for k in keys]
        for c in cols:
            if c in upd and c in updates.columns:
                out_cols.append(
                    F.when(has_update, F.col(f"u.{c}"))
                    .otherwise(F.col(f"t.{c}"))
                    .alias(c)
                )
            else:
                out_cols.append(F.col(f"t.{c}").alias(c))
        return joined.select(*out_cols)

    def merge_if_absent(
        self, spark: SparkSession, rows: DataFrame, key: str | list[str]
    ) -> int:
        """Insert-only merge: ``WHEN NOT MATCHED INSERT`` with matched
        target rows kept untouched — the reference's *second* merge in
        MediaUpdaterBolt.java:120-126 (the media item's StreamUser is
        inserted only if absent; an existing user row is never
        overwritten).

        Physically a pure append of the anti-joined batch — no table
        rewrite at all (unlike ``merge``), so it is O(batch) + one
        anti-join against the key column of the target (broadcast /
        storage-partitioned at scale). Duplicate keys inside the batch
        resolve to one deterministic winner (min over the full row
        struct)."""
        keys = [key] if isinstance(key, str) else list(key)
        other = [c for c in rows.columns if c not in keys]
        batch = (
            rows.groupBy(*keys)
            .agg(F.min(F.struct(*other)).alias("_w"))
            .select(*keys, "_w.*")
            .select(*rows.columns)
        )
        if not self.exists():
            return self.overwrite(batch)
        target_keys = self.read(spark).select(*keys)
        inserts = batch.join(target_keys, keys, "left_anti")
        return self.append(inserts)

    def compact(self, spark: SparkSession) -> int:
        """Rewrite the current snapshot into ONE data segment (Iceberg
        rewrite_data_files). The new segment is written to a fresh
        directory before the commit flips CURRENT, so concurrent
        readers of the old snapshot are untouched; merge-on-read
        exclusion entries are resolved into plain rows. Old segments
        remain for time travel until :meth:`expire_snapshots`."""
        df = self.read(spark)
        nxt = (self.current_snapshot() or 0) + 1
        d = self._write_data(df, nxt)
        return self._commit([d], "compact")

    def expire_snapshots(self, keep_last: int = 1) -> None:
        """Drop all snapshots except the newest ``keep_last`` ending at
        CURRENT (after a rollback this also removes the abandoned
        newer-than-current snapshots), then delete data directories no
        kept manifest references. Time travel to an expired snapshot
        raises FileNotFoundError afterwards — same contract as Iceberg
        expire_snapshots."""
        cur = self.current_snapshot()
        if cur is None:
            return
        keep = set(range(max(1, cur - int(keep_last) + 1), cur + 1))
        # liveness by abspath: manifests may record the path under a
        # different root spelling (relative vs absolute) than the handle
        # doing the expiry — raw string compare would sweep LIVE dirs
        live: set[str] = set()
        for s in keep:
            mp = os.path.join(self.snap_dir, f"{s:07d}.json")
            if os.path.exists(mp):
                live |= {
                    os.path.realpath(self._entry_path(e))
                    for e in self._manifest(s)["files"]
                }
        for name in os.listdir(self.snap_dir):
            if not name.endswith(".json"):
                continue
            if int(name[:-5]) not in keep:
                os.remove(os.path.join(self.snap_dir, name))
        for name in os.listdir(self.data_dir):
            p = os.path.realpath(os.path.join(self.data_dir, name))
            if p not in live:
                shutil.rmtree(p, ignore_errors=True)
        # inside kept segments, a partition subdir that EVERY kept
        # manifest referencing the segment excludes can never be read
        # again — reclaim it (the storage tail of compact_partitions:
        # the rewritten buckets' old files, like Iceberg expiring the
        # files a scoped rewrite_data_files replaced)
        if len(self.partition_by) != 1:
            return
        col = self.partition_by[0]
        views: dict[str, list[set[str]]] = {}
        for s in keep:
            mp = os.path.join(self.snap_dir, f"{s:07d}.json")
            if not os.path.exists(mp):
                continue
            for e in self._manifest(s)["files"]:
                p = os.path.realpath(self._entry_path(e))
                exc = set()
                if not isinstance(e, str):
                    exc = {str(v) for v in (e.get("exclude") or {}).get(col, [])}
                views.setdefault(p, []).append(exc)
        for p, excs in views.items():
            for v in sorted(set.intersection(*excs)):
                shutil.rmtree(os.path.join(p, f"{col}={v}"), ignore_errors=True)

    def rollback_to(self, snapshot: int) -> None:
        """Point CURRENT back to an older snapshot (resume-after-kill)."""
        if not os.path.exists(os.path.join(self.snap_dir, f"{snapshot:07d}.json")):
            raise FileNotFoundError(f"no snapshot {snapshot}")
        self._schema = None
        ctmp = self._current_path() + ".tmp"
        with open(ctmp, "w") as f:
            f.write(str(snapshot))
        os.replace(ctmp, self._current_path())

    def drop(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
