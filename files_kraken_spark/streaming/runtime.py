"""Micro-batch streaming runtime (reference parity: R1-R6, D3, D5, D6).

The reference's poll loop re-scans, diffs against a JSON-backed
snapshot, and pushes ``Changes`` through an event bus into the
builder (``monitoring/_monitoring.py:270-304``). Here each poll tick
is one micro-batch: scan → diff (created AND deleted — Spark's own
file stream source only sees additions) → per-blueprint assembly →
state-table commit → snapshot commit. The scan, the diff and the
snapshot commit run on the driver over Arrow tables, as Structured
Streaming's file source keeps its listing and seen-files log on the
driver: an idle tick runs no Spark job, and only a non-empty change
set becomes a DataFrame (one local relation for all watchers).
``Trigger.AvailableNow`` semantics = ``run_once``;
``processingTime`` = ``run(poll_interval=…)``; the reference's
``exit_time``/``exit_file`` stop conditions are preserved (R2).

``start_stream`` additionally wires a true Structured Streaming file
source (created-side only) with ``foreachBatch`` running the same
assembly — the deletion-reconciliation stays with the poll loop, the
single owner of the state table (SURVEY §7.4).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..blueprint import Blueprint
from ..operators.assemble import assemble, match_batch
from ..operators.diff import table_diff
from ..sources.listing import NameMatcher, list_files, walk_table
from ..sources.snapshot import SnapshotStore
from ..store import StateStore


@dataclass
class PollBatch:
    """One watcher tick's output: ``(path, name, change)`` rows as an
    Arrow table.

    ``commit()`` durably advances the snapshot and is invoked by the
    runtime only AFTER downstream processing succeeds — a crash between
    diff and state commit re-polls the same changes next tick
    (at-least-once; the reference's crash window at
    ``monitoring/_monitoring.py:71-76`` is at-most-once).
    """

    changes: pa.Table
    commit: Callable[[], object]


@dataclass
class Watcher:
    """D3 — stateful change watcher for a set of roots."""

    roots: list[str]
    snapshot_dir: str
    matcher: NameMatcher | None = None
    dir_matcher: NameMatcher | None = None
    max_depth: int | None = None
    keep_empty_dirs: bool = False
    timeout: float = 10.0  # reference default poll interval (R1)
    _last_poll: float = field(default=0.0, repr=False)

    def _options(self) -> dict:
        return dict(
            max_depth=self.max_depth,
            matcher=self.matcher,
            dir_matcher=self.dir_matcher,
            keep_empty_dirs=self.keep_empty_dirs,
        )

    def scan(self, spark: SparkSession) -> DataFrame:
        return list_files(spark, self.roots, **self._options())

    def poll(self, spark: SparkSession | None = None) -> PollBatch | None:
        """One tick: scan, diff vs snapshot
        (``monitoring/_monitoring.py:71-76``), all on the driver — no
        Spark job runs, so ``spark`` is unused. Returns a PollBatch, or
        None when nothing changed.

        The snapshot commit is DEFERRED into ``PollBatch.commit`` so
        the caller advances it only after processing succeeds. It
        commits the walked table itself: the snapshot must be the exact
        tree that was diffed, not a re-scan that could silently absorb
        files created mid-tick."""
        store = SnapshotStore(self.snapshot_dir)
        cur = walk_table(self.roots, **self._options())
        changes = table_diff(store.read(["path", "is_dir"]), cur)
        if changes.num_rows == 0:
            return None
        return PollBatch(changes=changes, commit=lambda: store.save(cur))

    def reindex_changes(self) -> pa.Table:
        """D6 — replay the whole current tree as 'created'."""
        return table_diff(None, walk_table(self.roots, **self._options()))


class Workflow:
    """R5 — session façade: watchers + blueprints + state store.

    Mirrors the reference's ``Workflow`` defaults-wiring
    (``initializer/_initializer.py:30-87``) with a
    ``workflow_data/<name>/`` layout (R6) for state + snapshots.
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        blueprints: list[Blueprint],
        data_dir: str | None = None,
        exit_time: float | None = None,
        exit_file: str | None = None,
        state_store=None,
    ):
        if not blueprints:
            raise ValueError("at least one blueprint is required (initializer/_initializer.py:84-87)")
        self.spark = spark
        self.name = name
        self.blueprints = blueprints
        self.data_dir = data_dir or os.path.join(os.getcwd(), "workflow_data", name)
        # pluggable backend (reference Database ABC, _database.py:12-23):
        # the copy-on-write parquet store by default; pass a
        # JdbcStateStore instance for the JDBC-upsert deployment
        if state_store is None:
            state_store = StateStore(os.path.join(self.data_dir, "state"))
        self.state = state_store
        self.watchers: list[Watcher] = []
        self.exit_time = exit_time
        self.exit_file = exit_file
        self._started = time.time()

    def add_watcher(self, roots: str | list[str], **kw) -> Watcher:
        roots = [roots] if isinstance(roots, str) else list(roots)
        w = Watcher(
            roots=roots,
            snapshot_dir=os.path.join(
                self.data_dir, "snapshots", f"watcher_{len(self.watchers)}"
            ),
            **kw,
        )
        self.watchers.append(w)
        return w

    # --------------------------------------------------------- one batch

    def process_changes(self, changes: DataFrame) -> None:
        """R3 — the 'event bus': every blueprint consumes the batch;
        each assembly commits its own state version. The batch is also
        appended to the audit log (R4 — the reference's timestamped
        change report, ``monitoring/_monitoring.py:217-227``, as a
        queryable table instead of console prints)."""
        self._audit(changes)
        roots = [r for w in self.watchers for r in w.roots] or None
        for bp in self.blueprints:
            cur = self.state.load(self.spark, bp)
            new = assemble(changes, cur, bp, content_roots=roots)
            # incremental commit: only buckets holding this batch's
            # entities are rewritten (S12 / reference per-entity update)
            touched = match_batch(changes, bp).select("id").distinct()
            self.state.overwrite(bp, new, touched_ids=touched)

    def _audit(self, changes: DataFrame) -> None:
        audit_dir = os.path.join(self.data_dir, "audit")
        changes.withColumn("batch_ts", F.current_timestamp()).write.mode(
            "append"
        ).parquet(audit_dir)

    def conflicts(self) -> DataFrame:
        """All quarantined entities across blueprints — the engine's
        surfacing of the reference's merge ValueErrors
        (fields/_fields.py:82-86) as queryable rows, not exceptions."""
        out = None
        for bp in self.blueprints:
            c = (
                self.state.load(self.spark, bp)
                .filter(F.size("_conflicts") > 0)
                .select("blueprint", "id", "_conflicts")
            )
            out = c if out is None else out.unionByName(c)
        return out

    def stats(self) -> dict[str, int]:
        """Per-blueprint entity counts (operational visibility)."""
        return {
            bp.name: self.state.load(self.spark, bp).count() for bp in self.blueprints
        }

    def audit_log(self) -> DataFrame:
        """R4 — full change history: (path, name, change, batch_ts)."""
        audit_dir = os.path.join(self.data_dir, "audit")
        try:
            return self.spark.read.parquet(audit_dir)
        except Exception:
            return self.spark.createDataFrame(
                [], "path string, name string, change string, batch_ts timestamp"
            )

    def run_once(self, force_reindex: bool = False, respect_timeouts: bool = False) -> int:
        """One micro-batch across all watchers (AvailableNow semantics;
        the reference's per-tick body, R1 loop minus the sleep).
        Returns the number of change rows processed.

        With ``respect_timeouts`` each watcher only polls once its own
        ``timeout`` has elapsed since its last poll — the reference's
        per-monitor cadence (``monitoring/_monitoring.py:198-201``).
        """
        if not self.watchers:
            raise ValueError("no watchers configured (initializer/_initializer.py:80-83)")
        polled: list[PollBatch] = []
        now = time.time()
        for w in self.watchers:
            if respect_timeouts and not force_reindex and now - w._last_poll < w.timeout:
                continue
            w._last_poll = now
            if force_reindex:
                polled.append(PollBatch(w.reindex_changes(), commit=lambda: None))
            elif (pb := w.poll(self.spark)) is not None:
                polled.append(pb)
        if not polled:
            return 0
        table = pa.concat_tables([pb.changes for pb in polled])  # D4
        if table.num_rows:
            self.process_changes(self.spark.createDataFrame(table))
        # snapshots advance only after every blueprint committed —
        # a failure above re-polls the same diff next tick
        for pb in polled:
            pb.commit()
        return table.num_rows

    def _time_to_exit(self) -> bool:
        """R2 — wall-clock or sentinel-file stop
        (``monitoring/_monitoring.py:208-215``)."""
        if self.exit_time is not None and time.time() - self._started >= self.exit_time:
            return True
        if self.exit_file:
            try:
                if os.path.getsize(self.exit_file) > 0:
                    return True
            except OSError:
                pass
        return False

    def run(self, poll_interval: float = 1.0, reindex_interval: float | None = None) -> None:
        """R1 — processing-time poll loop with optional D6 reindex."""
        self._started = time.time()
        last_reindex = time.time()
        while not self._time_to_exit():
            force = (
                reindex_interval is not None
                and time.time() - last_reindex >= reindex_interval
            )
            if force:
                last_reindex = time.time()
            self.run_once(force_reindex=force, respect_timeouts=True)
            time.sleep(poll_interval)

    # -------------------------------------------- structured streaming

    def start_stream(self, root: str, checkpoint_dir: str, glob: str = "*"):
        """True Structured Streaming ingest for the created side: file
        source discovers new files; ``foreachBatch`` funnels them into
        the same assembly. Deletions still come from the poll loop —
        one owner for the state table."""
        stream = (
            self.spark.readStream.format("binaryFile")
            .schema(
                "path string, modificationTime timestamp, length long, content binary"
            )
            .option("pathGlobFilter", glob)
            .option("recursiveFileLookup", "true")
            .load(root)
            .select(F.col("path"))
        )

        def _on_batch(batch_df: DataFrame, batch_id: int) -> None:
            # binaryFile reports URI-form paths (file:/...); the poll
            # loop and the content join use plain OS paths — normalize
            # here or PATH-typed state splits into two conflicting
            # spellings of the same file and parsers get NULL bytes
            plain = F.regexp_replace(F.col("path"), "^file:(//)?", "")
            changes = batch_df.distinct().select(
                plain.alias("path"),
                F.element_at(F.split(plain, "/"), -1).alias("name"),
                F.lit("created").alias("change"),
            )
            self.process_changes(changes)

        return (
            stream.writeStream.foreachBatch(_on_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
