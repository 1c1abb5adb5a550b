"""Per-layer spans for one `Workflow.run_once` tick, recorded from outside
the package.

`Tracer.installed(wf)` patches the public functions that
`files_kraken_spark.streaming.runtime` calls through (listing, snapshot
store, watcher poll, audit, state store, assembly, content join) with
wrappers that open a span. Every span runs its Spark jobs under its own
job group and restores the caller's group on exit, so each job is
charged to the innermost span that started it. After the tick,
`tick_record` reads the jobs of every span from Spark's status store
(per-stage executor time, shuffle and spill) and turns the spans into
one flat record of per-layer numbers. Nothing is patched outside the
`installed` block, so untraced ticks run the unmodified code.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql.readwriter import DataFrameReader

import files_kraken_spark.operators.assemble as assemble_mod
import files_kraken_spark.streaming.runtime as runtime
from files_kraken_spark.sources.snapshot import SnapshotStore

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@dataclass
class Span:
    name: str
    group: str
    parent: "Span | None"
    tags: dict = field(default_factory=dict)
    start: float = 0.0
    end: float = 0.0
    children_s: float = 0.0
    # filled from the status store after the tick
    jobs: int = 0
    run_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


def parquet_rows(path: str) -> int:
    """Rows in the parquet files of one directory (or one file), read
    from the footers; 0 when the path no longer exists."""
    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                total += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return total


def count_files(roots: list[str]) -> int:
    n = 0
    for r in roots:
        if os.path.isfile(r):
            n += 1
            continue
        for _dirpath, _dirs, files in os.walk(r):
            n += len(files)
    return n


class _CountingSession:
    """Stands in for the session inside `list_files` to count the rows
    the listing hands to `createDataFrame`."""

    def __init__(self, spark, span: Span):
        self._spark = spark
        self._span = span

    def createDataFrame(self, data, *a, **kw):
        self._span.tags["files"] = self._span.tags.get("files", 0) + len(data)
        return self._spark.createDataFrame(data, *a, **kw)

    def __getattr__(self, name):
        return getattr(self._spark, name)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self._seq = 0
        self._stack: list[Span] = []
        self.spans: list[Span] = []
        self.parquet_reads: list[str] = []
        self.state_writes: list[tuple[str, str]] = []  # (blueprint, bucket dir)
        self.snapshot_writes: list[str] = []
        self.content_roots: list[list[str]] = []

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str, **tags):
        self._seq += 1
        sp = Span(name, f"perfbench-{os.getpid()}-{self._seq}", self._stack[-1] if self._stack else None, tags)
        prev = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, prev[0])
            self.sc.setLocalProperty(_DESC, prev[1])
            if sp.parent is not None:
                sp.parent.children_s += sp.dur
            self.spans.append(sp)

    def reset(self) -> None:
        self.spans.clear()
        self.parquet_reads.clear()
        self.state_writes.clear()
        self.snapshot_writes.clear()
        self.content_roots.clear()

    # --------------------------------------------------------- patching

    @contextmanager
    def installed(self, wf):
        """Patch the layer boundaries `run_once` calls through."""
        patches: list[tuple[object, str, object]] = []
        tracer = self

        def patch(owner, attr, make):
            orig = getattr(owner, attr)
            patches.append((owner, attr, orig))
            setattr(owner, attr, functools.wraps(orig)(make(orig)))

        def spanned(name, tag=None):
            def make(orig):
                def wrapper(*a, **kw):
                    with tracer.span(name, **(tag(*a, **kw) if tag else {})):
                        return orig(*a, **kw)

                return wrapper

            return make

        def listing(orig):
            def wrapper(spark, *a, **kw):
                with tracer.span("listing") as sp:
                    return orig(_CountingSession(spark, sp), *a, **kw)

            return wrapper

        def snapshot_save(orig):
            def wrapper(store, df):
                with tracer.span("snapshot.save"):
                    v = orig(store, df)
                tracer.snapshot_writes.append(os.path.join(store.root, f"v={v}"))
                return v

            return wrapper

        def state_overwrite(orig):
            def wrapper(store, bp, *a, **kw):
                before = _manifest_buckets(store.root, bp.name)
                with tracer.span("state.overwrite", bp=bp.name):
                    out = orig(store, bp, *a, **kw)
                after = _manifest_buckets(store.root, bp.name)
                for k, v in after.items():
                    if before.get(k) != v:
                        tracer.state_writes.append(
                            (bp.name, os.path.join(store.root, bp.name, f"b={k}", f"v={v}"))
                        )
                return out

            return wrapper

        def join_content(orig):
            def wrapper(out, src_col, content_col, roots=None):
                with tracer.span("content"):
                    res = orig(out, src_col, content_col, roots)
                tracer.content_roots.append(list(roots or []))
                return res

            return wrapper

        def reader_parquet(orig):
            def wrapper(reader, *paths, **kw):
                tracer.parquet_reads.extend(paths)
                return orig(reader, *paths, **kw)

            return wrapper

        state_cls = type(wf.state)
        patch(runtime, "list_files", listing)
        patch(SnapshotStore, "load", spanned("snapshot.load"))
        patch(SnapshotStore, "save", snapshot_save)
        patch(runtime.Watcher, "poll", spanned("poll"))
        patch(runtime.Workflow, "_audit", spanned("audit"))
        patch(state_cls, "load", spanned("state.load", lambda _s, _sp, bp: {"bp": bp.name}))
        patch(state_cls, "overwrite", state_overwrite)
        patch(runtime, "assemble", spanned("assemble", lambda _c, _s, bp, **_: {"bp": bp.name}))
        patch(runtime, "match_batch", spanned("match_batch"))
        patch(assemble_mod, "match_batch", spanned("match_batch"))
        patch(assemble_mod, "_join_content", join_content)
        patch(DataFrameReader, "parquet", reader_parquet)
        try:
            yield self
        finally:
            for owner, attr, orig in reversed(patches):
                setattr(owner, attr, orig)

    # ------------------------------------------------- status-store read

    def _attach_job_metrics(self) -> list[tuple[int, int]]:
        """Charge every job (and each of its stages, once) to the span
        whose group ran it. Returns the (start, end) epoch-ms interval
        of every job."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen_stages: set[int] = set()
        intervals: list[tuple[int, int]] = []
        for sp in self.spans:
            for jid in sorted(tracker.getJobIdsForGroup(sp.group)):
                jd = store.job(jid)
                sp.jobs += 1
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    intervals.append(
                        (jd.submissionTime().get().getTime(), jd.completionTime().get().getTime())
                    )
                sids = jd.stageIds()
                for i in range(sids.size()):
                    sid = sids.apply(i)
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # stage never submitted: nothing ran
                        continue
                    sp.run_ms += sd.executorRunTime()
                    sp.shuffle_bytes += sd.shuffleWriteBytes()
                    sp.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return intervals

    def tick_record(self, tick: Span, epoch_start_ms: float, batch_files: int, blueprints: list[str], state_root: str) -> dict:
        """Flat per-layer record of one traced tick (`tick` is the root
        span around `run_once`). Also returns `self_time_ok`: every
        span's self time is >= 0 and within the tick's wall time."""
        intervals = self._attach_job_metrics()
        wall = tick.dur
        by = {}
        for sp in self.spans:
            by.setdefault(sp.name, []).append(sp)

        def tot(name, attr="dur", bp=None):
            return sum(getattr(s, attr) for s in by.get(name, []) if bp is None or s.tags.get("bp") == bp)

        def subtree(sp: Span) -> list[Span]:
            out = [sp]
            for s in self.spans:
                p = s.parent
                while p is not None:
                    if p is sp:
                        out.append(s)
                        break
                    p = p.parent
            return out

        eps = 1e-3
        self_time_ok = all(-eps <= s.self_s <= wall + eps for s in self.spans)

        # wall time with no job active, from the job intervals clipped to the tick
        t0 = epoch_start_ms
        t1 = epoch_start_ms + wall * 1000.0
        covered, cur_end = 0.0, t0
        for a, b in sorted(intervals):
            a, b = max(a, cur_end), min(b, t1)
            if b > a:
                covered += b - a
                cur_end = b
        driver_only_s = max(0.0, wall - covered / 1000.0)

        rec = {
            "runtime.tick_s": wall,
            "runtime.jobs_per_tick": sum(s.jobs for s in self.spans),
            "runtime.driver_only_s": driver_only_s,
            "runtime.executor_util": sum(s.run_ms for s in self.spans) / 1000.0 / (wall * self.cores),
            "runtime.audit_s": tot("audit"),
            "listing.s": tot("listing"),
            "listing.files": sum(s.tags.get("files", 0) for s in by.get("listing", [])),
            "snapshot.load_s": tot("snapshot.load"),
            "snapshot.save_s": tot("snapshot.save"),
            "snapshot.rows_written": sum(parquet_rows(p) for p in self.snapshot_writes),
            "snapshot.jobs": tot("snapshot.load", "jobs") + tot("snapshot.save", "jobs"),
            "diff.s": sum(s.self_s for s in by.get("poll", [])),
            "diff.jobs": tot("poll", "jobs"),
            "assemble.build_s": tot("assemble"),
            "assemble.jobs": sum(x.jobs for s in by.get("assemble", []) for x in subtree(s)),
            "assemble.match_batch_calls": len(by.get("match_batch", [])),
        }
        files_read = sum(count_files(r) for r in self.content_roots)
        rec["content.files_read"] = files_read
        rec["content.read_amplification"] = files_read / max(batch_files, 1)

        reads: dict[str, int] = {}
        for p in self.parquet_reads:
            rel = os.path.relpath(os.path.abspath(p), state_root)
            if not rel.startswith(".."):
                bp = rel.split(os.sep, 1)[0]
                reads[bp] = reads.get(bp, 0) + parquet_rows(p)
        writes: dict[str, list[str]] = {}
        for bp, d in self.state_writes:
            writes.setdefault(bp, []).append(d)
        totals: dict[str, float] = {}
        for bp in blueprints:
            state_spans = [s for s in by.get("state.load", []) + by.get("state.overwrite", []) if s.tags.get("bp") == bp]
            rows_written = sum(parquet_rows(d) for d in writes.get(bp, []))
            m = {
                "load_s": tot("state.load", bp=bp),
                "overwrite_s": tot("state.overwrite", bp=bp),
                "overwrite_jobs": tot("state.overwrite", "jobs", bp=bp),
                "rows_read": reads.get(bp, 0),
                "rows_written": rows_written,
                "buckets_rewritten": len(writes.get(bp, [])),
                "shuffle_bytes": sum(s.shuffle_bytes for s in state_spans),
                "executor_run_s": sum(s.run_ms for s in state_spans) / 1000.0,
                "spill_bytes": sum(s.spill_bytes for s in state_spans),
            }
            for k, v in m.items():
                rec[f"state.{bp}.{k}"] = v
                totals[k] = totals.get(k, 0) + v
            rec[f"state.{bp}.read_amplification"] = m["rows_read"] / max(rows_written, 1)
        for k, v in totals.items():
            rec[f"state.{k}"] = v
        rec["state.read_amplification"] = totals["rows_read"] / max(totals["rows_written"], 1)
        rec["self_time_ok"] = self_time_ok
        return rec


def _manifest_buckets(state_root: str, bp_name: str) -> dict[str, int]:
    try:
        with open(os.path.join(state_root, bp_name, "manifest.json")) as f:
            return json.load(f)["buckets"]
    except (FileNotFoundError, ValueError):
        return {}
