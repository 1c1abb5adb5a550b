"""`filetree` — a Spark 4 Python DataSource over directory trees.

The reference's collector is an imperative walk the caller invokes
(``collector/_collector.py:90-117``); ``listing.py`` already re-expresses
it as DataFrame builders. This module goes one step further and makes the
file tree a *first-class Spark source*, so a user can write

    spark.dataSource.register(FileTreeDataSource)
    df = (spark.read.format("filetree")
          .option("roots", "/data/runs").option("maxDepth", "3")
          .option("patterns", r".*\\.txt;.*\\.csv").load())

and get the same FILE_SCHEMA rows with planner integration:

- **Partitioned listing**: each immediate child directory of each root
  becomes one ``InputPartition`` walked executor-side, so listing I/O
  parallelizes across the cluster. This is the engine's distributed
  lister. Driver planning and executor walks share ``listing``'s
  per-directory step, so depth, matcher and S5 rules are
  ``list_files``'s own.
- **Filter pushdown** (``pushFilters``): ``depth <= k`` tightens the
  walk's recursion bound (subtrees below the bound are never entered
  — a real I/O saving on deep trees); ``is_dir = false`` drops
  empty-dir emission; name prefix/suffix/equality predicates gate at
  scan time. Unclaimed filters are left for Spark to apply.
- **Streaming** (``spark.readStream.format("filetree")``): an
  mtime-watermark incremental source — each micro-batch emits rows for
  files with ``start < mtime_us <= end``. Offsets are plain watermark
  dicts, so restart/replay from the checkpoint is deterministic as long
  as history isn't rewritten under the watermark (same contract as
  Spark's own file source). Deletion events are out of scope here by
  design: the snapshot-diff watcher (``operators/diff.py``,
  ``streaming/runtime.py``) is the engine's create/delete/change path;
  this source is the lightweight "tail new files" path.

Scale note: ``latestOffset`` does one driver-side metadata walk per
trigger (cost ≈ the reference's full rescan tick, but row emission is
executor-side). The snapshot watcher (``streaming/runtime.Watcher``)
also walks on the driver and diffs there with Arrow, the way Structured
Streaming's file source lists on the driver; this source is the one
lister whose walk runs on executors.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    StringEndsWith,
    StringStartsWith,
)

from .listing import FILE_SCHEMA, NameMatcher, _dir_row, _list_dir, _walk


@dataclass
class _TreePartition(InputPartition):
    kind: str  # "walk" (subtree) or "rows" (pre-computed shallow rows)
    path: str = ""
    start_depth: int = 0
    rows: tuple = ()
    # empty-dir candidate metadata for self-determined S5 emission
    dir_row: tuple | None = None
    # streaming watermark range (read() runs on executors with a
    # pickled reader — per-batch state must travel in the partition)
    lo: int = 0
    hi: int = 0


def _parse_options(options) -> dict:
    def pats(key):
        raw = options.get(key, "")
        return tuple(p for p in raw.split(";") if p)

    roots = [r for r in options.get("roots", options.get("path", "")).split(",") if r]
    if not roots:
        raise ValueError("filetree source requires option 'roots' (comma-separated)")
    max_depth = options.get("maxdepth")
    return {
        "roots": [os.path.abspath(r) for r in roots],
        "max_depth": int(max_depth) if max_depth is not None else None,
        "patterns": pats("patterns"),
        "exclude": pats("exclude"),
        "dir_patterns": pats("dirpatterns"),
        "keep_empty_dirs": options.get("keepemptydirs", "false").lower() == "true",
        "mode": options.get("matchmode", "any"),
    }


def _build_matcher(cfg) -> NameMatcher | None:
    if cfg["patterns"] or cfg["exclude"]:
        return NameMatcher(
            patterns=cfg["patterns"] or (r".*",),
            mode=cfg["mode"],
            exclude=cfg["exclude"],
        )
    return None


class _FileTreeReaderBase:
    """Shared partition planning: one-level enumeration on the driver,
    one walk partition per shallow child dir, one rows-partition for
    root-level files (and root-level empty-dir self-candidates)."""

    def __init__(self, options):
        self.cfg = _parse_options(options)
        self.extra_name_preds: list = []  # (kind, value) enforced scan-side

    def _matcher(self):
        base = _build_matcher(self.cfg)
        preds = self.extra_name_preds
        if not preds:
            return base

        class _Wrapped:
            def match(self, name, _base=base, _preds=preds):
                for kind, v in _preds:
                    if kind == "eq" and name != v:
                        return False
                    if kind == "prefix" and not name.startswith(v):
                        return False
                    if kind == "suffix" and not name.endswith(v):
                        return False
                return _base.match(name) if _base is not None else True

        return _Wrapped()

    def _dir_matcher(self) -> NameMatcher | None:
        dm = self.cfg["dir_patterns"]
        return NameMatcher(patterns=dm) if dm else None

    def plan_partitions(self) -> list[_TreePartition]:
        cfg = self.cfg
        parts: list[_TreePartition] = []
        shallow_rows: list[tuple] = []
        for root in cfg["roots"]:
            for e in _list_dir(root, 0, self._matcher(), self._dir_matcher()):
                if type(e) is tuple:
                    shallow_rows.append(e)
                    continue
                dir_row = _dir_row(e, root, 0) if cfg["keep_empty_dirs"] else None
                if cfg["max_depth"] is not None and cfg["max_depth"] < 1:
                    # recursion bound stops at the shallow level: the
                    # subtree is never entered, so the dir is "empty" by
                    # the reference's surviving-rows rule
                    if dir_row is not None:
                        shallow_rows.append(dir_row)
                    continue
                parts.append(
                    _TreePartition(kind="walk", path=e.path, start_depth=1, dir_row=dir_row)
                )
        if shallow_rows:
            parts.append(_TreePartition(kind="rows", rows=tuple(shallow_rows)))
        if not parts:  # Spark requires ≥1 partition
            parts.append(_TreePartition(kind="rows", rows=()))
        return parts

    def walk_partition(self, part: _TreePartition):
        """Executor-side: emit FILE_SCHEMA tuples for one partition.
        A walk partition self-determines S5 emptiness — no join needed."""
        if part.kind == "rows":
            yield from part.rows
            return
        cfg = self.cfg
        produced = False
        for row in _walk(
            part.path,
            cfg["max_depth"],
            self._matcher(),
            self._dir_matcher(),
            cfg["keep_empty_dirs"],
            _depth=part.start_depth,
        ):
            produced = True
            yield row
        if not produced and part.dir_row is not None:
            yield part.dir_row


class FileTreeReader(_FileTreeReaderBase, DataSourceReader):
    def pushFilters(self, filters: list[Filter]):
        cfg = self.cfg
        for f in filters:
            col = f.attribute[0] if len(f.attribute) == 1 else None
            if (
                col == "depth"
                and not cfg["keep_empty_dirs"]
                and isinstance(f, (LessThan, LessThanOrEqual))
            ):
                # with empty-dir rows enabled the bound must NOT tighten
                # the walk: a dir whose only content is DEEPER than the
                # bound would look empty and gain a row that the
                # unfiltered scan does not have — so in that mode the
                # filter is yielded back for post-scan evaluation
                bound = f.value - 1 if isinstance(f, LessThan) else f.value
                if bound < 0:
                    yield f  # can't express "no rows" — let Spark filter
                    continue
                cur = cfg["max_depth"]
                cfg["max_depth"] = bound if cur is None else min(cur, bound)
            elif (
                col == "is_dir"
                and isinstance(f, EqualTo)
                and f.value is False
            ):
                cfg["keep_empty_dirs"] = False
            elif (
                col == "name"
                and not cfg["keep_empty_dirs"]
                and isinstance(f, (EqualTo, StringStartsWith, StringEndsWith))
                and isinstance(f.value, str)
            ):
                # name predicates gate files only; with empty-dir rows
                # disabled every emitted row passes the file matcher,
                # so the claim is exact
                kind = {EqualTo: "eq", StringStartsWith: "prefix",
                        StringEndsWith: "suffix"}[type(f)]
                self.extra_name_preds.append((kind, f.value))
            else:
                yield f

    def partitions(self):
        return self.plan_partitions()

    def read(self, partition: _TreePartition):
        yield from self.walk_partition(partition)


class FileTreeStreamReader(_FileTreeReaderBase, DataSourceStreamReader):
    """mtime-watermark incremental file stream (append-only)."""

    def initialOffset(self):
        start = self.cfg_start = 0
        return {"watermark_us": start}

    def latestOffset(self):
        # driver-side metadata walk for the max CHANGE time; emission
        # stays executor-side via partitions(). The watermark tracks
        # max(mtime, ctime): a file that ARRIVES with an old mtime
        # (mv, rsync -a, tar -x into the watched tree — the normal way
        # data lands in drop dirs) still has a fresh inode ctime, so it
        # is emitted instead of silently skipped forever. Residual
        # boundary: a file whose change time equals the committed
        # watermark in the same microsecond waits for its next change.
        mx = 0
        for root in self.cfg["roots"]:
            for dirpath, _dirnames, filenames in os.walk(root):
                for fn in filenames:
                    try:
                        st = os.stat(os.path.join(dirpath, fn))
                    except OSError:
                        continue
                    mx = max(mx, int(max(st.st_mtime, st.st_ctime) * 1e6))
        return {"watermark_us": mx}

    def partitions(self, start, end):
        parts = self.plan_partitions()
        for p in parts:
            p.lo = start["watermark_us"]
            p.hi = end["watermark_us"]
        return parts

    def read(self, partition: _TreePartition):
        lo, hi = partition.lo, partition.hi
        for row in self.walk_partition(partition):
            if row[4]:
                continue  # files only — dirs carry no content to tail
            try:
                st = os.stat(row[0])
            except OSError:
                continue  # vanished between walk and stat
            t = int(max(st.st_mtime, st.st_ctime) * 1e6)
            if lo < t <= hi:
                yield row

    def commit(self, end):
        pass


class FileTreeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "filetree"

    def schema(self):
        return FILE_SCHEMA

    def reader(self, schema) -> FileTreeReader:
        return FileTreeReader(self.options)

    def streamReader(self, schema) -> FileTreeStreamReader:
        return FileTreeStreamReader(self.options)


def register_filetree(spark) -> None:
    """Idempotent `spark.dataSource.register` of the filetree format."""
    try:  # pushFilters requires the (runtime-settable) opt-in flag
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    spark.dataSource.register(FileTreeDataSource)
