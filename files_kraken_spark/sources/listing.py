"""File-tree scan source (reference parity: S1-S6).

The reference walks a directory tree single-threaded, gating file
names with a matcher, pruning subtrees, bounding depth, and optionally
keeping empty dirs (``collector/_collector.py:90-117``). Here the scan
produces a flat DataFrame of file metadata — the nested-dict encoding
was an artifact (the reference's own tests immediately flatten it).

Two scan strategies:

- ``list_files`` — driver-side walk (``walk_table``, an Arrow table)
  → ``createDataFrame``. Right for roots with up to ~1M entries
  (metadata only, no content I/O). The watcher diffs ``walk_table``'s
  output on the driver without Spark (``streaming/runtime.py``).
- ``list_files_distributed`` — the 100 TB path: enumerate the first
  ``fanout_depth`` levels on the driver (cheap), then walk each
  subtree inside executors via ``mapPartitions``. Listing network
  filesystems is I/O-bound, so this parallelizes linearly with
  executors and never materializes the full listing on the driver.

Matcher semantics mirror ``BoolOutputMultimatcher``
(``retools/_retools.py:76-100``): full-string regex match on the
*basename*, ``any``/``cons`` modes, exclude veto.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FILE_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("name", StringType(), False),
        StructField("parent", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("is_dir", BooleanType(), False),
        StructField("size", LongType(), True),
        StructField("mtime_us", LongType(), True),
    ]
)
FILE_ARROW_SCHEMA = to_arrow_schema(FILE_SCHEMA)


@dataclass(frozen=True)
class NameMatcher:
    """Boolean multi-matcher over basenames (F6 semantics).

    ``patterns`` full-string regexes; ``mode='any'`` (default) or
    ``'cons'`` (all must match); ``exclude`` patterns veto.
    """

    patterns: tuple[str, ...]
    mode: str = "any"
    exclude: tuple[str, ...] = field(default_factory=tuple)

    def __post_init__(self):
        if self.mode not in ("any", "cons"):
            raise ValueError(f"mode must be 'any' or 'cons', got {self.mode!r}")

    def match(self, name: str) -> bool:
        hits = (re.fullmatch(p, name) is not None for p in self.patterns)
        ok = any(hits) if self.mode == "any" else all(hits)
        if ok and self.exclude:
            ok = not any(re.fullmatch(e, name) for e in self.exclude)
        return ok


def _walk(
    root: str,
    max_depth: int | None,
    matcher: NameMatcher | None,
    dir_matcher: NameMatcher | None,
    keep_empty_dirs: bool,
    _depth: int = 0,
):
    """Yield FILE_SCHEMA tuples for one root. Mirrors the reference's
    recursion: depth counts children of root as 0
    (``collector/_collector.py:90-102``); ``dir_matcher`` prunes whole
    subtrees (S3); ``matcher`` gates files (S2); empty-dir retention
    per S5."""
    try:
        entries = sorted(os.scandir(root), key=lambda e: e.name)
    except (FileNotFoundError, NotADirectoryError, PermissionError):
        return
    for e in entries:
        try:
            is_dir = e.is_dir(follow_symlinks=False)
        except OSError:
            continue
        if is_dir:
            if dir_matcher is not None and not dir_matcher.match(e.name):
                continue  # S3: prune the subtree
            produced = False
            if max_depth is None or _depth < max_depth:
                for row in _walk(
                    e.path, max_depth, matcher, dir_matcher, keep_empty_dirs, _depth + 1
                ):
                    produced = True
                    yield row
            if not produced and keep_empty_dirs:
                try:
                    st = e.stat(follow_symlinks=False)
                except OSError:
                    continue  # dir vanished mid-walk — same race the file branch tolerates
                yield (e.path, e.name, root, _depth, True, 0, int(st.st_mtime * 1e6))
        else:
            if matcher is not None and not matcher.match(e.name):
                continue  # S2: scan-time file predicate
            try:
                st = e.stat(follow_symlinks=False)
            except OSError:
                continue
            yield (e.path, e.name, root, _depth, False, st.st_size, int(st.st_mtime * 1e6))


def walk_table(
    roots: str | list[str],
    max_depth: int | None = None,
    matcher: NameMatcher | None = None,
    dir_matcher: NameMatcher | None = None,
    keep_empty_dirs: bool = False,
) -> pa.Table:
    """S1/S6 — metadata walk of one or more roots on the driver → an
    Arrow table with FILE_SCHEMA's columns (no Spark job)."""
    roots = [roots] if isinstance(roots, str) else list(roots)
    rows = [
        row
        for r in roots
        for row in _walk(os.path.abspath(r), max_depth, matcher, dir_matcher, keep_empty_dirs)
    ]
    columns = list(zip(*rows)) if rows else [()] * len(FILE_ARROW_SCHEMA)
    return pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(columns, FILE_ARROW_SCHEMA)],
        schema=FILE_ARROW_SCHEMA,
    )


def list_files(
    spark: SparkSession,
    roots: str | list[str],
    max_depth: int | None = None,
    matcher: NameMatcher | None = None,
    dir_matcher: NameMatcher | None = None,
    keep_empty_dirs: bool = False,
) -> DataFrame:
    """S1/S6 — metadata scan of one or more roots → flat DataFrame."""
    table = walk_table(roots, max_depth, matcher, dir_matcher, keep_empty_dirs)
    return spark.createDataFrame(table, FILE_SCHEMA)


def list_files_distributed(
    spark: SparkSession,
    roots: str | list[str],
    max_depth: int | None = None,
    matcher: NameMatcher | None = None,
    dir_matcher: NameMatcher | None = None,
    keep_empty_dirs: bool = False,
    fanout_depth: int = 1,
    partitions: int | None = None,
) -> DataFrame:
    """Scale path: shallow driver-side enumeration to ``fanout_depth``,
    then executor-side walks of each subtree. Returns the same
    FILE_SCHEMA DataFrame; listing I/O runs in parallel on executors.

    Full ``list_files`` parity including S5: with ``keep_empty_dirs``,
    shallow dirs whose whole subtree survived no gate are emitted as
    empty-dir rows too. "Empty" means *no surviving rows beneath*
    (matcher-filtered dirs count as empty — same as the recursive
    walker), determined by one distributed existence check of the
    scan output against the (fanout-bounded, tiny) shallow-dir list."""
    roots = [os.path.abspath(r) if isinstance(r, str) else r for r in
             ([roots] if isinstance(roots, str) else roots)]

    shallow_rows: list[tuple] = []
    # (path, name, parent, depth, mtime_us) of every shallow dir that
    # passed the gates — the S5 empty-dir candidates
    shallow_dirs: list[tuple[str, str, str, int, int]] = []
    subtrees: list[tuple[str, int]] = []  # (dir path, depth of its children)
    frontier = [(r, 0) for r in roots]
    while frontier:
        d, depth = frontier.pop()
        if depth >= fanout_depth:
            subtrees.append((d, depth))
            continue
        try:
            entries = sorted(os.scandir(d), key=lambda e: e.name)
        except (FileNotFoundError, NotADirectoryError, PermissionError):
            continue
        for e in entries:
            try:
                is_dir = e.is_dir(follow_symlinks=False)
            except OSError:
                continue  # entry vanished between scandir and type check
            if is_dir:
                if dir_matcher is not None and not dir_matcher.match(e.name):
                    continue
                if keep_empty_dirs:
                    try:
                        st = e.stat(follow_symlinks=False)
                    except OSError:
                        continue
                    shallow_dirs.append(
                        (e.path, e.name, d, depth, int(st.st_mtime * 1e6))
                    )
                if max_depth is None or depth < max_depth:
                    frontier.append((e.path, depth + 1))
            else:
                if matcher is not None and not matcher.match(e.name):
                    continue
                try:
                    st = e.stat(follow_symlinks=False)
                except OSError:
                    continue
                shallow_rows.append(
                    (e.path, e.name, d, depth, False, st.st_size, int(st.st_mtime * 1e6))
                )

    remaining = None if max_depth is None else max_depth
    sc = spark.sparkContext
    n_part = partitions or max(1, min(len(subtrees), sc.defaultParallelism))

    def _walk_partition(items):
        for d, depth in items:
            yield from _walk(
                d,
                None if remaining is None else remaining,
                matcher,
                dir_matcher,
                keep_empty_dirs,
                _depth=depth,
            )

    deep = spark.createDataFrame(
        sc.parallelize(subtrees, n_part).mapPartitions(_walk_partition), FILE_SCHEMA
    )
    shallow = spark.createDataFrame(shallow_rows, FILE_SCHEMA)
    out = shallow.unionByName(deep)
    if not keep_empty_dirs or not shallow_dirs:
        return out

    # S5 for shallow dirs: find candidates with at least one surviving
    # row beneath them. The candidate list is fanout-bounded (tiny), so
    # broadcast it; the scan output stays distributed and only the
    # per-candidate existence bits come back to the driver.
    from pyspark.sql import functions as F

    cand_df = spark.createDataFrame(
        [(p,) for p, *_ in shallow_dirs], "cand string"
    )
    nonempty = {
        r[0]
        for r in out.join(
            F.broadcast(cand_df),
            out["path"].startswith(F.concat(cand_df["cand"], F.lit("/"))),
        )
        .select("cand")
        .distinct()
        .collect()
    }
    # bottom-up: an emitted empty dir counts as production for its
    # ancestors (mirrors the recursive walker: only the DEEPEST empty
    # level is reported)
    empty_rows: list[tuple] = []
    for p, name, parent, depth, mt in sorted(shallow_dirs, key=lambda t: -t[3]):
        if p in nonempty:
            continue
        empty_rows.append((p, name, parent, depth, True, 0, mt))
        for q, *_ in shallow_dirs:
            if q != p and p.startswith(q + "/"):
                nonempty.add(q)
    if not empty_rows:
        return out
    return out.unionByName(spark.createDataFrame(empty_rows, FILE_SCHEMA))
