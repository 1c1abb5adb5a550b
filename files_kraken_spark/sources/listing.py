"""File-tree scan source (reference parity: S1-S6).

The reference walks a directory tree single-threaded, gating file
names with a matcher, pruning subtrees, bounding depth, and optionally
keeping empty dirs (``collector/_collector.py:90-117``). Here the scan
produces a flat DataFrame of file metadata — the nested-dict encoding
was an artifact (the reference's own tests immediately flatten it).

Two scan strategies, one walk (``_walk`` over ``_list_dir``):

- ``list_files`` — driver-side walk (``walk_table``, an Arrow table)
  → ``createDataFrame``. Right for roots with up to ~1M entries
  (metadata only, no content I/O). The watcher diffs ``walk_table``'s
  output on the driver without Spark (``streaming/runtime.py``).
- the ``filetree`` DataSource (``sources/filetree_source.py``) — the
  distributed lister: one partition per shallow subdirectory, each
  walked inside an executor, with filter pushdown. Listing network
  filesystems is I/O-bound, so this parallelizes with executors and
  never materializes the full listing on the driver.

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


def _list_dir(
    d: str,
    depth: int,
    matcher: NameMatcher | None,
    dir_matcher: NameMatcher | None,
) -> list:
    """One directory's step of every walk: its kept entries in name
    order. A subdirectory that passes ``dir_matcher`` (S3) comes back as
    its ``os.DirEntry``; a file that passes ``matcher`` (S2) as its
    FILE_SCHEMA tuple at ``depth``. Entries that vanish mid-listing are
    skipped, and an unlistable ``d`` lists as empty."""
    try:
        entries = sorted(os.scandir(d), key=lambda e: e.name)
    except (FileNotFoundError, NotADirectoryError, PermissionError):
        return []
    kept = []
    for e in entries:
        try:
            is_dir = e.is_dir(follow_symlinks=False)
        except OSError:
            continue
        if is_dir:
            if dir_matcher is None or dir_matcher.match(e.name):
                kept.append(e)
        elif matcher is None or matcher.match(e.name):
            try:
                st = e.stat(follow_symlinks=False)
            except OSError:
                continue
            kept.append((e.path, e.name, d, depth, False, st.st_size, int(st.st_mtime * 1e6)))
    return kept


def _dir_row(e: os.DirEntry, parent: str, depth: int) -> tuple | None:
    """S5 — the FILE_SCHEMA tuple of an empty dir, or None if it
    vanished mid-walk (the same race ``_list_dir`` tolerates)."""
    try:
        st = e.stat(follow_symlinks=False)
    except OSError:
        return None
    return (e.path, e.name, parent, depth, True, 0, int(st.st_mtime * 1e6))


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
    subtrees (S3); ``matcher`` gates files (S2); a dir with no surviving
    row beneath it is kept per S5."""
    for e in _list_dir(root, _depth, matcher, dir_matcher):
        if type(e) is tuple:
            yield e
            continue
        produced = False
        if max_depth is None or _depth < max_depth:
            for row in _walk(
                e.path, max_depth, matcher, dir_matcher, keep_empty_dirs, _depth + 1
            ):
                produced = True
                yield row
        if not produced and keep_empty_dirs:
            row = _dir_row(e, root, _depth)
            if row is not None:
                yield row


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
