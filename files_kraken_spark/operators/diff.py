"""Snapshot diff operators (reference parity: D1-D4).

The reference diffs two file-tree snapshots with Python set
differences (``monitoring/_monitoring.py:39-50``) and merges change
sets with list concat (``:31-34``). Columnar form: two anti-joins on
the key plus a tagged union. Catalyst/AQE picks broadcast vs shuffle
per side size; at 100 TB the diff is one shuffle on the path key.
``table_diff`` is the same diff over Arrow tables on the driver — the
watcher's form, for trees inside ``list_files``'s ~1M-entry range.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CREATED, DELETED = "created", "deleted"
CHANGE_ARROW_SCHEMA = pa.schema(
    [("path", pa.string()), ("name", pa.string()), ("change", pa.string())]
)


def snapshot_diff(prev: DataFrame, cur: DataFrame, key: str = "path") -> DataFrame:
    """D1 — ``created = cur − prev``, ``deleted = prev − cur`` on the
    key column; returns ``(key, change)`` rows, empty if no changes."""
    created = cur.select(key).join(prev.select(key), key, "left_anti").withColumn(
        "change", F.lit(CREATED)
    )
    deleted = prev.select(key).join(cur.select(key), key, "left_anti").withColumn(
        "change", F.lit(DELETED)
    )
    return created.unionByName(deleted)


def table_diff(prev: pa.Table | None, cur: pa.Table) -> pa.Table:
    """D1 on the driver: ``(path, name, change)`` rows for the non-dir
    rows of two FILE_SCHEMA Arrow tables (``prev`` needs only ``path``
    and ``is_dir``; None is an empty snapshot). Same multiset as
    ``snapshot_diff`` over the non-dir paths: duplicate paths stay."""

    def files(t: pa.Table | None) -> pa.Array:
        if t is None:
            return pa.array([], pa.string())
        return t.filter(pc.invert(t["is_dir"]))["path"].combine_chunks()

    before, after = files(prev), files(cur)
    created = after.filter(pc.invert(pc.is_in(after, value_set=before)))
    deleted = before.filter(pc.invert(pc.is_in(before, value_set=after)))
    paths = pa.concat_arrays([created, deleted])
    return pa.Table.from_arrays(
        [
            paths,
            pc.replace_substring_regex(paths, "^.*/", ""),
            pa.array([CREATED] * len(created) + [DELETED] * len(deleted), pa.string()),
        ],
        schema=CHANGE_ARROW_SCHEMA,
    )


def merge_changes(*change_sets: DataFrame) -> DataFrame:
    """D4 — Changes.extend: union of change sets
    (``monitoring/_monitoring.py:31-34``)."""
    out = change_sets[0]
    for c in change_sets[1:]:
        out = out.unionByName(c)
    return out


def restrict_to_subtrees(changes: DataFrame, roots: list[str], col: str = "path") -> DataFrame:
    """D5 — coworker semantics: keep only changes under the given
    directory roots (``monitoring/_monitoring.py:229-264``); a single
    recursive source + this filter replaces per-subtree watchers."""
    pred: Column = F.lit(False)
    for r in roots:
        pred = pred | F.col(col).startswith(r.rstrip("/") + "/")
    return changes.filter(pred)
