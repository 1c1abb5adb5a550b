"""Property check: the watcher's driver-side Arrow diff (`table_diff`)
equals the distributed D1 diff (`snapshot_diff`, two anti-joins) as a
multiset of (path, name, change) on random trees — including duplicate
paths from overlapping roots, and `is_dir` rows (`keep_empty_dirs`)
that are snapshotted but never diffed."""

from __future__ import annotations

import os
from collections import Counter

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from files_kraken_spark.operators.diff import snapshot_diff, table_diff

# a small path pool so random trees overlap; "/w/a" is a file in one
# tree and a kept empty dir in another
POOL = ["/w/a", "/w/a/1.txt", "/w/a/2.txt", "/w/b/1.txt", "/w/b/c/3.txt", "top.txt"]
ROWS = st.lists(st.tuples(st.sampled_from(POOL), st.booleans()), max_size=8)
TREE = [("/w/a/1.txt", False), ("/w/b/1.txt", False), ("/w/a", True)]

# Derandomized profile => same first-N cases every run; set
# SPARK_GRAFT_PROP_EXAMPLES for a wider sweep.
_N_EX = int(os.environ.get("SPARK_GRAFT_PROP_EXAMPLES", "3"))


def _table(rows):
    paths, dirs = zip(*rows) if rows else ((), ())
    return pa.table({"path": pa.array(paths, pa.string()), "is_dir": pa.array(dirs, pa.bool_())})


def _spark_changes(spark, rows):
    """The earlier poll's form: non-dir paths through `snapshot_diff`,
    the basename via Spark's split."""
    df = spark.createDataFrame(rows, "path string, is_dir boolean")
    return df.filter(~F.col("is_dir")).select("path")


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=_N_EX,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(prev=ROWS, cur=ROWS)
@example(prev=[], cur=TREE)  # empty previous snapshot
@example(prev=TREE, cur=[])  # empty tree: everything deleted
@example(prev=TREE, cur=TREE)  # identical trees
@example(prev=TREE, cur=[("/w/a", True)])  # every file deleted, the dir kept
@example(prev=[("/w/a/1.txt", False)], cur=TREE + TREE)  # overlapping roots
@example(prev=[("/w/a", False)], cur=[("/w/a", True), ("top.txt", False)])  # file became a dir
def test_table_diff_equals_snapshot_diff(spark, prev, cur):
    want = snapshot_diff(_spark_changes(spark, prev), _spark_changes(spark, cur)).withColumn(
        "name", F.element_at(F.split(F.col("path"), "/"), -1)
    )
    want = Counter((r["path"], r["name"], r["change"]) for r in want.collect())
    got = table_diff(_table(prev), _table(cur)).to_pylist()
    assert Counter((r["path"], r["name"], r["change"]) for r in got) == want
    if not prev:  # no snapshot at all reads as an empty one
        assert table_diff(None, _table(cur)).equals(table_diff(_table(prev), _table(cur)))
