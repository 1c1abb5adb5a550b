"""Snapshot diff + snapshot store (reference tests/test_monitoring.py
diff/backup scenarios)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from files_kraken_spark.operators.diff import merge_changes, snapshot_diff
from files_kraken_spark.sources.listing import FILE_SCHEMA, list_files
from files_kraken_spark.sources.snapshot import SnapshotStore
from files_kraken_spark.streaming import Watcher


def _paths(spark, paths):
    return spark.createDataFrame([(p,) for p in paths], "path string")


def test_diff_created_and_deleted(spark):
    prev = _paths(spark, ["/a/1", "/a/2", "/a/3"])
    cur = _paths(spark, ["/a/2", "/a/3", "/a/4", "/a/5"])
    got = {(r["path"], r["change"]) for r in snapshot_diff(prev, cur).collect()}
    assert got == {("/a/4", "created"), ("/a/5", "created"), ("/a/1", "deleted")}


def test_diff_empty_when_identical(spark):
    a = _paths(spark, ["/a/1", "/a/2"])
    assert snapshot_diff(a, a).count() == 0


def test_merge_changes_union(spark):
    c1 = snapshot_diff(_paths(spark, []), _paths(spark, ["/x"]))
    c2 = snapshot_diff(_paths(spark, ["/y"]), _paths(spark, []))
    got = {(r["path"], r["change"]) for r in merge_changes(c1, c2).collect()}
    assert got == {("/x", "created"), ("/y", "deleted")}


def test_snapshot_roundtrip_and_recovery(spark, tmp_path, golden_tree):
    store = SnapshotStore(str(tmp_path / "snap"))
    # empty load before any save (reference BackupManager tolerance)
    empty = store.load(spark, FILE_SCHEMA)
    assert empty.count() == 0 and empty.schema == FILE_SCHEMA

    df = list_files(spark, str(golden_tree))
    v1 = store.save(df)
    assert v1 == 1
    back = store.load(spark, FILE_SCHEMA)
    assert sorted(r["path"] for r in back.collect()) == sorted(
        r["path"] for r in df.collect()
    )

    # corrupt pointer -> behaves as empty (S8)
    (tmp_path / "snap" / "_latest").write_text("garbage")
    assert store.load(spark, FILE_SCHEMA).count() == 0

    # clear resets (S9)
    store.clear()
    assert store.latest_version() is None


def test_snapshot_versions_advance(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "s"))
    a = _paths(spark, ["/a"]).withColumn("x", F.lit(1))
    assert store.save(a) == 1
    assert store.save(a) == 2
    assert store.latest_version() == 2


def test_spark_written_snapshot_diffs_to_no_changes(spark, tmp_path, golden_tree):
    """A `workflow_data/` from before the driver-side snapshot holds
    Spark `part-*` files with `_SUCCESS` and `.crc` files; the upgraded
    watcher reads it as is and does not re-emit the tree."""
    snap = tmp_path / "snap"
    list_files(spark, str(golden_tree)).write.parquet(str(snap / "v=1"))
    (snap / "_latest").write_text("1")
    names = os.listdir(snap / "v=1")
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    w = Watcher(roots=[str(golden_tree)], snapshot_dir=str(snap))
    assert w.poll() is None
    (golden_tree / "new.txt").write_text("x")
    pb = w.poll()
    assert pb.changes.to_pylist() == [
        {"path": str(golden_tree / "new.txt"), "name": "new.txt", "change": "created"}
    ]


def test_partial_version_from_crashed_save_is_cleared_and_never_read(tmp_path, golden_tree):
    w = Watcher(roots=[str(golden_tree)], snapshot_dir=str(tmp_path / "snap"))
    assert w.poll().commit() == 1
    # a save that crashed before its pointer swap left v=2/ behind
    partial = tmp_path / "snap" / "v=2"
    partial.mkdir()
    (partial / "part-0.zstd.parquet").write_bytes(b"torn write")
    (partial / "part-00000-old.snappy.parquet").write_bytes(b"junk")
    assert w.poll() is None  # reads v=1 only
    (golden_tree / "new.txt").write_text("x")
    assert w.poll().commit() == 2
    assert os.listdir(partial) == ["part-0.zstd.parquet"]
    assert w.poll() is None


def test_kept_empty_dirs_are_snapshotted_but_never_diffed(tmp_path, golden_tree):
    w = Watcher(
        roots=[str(golden_tree)], snapshot_dir=str(tmp_path / "snap"), keep_empty_dirs=True
    )
    pb = w.poll()
    assert str(golden_tree / "run_3") not in pb.changes["path"].to_pylist()
    pb.commit()
    snap = SnapshotStore(str(tmp_path / "snap")).read(["path", "is_dir"]).to_pylist()
    assert {"path": str(golden_tree / "run_3"), "is_dir": True} in snap
    os.rmdir(golden_tree / "run_3")
    assert w.poll() is None
