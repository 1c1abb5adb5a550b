"""The `filetree` Python DataSource: batch parity with list_files,
filter pushdown claims, and the mtime-watermark streaming path."""

from __future__ import annotations

import itertools
import os
import time

from files_kraken_spark.sources.filetree_source import register_filetree
from files_kraken_spark.sources.listing import NameMatcher, list_files


def _mk_tree(root):
    (root / "run_1").mkdir()
    (root / "run_1" / "a.txt").write_text("a")
    (root / "run_1" / "deep").mkdir()
    (root / "run_1" / "deep" / "b.csv").write_text("b")
    (root / "run_2").mkdir()
    (root / "run_2" / "c.txt").write_text("c")
    (root / "empty_run").mkdir()
    (root / "top.txt").write_text("t")


FILE_PATTERNS = (r"run_\d+", r".+\.fastq\.gz", r".+\.bam", r".+metrics\.txt", r".+results\.txt")
DIR_PATTERNS = (r"run_\d+", "bams", "input", "results")
COLS = ["path", "name", "parent", "depth", "is_dir", "size"]  # all but mtime_us


def test_batch_matches_list_files(spark, golden_tree):
    """Same rows as ``list_files`` on every combination of file matcher
    × dir matcher × maxDepth × keepEmptyDirs (32 cases), on a tree whose
    empty dirs sit at depth 0 (``run_3``) and at depths 2-3 below a
    non-empty run (only the deepest empty level is a row)."""
    (golden_tree / "run_1" / "input" / "bams" / "results").mkdir(parents=True)
    register_filetree(spark)
    for patterns, dir_patterns, max_depth, keep in itertools.product(
        (None, FILE_PATTERNS), (None, DIR_PATTERNS), (None, 0, 1, 2), (False, True)
    ):
        case = (patterns, dir_patterns, max_depth, keep)
        reader = (
            spark.read.format("filetree")
            .option("roots", str(golden_tree))
            .option("keepEmptyDirs", str(keep).lower())
        )
        if patterns:
            reader = reader.option("patterns", ";".join(patterns))
        if dir_patterns:
            reader = reader.option("dirPatterns", ";".join(dir_patterns))
        if max_depth is not None:
            reader = reader.option("maxDepth", str(max_depth))
        got = reader.load()
        want = list_files(
            spark,
            str(golden_tree),
            max_depth=max_depth,
            matcher=NameMatcher(patterns=patterns) if patterns else None,
            dir_matcher=NameMatcher(patterns=dir_patterns) if dir_patterns else None,
            keep_empty_dirs=keep,
        )
        assert got.schema == want.schema, case
        rows = sorted(tuple(r) for r in want.select(COLS).collect())
        assert sorted(tuple(r) for r in got.select(COLS).collect()) == rows, case
        if keep and max_depth is None:
            assert (str(golden_tree / "run_1" / "input" / "bams" / "results"), True) in {
                (r[0], r[4]) for r in rows
            }, case  # non-vacuous: the nested empty dir is a row


def test_batch_pattern_and_depth_options(spark, tmp_path):
    _mk_tree(tmp_path)
    register_filetree(spark)
    got = (
        spark.read.format("filetree")
        .option("roots", str(tmp_path))
        .option("patterns", r".*\.txt")
        .option("maxDepth", "1")
        .load()
    )
    want = list_files(
        spark, str(tmp_path), max_depth=1, matcher=NameMatcher(patterns=(r".*\.txt",))
    )
    assert sorted(r["path"] for r in got.collect()) == sorted(
        r["path"] for r in want.collect()
    )


def test_depth_filter_pushdown_prunes_and_stays_correct(spark, tmp_path):
    _mk_tree(tmp_path)
    register_filetree(spark)
    df = (
        spark.read.format("filetree")
        .option("roots", str(tmp_path))
        .load()
        .filter("depth <= 0")
    )
    rows = df.collect()
    # only root-level files survive; deep/b.csv was never listed
    assert sorted(r["name"] for r in rows) == ["top.txt"]
    assert all(r["depth"] == 0 for r in rows)


def test_name_suffix_pushdown(spark, tmp_path):
    _mk_tree(tmp_path)
    register_filetree(spark)
    df = (
        spark.read.format("filetree")
        .option("roots", str(tmp_path))
        .load()
        .filter("name LIKE '%.csv'")
    )
    assert [r["name"] for r in df.collect()] == ["b.csv"]


def test_streaming_tail_new_files(spark, tmp_path):
    src = tmp_path / "watched"
    src.mkdir()
    (src / "first.txt").write_text("1")
    register_filetree(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_batch():
        q = (
            spark.readStream.format("filetree")
            .option("roots", str(src))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    run_batch()
    first = {r["name"] for r in spark.read.parquet(out).collect()}
    assert first == {"first.txt"}

    # new file strictly later than the committed watermark
    time.sleep(0.01)
    p = src / "second.txt"
    p.write_text("2")
    os.utime(p, (time.time() + 1, time.time() + 1))
    run_batch()
    both = [r["name"] for r in spark.read.parquet(out).collect()]
    assert sorted(both) == ["first.txt", "second.txt"]  # no re-emission


def test_depth_pushdown_does_not_fabricate_empty_dirs(spark, tmp_path):
    """Review regression: tightening the walk for a depth filter while
    keepEmptyDirs is on made dirs with only DEEPER content look empty —
    the pushed query returned rows the unfiltered scan does not have."""
    from files_kraken_spark.sources.filetree_source import register_filetree

    root = tmp_path / "t"
    (root / "a" / "b").mkdir(parents=True)
    (root / "a" / "b" / "deep.txt").write_text("x")
    (root / "top.txt").write_text("x")
    register_filetree(spark)
    df = (
        spark.read.format("filetree")
        .option("roots", str(root))
        .option("keepEmptyDirs", "true")
        .load()
    )
    full = {(r["name"], r["is_dir"], r["depth"]) for r in df.collect()}
    pushed = {
        (r["name"], r["is_dir"], r["depth"])
        for r in df.filter("depth <= 0").collect()
    }
    assert pushed == {x for x in full if x[2] <= 0}
    assert ("a", True, 0) not in pushed  # 'a' has deep content — not empty


def test_stream_emits_file_moved_in_with_old_mtime(spark, tmp_path):
    """Review regression: the mtime watermark permanently skipped files
    that ARRIVE with an old mtime (mv/rsync -a/tar -x) — the watermark
    now tracks inode change time as well."""
    import os as _os
    import shutil
    import time as _time

    from files_kraken_spark.sources.filetree_source import register_filetree

    watch = tmp_path / "watch"
    outside = tmp_path / "outside"
    watch.mkdir()
    outside.mkdir()
    (watch / "first.txt").write_text("a")
    register_filetree(spark)

    stream = (
        spark.readStream.format("filetree").option("roots", str(watch)).load()
    )
    names = []

    def on_batch(df, _bid):
        names.extend(r["name"] for r in df.collect())

    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert "first.txt" in names

    # a file whose mtime predates everything, moved INTO the tree
    old = outside / "moved.txt"
    old.write_text("b")
    _os.utime(old, (1_000_000, 1_000_000))  # mtime far in the past
    shutil.move(str(old), str(watch / "moved.txt"))

    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert "moved.txt" in names
