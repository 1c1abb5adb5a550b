"""Scan source behaviors (reference tests/test_collector.py scenarios)."""

from __future__ import annotations

from files_kraken_spark.sources.listing import NameMatcher, list_files

MATCH = NameMatcher(
    patterns=(r"run_\d+", r".+\.fastq\.gz", r".+\.bam", r".+metrics\.txt", r".+results\.txt"),
)
DIRS = NameMatcher(patterns=(r"run_\d+", "bams", "input", "results"))


def names(df):
    return sorted(r["name"] for r in df.collect())


def test_full_scan_lists_everything(spark, golden_tree):
    df = list_files(spark, str(golden_tree))
    got = names(df)
    assert "sample_1.bam" in got
    assert "useless_file.txt" in got
    assert "copy_of_run_1.txt" in got
    assert not [r for r in df.collect() if r["is_dir"]]  # no dirs by default
    # depth: run_1/bams/sample_1.bam -> depth 2
    by_name = {(r["name"], r["parent"]): r["depth"] for r in df.collect()}
    assert by_name[("copy_of_run_1.txt", str(golden_tree))] == 0


def test_matcher_gates_files(spark, golden_tree):
    got = names(list_files(spark, str(golden_tree), matcher=MATCH))
    assert "useless_file.txt" not in got
    assert "copy_of_run_1.txt" not in got  # fullmatch: prefix decoy rejected
    assert "sample_1.bam" in got
    assert "run_1.metrics.txt" in got
    assert "sample_1.bam.bai" not in got


def test_dir_matcher_prunes_subtrees(spark, golden_tree):
    got = names(list_files(spark, str(golden_tree), dir_matcher=DIRS))
    assert "useless_file.txt" not in got  # useless_dir pruned entirely
    assert "sample_1.bam" in got
    assert "copy_of_run_1.txt" in got  # top-level file not gated by dir matcher


def test_depth_limit(spark, golden_tree):
    got = names(list_files(spark, str(golden_tree), max_depth=0))
    assert got == ["copy_of_run_1.txt"]  # only root's direct files
    got1 = names(list_files(spark, str(golden_tree), max_depth=1))
    assert "run_1.metrics.txt" in got1
    assert "sample_1.bam" not in got1  # depth 2


def test_keep_empty_dirs(spark, golden_tree):
    df = list_files(spark, str(golden_tree), dir_matcher=DIRS, keep_empty_dirs=True)
    dirs = sorted(r["name"] for r in df.collect() if r["is_dir"])
    assert "run_3" in dirs  # empty run dir retained
    df2 = list_files(spark, str(golden_tree), dir_matcher=DIRS, keep_empty_dirs=False)
    assert not [r for r in df2.collect() if r["is_dir"]]


def test_multi_root_union(spark, golden_tree):
    r1 = str(golden_tree / "run_1")
    r2 = str(golden_tree / "run_2")
    both = list_files(spark, [r1, r2])
    assert both.count() == list_files(spark, r1).count() + list_files(spark, r2).count()

