"""applyInPandasWithState operators: state must persist ACROSS
micro-batches (two files → two batches via maxFilesPerTrigger)."""

from __future__ import annotations

import json
import time

from files_kraken_spark.streaming.stateful import running_count, streaming_dedup


def _write_batches(src):
    b1 = [{"key": "a", "value": "x"}, {"key": "a", "value": "y"}, {"key": "b", "value": "x"}]
    b2 = [{"key": "a", "value": "y"}, {"key": "a", "value": "z"}, {"key": "b", "value": "x"}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    time.sleep(0.05)
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))


def test_running_count_across_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_batches(src)
    stream = (
        spark.readStream.schema("key string, value string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = running_count(stream.groupBy("key"))
    q = (
        out.writeStream.format("memory")
        .queryName("rc")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM rc").collect()
    # final totals: a -> 4 rows across both batches, b -> 2
    finals = {}
    for r in rows:
        finals[r["key"]] = max(finals.get(r["key"], 0), r["total_rows"])
    assert finals == {"a": 4, "b": 2}
    assert len(rows) == 4  # 2 keys × 2 micro-batches


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restarting a stateful query from its checkpoint must NOT
    reprocess already-committed files: totals continue, not double."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_rec")
    (src / "b1.json").write_text(
        "\n".join(json.dumps({"key": "a", "value": v}) for v in ("x", "y"))
    )

    out_dir = str(tmp_path / "out")

    def run_round():
        stream = (
            spark.readStream.schema("key string, value string").json(str(src))
        )
        q = (
            running_count(stream.groupBy("key"))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_round()
    rows1 = spark.read.parquet(out_dir).collect()
    assert {(r["key"], r["total_rows"]) for r in rows1} == {("a", 2)}

    (src / "b2.json").write_text(
        "\n".join(json.dumps({"key": "a", "value": v}) for v in ("z", "w"))
    )
    run_round()  # same checkpoint: only b2 is new
    rows = spark.read.parquet(out_dir).collect()
    # b1 NOT reprocessed: state resumed at 2, second batch adds 2 -> 4
    # (a restart without recovery would have produced 6)
    assert {(r["key"], r["batch_rows"], r["total_rows"]) for r in rows} == {
        ("a", 2, 2),
        ("a", 2, 4),
    }


def test_streaming_dedup_across_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_batches(src)
    stream = (
        spark.readStream.schema("key string, value string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = streaming_dedup(stream.groupBy("key"))
    q = (
        out.writeStream.format("memory")
        .queryName("dd")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM dd").collect()
    emitted = {}
    for r in rows:
        emitted.setdefault(r["key"], []).extend(r["fresh_values"])
    # batch2's a:y and b:x are duplicates -> only z is fresh in batch 2
    assert sorted(emitted["a"]) == ["x", "y", "z"]
    assert emitted["b"] == ["x"]


def test_streaming_incremental_dedup_pipeline(spark, tmp_path):
    """The streaming ingest dedup recipe: each micro-batch dedups
    against the accumulated corpus with minhash_lsh_incremental
    (cost ∝ batch, never corpus²) and only novel docs are appended."""
    import json
    import os

    from pyspark.sql import functions as F

    from files_kraken_spark.operators.dedup import minhash_lsh_incremental

    base = "the quick brown fox jumps over the lazy dog and runs far away "
    corpus_dir = str(tmp_path / "corpus")
    src = tmp_path / "incoming"
    src.mkdir()

    # seed corpus: docs 0-4, three near-dup groups
    seed = [(i, base + f"variant {i % 3}") for i in range(5)]
    spark.createDataFrame(seed, "doc_id long, text string").write.parquet(corpus_dir)

    # incoming batch: 10-11 duplicate existing groups, 12 is novel
    rows = [
        {"doc_id": 10, "text": base + "variant 0"},
        {"doc_id": 11, "text": base + "variant 1"},
        {"doc_id": 12, "text": "completely different content about ships and stars"},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))

    def on_batch(bdf, batch_id):
        corpus = bdf.sparkSession.read.parquet(corpus_dir)
        everything = corpus.withColumn("is_new", F.lit(False)).unionByName(
            bdf.withColumn("is_new", F.lit(True))
        )
        pairs = minhash_lsh_incremental(
            everything, "doc_id", "text", "is_new", threshold=0.8
        )
        dup_ids = (
            pairs.select(F.col("id_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
            .join(bdf.select("doc_id"), "doc_id", "left_semi")
            .distinct()
        )
        novel = bdf.join(dup_ids, "doc_id", "left_anti")
        novel.write.mode("append").parquet(corpus_dir)

    q = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    final = sorted(
        r["doc_id"] for r in spark.read.parquet(corpus_dir).collect()
    )
    assert final == [0, 1, 2, 3, 4, 12]  # 10/11 deduped away, 12 kept


def test_streaming_band_candidates_across_batches(spark, tmp_path):
    """Stateful LSH candidate generation: the banded index lives in the
    checkpoint; batch 2's near-dup of a batch-1 doc must surface as a
    cross-batch candidate pair, and unrelated docs must not pair."""
    import json

    from files_kraken_spark.operators.dedup import band_keys
    from files_kraken_spark.streaming.stateful import streaming_band_candidates

    base = "the quick brown fox jumps over the lazy dog and runs far away"
    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 1, "text": base},
                {"doc_id": 2, "text": "completely different words about ships"},
            ]
        )
    )
    (src / "b2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 3, "text": base + " today"},  # near-dup of 1
                {"doc_id": 4, "text": "unrelated astronomy content entirely"},
            ]
        )
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    bands = band_keys(stream, "doc_id", "text")
    out = streaming_band_candidates(bands.groupBy("band_key"))
    q = (
        out.writeStream.format("memory")
        .queryName("bc")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in spark.sql("SELECT DISTINCT id_a, id_b FROM bc").collect()
    }
    assert (1, 3) in pairs  # cross-batch near-dup found via shared band
    assert not any(p in pairs for p in [(1, 2), (2, 4), (1, 4), (2, 3), (3, 4)])


def test_band_keys_rowwise_matches_batch_signature(spark):
    """The row-wise (streaming-legal) band_keys must produce the exact
    band keys of the batch groupBy signature pipeline."""
    from files_kraken_spark.operators.dedup import (
        _signature_bands,
        band_keys,
        shingle_sets,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "  spaced   out\ttokens here today again  "),
            (3, "too short"),  # < 3 tokens -> no signature either way
            (4, "dup dup dup dup dup dup"),  # repeated shingles
        ],
        "doc_id long, text string",
    )
    got = sorted(map(tuple, band_keys(df, "doc_id", "text").collect()))
    sh = shingle_sets(df, "doc_id", "text", 3)
    want = sorted(map(tuple, _signature_bands(sh, "doc_id", 16, 4, 42).collect()))
    assert got == want and len(got) > 0


def test_streaming_band_candidates_occupancy_cap(spark, tmp_path):
    """A band at max_band_occupancy freezes: no further pairs, no
    further state growth — the hot-bucket guard."""
    import json

    from files_kraken_spark.streaming.stateful import streaming_band_candidates

    src = tmp_path / "src"
    src.mkdir()
    # 5 docs all landing in ONE synthetic band; cap = 2
    (src / "b1.json").write_text(
        "\n".join(json.dumps({"doc_id": i, "band_key": "b0"}) for i in range(5))
    )
    stream = (
        spark.readStream.schema("doc_id long, band_key string")
        .json(str(src))
    )
    out = streaming_band_candidates(stream.groupBy("band_key"), max_band_occupancy=2)
    q = (
        out.writeStream.format("memory")
        .queryName("capped")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    pairs = {(r["id_a"], r["id_b"]) for r in spark.sql("SELECT * FROM capped").collect()}
    assert pairs == {(0, 1)}  # docs 2-4 arrived over the cap: frozen


def test_gap_sessions_merge_across_batches(spark, tmp_path):
    """A session spanning two micro-batches must MERGE via state: the
    second batch's first event continues the open session from batch 1
    instead of starting a new one."""
    from files_kraken_spark.streaming.stateful import gap_sessions

    src = tmp_path / "src_sess"
    src.mkdir()
    b1 = [{"key": "a", "ts": 0}, {"key": "a", "ts": 10}, {"key": "a", "ts": 100}]
    b2 = [{"key": "a", "ts": 110}, {"key": "a", "ts": 500}, {"key": "b", "ts": 7}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    time.sleep(0.05)
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))

    stream = (
        spark.readStream.schema("key string, ts long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = gap_sessions(stream.groupBy("key"), gap_ns=20)
    q = (
        out.writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["key"], r["session_start_ns"], r["session_end_ns"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess").collect()
    }
    # batch 1: {0,10} closes when 100 arrives. batch 2: 110 CONTINUES
    # the open {100} session (state crossed the batch boundary), then
    # 500 closes {100,110}. Open sessions (a@500, b@7) are not emitted.
    assert rows == {("a", 0, 10, 2), ("a", 100, 110, 2)}


def test_hll_sketch_pure_merge_invariance():
    """Register folding must be batching-invariant: folding values in
    two chunks equals folding the union in one pass — the property
    that makes the streaming sketch correct across micro-batches and
    checkpoint replays."""
    from files_kraken_spark.streaming.stateful import (
        hll_estimate,
        hll_sketch_update,
    )

    vals = [f"v{i}" for i in range(40)]
    one_shot = hll_sketch_update([0] * 64, vals)
    chunked = hll_sketch_update(
        hll_sketch_update([0] * 64, vals[:17]), vals[17:]
    )
    assert one_shot == chunked
    # idempotence: refolding the same values changes nothing
    assert hll_sketch_update(list(one_shot), vals) == one_shot
    # small-range estimate lands on the exact count for tiny sets
    est = hll_estimate(hll_sketch_update([0] * 64, ["a", "b", "c"]))
    assert est == 3


def test_streaming_hll_distinct_across_batches(spark, tmp_path):
    from files_kraken_spark.streaming.stateful import (
        hll_estimate,
        hll_sketch_update,
        streaming_hll_distinct,
    )

    src = tmp_path / "src"
    src.mkdir()
    _write_batches(src)
    stream = (
        spark.readStream.schema("key string, value string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = streaming_hll_distinct(stream.groupBy("key"))
    q = (
        out.writeStream.format("memory")
        .queryName("hll")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_hll"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM hll").collect()
    assert len(rows) == 4  # 2 keys x 2 micro-batches
    finals = {}
    for r in rows:
        finals[r["key"]] = r["estimate_distinct"]
    # the streamed sketch must equal the one-shot sketch over each
    # key's full value set (merge invariance), which for these tiny
    # sets is also the exact distinct count
    expect_a = hll_estimate(hll_sketch_update([0] * 64, ["x", "y", "y", "z"]))
    expect_b = hll_estimate(hll_sketch_update([0] * 64, ["x", "x"]))
    assert finals == {"a": expect_a, "b": expect_b}
    assert expect_a == 3 and expect_b == 1


def test_mg_sketch_guarantees():
    """Misra-Gries invariants: heavy items (freq > n/k) always
    survive, and counters under-estimate truth by at most n/k."""
    from files_kraken_spark.streaming.stateful import mg_sketch_update

    vals = ["a"] * 50 + ["b"] * 30 + [f"r{i}" for i in range(40)]
    n, k = len(vals), 8
    c = mg_sketch_update({}, vals, k=k)
    assert "a" in c and "b" in c  # both exceed n/k = 15
    assert 50 - n / k <= c["a"] <= 50
    assert 30 - n / k <= c["b"] <= 30
    # folding in two chunks keeps the guarantee (state carries over)
    c2 = mg_sketch_update(mg_sketch_update({}, vals[:60], k=k), vals[60:], k=k)
    assert "a" in c2 and "b" in c2
    assert 50 - n / k <= c2["a"] <= 50


def test_streaming_heavy_hitters_across_batches(spark, tmp_path):
    import json as _json

    from files_kraken_spark.streaming.stateful import streaming_heavy_hitters

    src = tmp_path / "src"
    src.mkdir()
    b1 = [{"key": "a", "value": "hot"}] * 5 + [{"key": "a", "value": "x"}]
    b2 = [{"key": "a", "value": "hot"}] * 4 + [{"key": "a", "value": "y"}]
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b1))
    time.sleep(0.05)
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in b2))
    stream = (
        spark.readStream.schema("key string, value string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = streaming_heavy_hitters(stream.groupBy("key"), k=4)
    q = (
        out.writeStream.format("memory")
        .queryName("hh")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_hh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM hh").collect()
    # 'hot' (9 of 11 rows, far above n/k) must survive both batches
    # with a lower bound within n/k of truth, carried ACROSS batches:
    # batch 1 (6 rows) ends with hot=5 exact; batch 2 (5 rows) sees
    # the checkpointed counters and reaches the cumulative 9
    b1_hot = [r["lower_bound"] for r in rows if r["item"] == "hot" and r["batch_rows"] == 6]
    b2_hot = [r["lower_bound"] for r in rows if r["item"] == "hot" and r["batch_rows"] == 5]
    assert b1_hot == [5]
    assert b2_hot == [9]
    cross = [r for r in rows if r["item"] == "hot"]
    assert max(r["lower_bound"] for r in cross) >= 9 - 11 / 4


def test_streaming_hll_replay_matches_pure_fold(spark):
    """The batch-replay registry query reproduces BIT-FOR-BIT the
    register state and estimate the pure streaming fold
    (hll_sketch_update / hll_estimate) produces over the same rows —
    the driver-visible evidence bridge for streaming_hll_distinct
    (round-7 verdict item 4)."""
    from files_kraken_spark.queries.pipeline import t_streaming_hll_replay
    from files_kraken_spark.streaming.stateful import (
        hll_estimate,
        hll_sketch_update,
    )

    sf = "/root/testdata/sf0.001"
    got = {r["key"]: r for r in t_streaming_hll_replay(spark, sf).collect()}
    ev = (
        spark.read.parquet(f"{sf}/events.parquet")
        .select("event_type", "user_id")
        .collect()
    )
    by_key: dict = {}
    for r in ev:
        by_key.setdefault(r["event_type"], []).append(str(r["user_id"]))
    assert set(got) == set(by_key)
    for key, vals in by_key.items():
        # fold in two arbitrary chunks — batching must not matter
        regs = hll_sketch_update(
            hll_sketch_update([0] * 64, vals[:7]), vals[7:]
        )
        want_regs = ",".join(
            f"{i}:{m}" for i, m in enumerate(regs) if m > 0
        )
        assert got[key]["registers"] == want_regs, key
        assert got[key]["registers_set"] == sum(1 for m in regs if m > 0)
        assert got[key]["estimate_distinct"] == hll_estimate(regs), key
        assert got[key]["exact_distinct"] == len(set(vals))


def test_streaming_mg_replay_guarantees_hold(spark):
    """The MG batch-replay query's guarantee booleans are all TRUE on
    real data (what its oracle asserts), and its guaranteed-heavy item
    set matches an independent pandas count."""
    from files_kraken_spark.queries.pipeline import t_streaming_mg_replay

    sf = "/root/testdata/sf0.001"
    rows = t_streaming_mg_replay(spark, sf).collect()
    assert rows, "expected guaranteed-heavy items at k=4"
    for r in rows:
        assert r["tracked_by_mg"], r
        assert r["lower_bound_le_exact"], r
        assert r["error_within_n_over_k"], r
        assert r["exact_n"] * 4 > r["stream_n"]
    import collections

    li = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .select("l_returnflag", "l_quantity")
        .collect()
    )
    cnt: dict = collections.defaultdict(collections.Counter)
    for r in li:
        cnt[r["l_returnflag"]][str(int(r["l_quantity"]).bit_length() - 1)] += 1
    want = {
        (k, item)
        for k, c in cnt.items()
        for item, n in c.items()
        if n * 4 > sum(c.values())
    }
    assert {(r["key"], r["item"]) for r in rows} == want
