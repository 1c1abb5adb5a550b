"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from files_kraken_spark.queries import REGISTRY
from files_kraken_spark.session import get_session

HEADLINE = [
    "q1_pricing_summary",
    "q5_revenue_by_nation",
    "q_topk_orders",
    "q_window_topn_per_group",
    "q_events_hourly",
    "q_sessionize",
    "d1_snapshot_diff",
    "a6_merge_list",
    "a11_upsert_reconcile",
    "f2_search_extract",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "sim_ivf_topk",
    "t_quality_score",
]

# Measured and reported, but NOT part of the headline total — keeps
# the headline comparable round-over-round while still giving per-round
# numbers for operators added later.
EXTRA = [
    "t_span_dedup",
    "t_tfidf_top_terms",
    "sem_dedup",
    "q8_market_share",
    "q21_waiting_supplier",
    "q_variant_json",
    "sim_pq_topk",
    "sim_ivfpq_topk",
    "q_pagerank_supply",
    "t_bpe_train_merges",
    "t_global_shuffle",
    "mm_dhash_neardup",
    "mm_audio_neardup",
    "q_gap_fill_ffill",
    "mm_scene_cuts",
    "t_bm25_topk",
    "sim_hybrid_rrf",
    "q_range_join_binned",
    "t_minhash_containment",
    "q_jaccard_knn_graph",
    "mm_png_decode_dhash",
    "t_entropy_score",
    "q_skyline_orders",
    "t_ngram_novelty",
    "emb_pc_outliers",
    "t_kn_bigram_logprob",
    "q_bfs_hops",
    "q_label_prop_communities",
    "sim_mips_norm_trick",
    "t_boilerplate_ngrams",
    # round-10 operator families (round-10 verdict item 2: capability
    # lines need sf0.1 perf evidence, not just sf0.01 correctness)
    "sim_ivf_incremental_assign",
    "t_curation_pipeline",
    "t_kmv_distinct_tokens",
    "q_hist_quantile_sketch",
    # round-11 operator families: the cheap representatives (the g_*
    # graph-maintenance queries are deliberately absent — they rebuild
    # split+state+merge end-to-end and cost 15-30s each; their scale
    # evidence lives in SCALING.md's round-11 sweep table instead)
    "t_index_incremental_bm25",
    "mm_image_phash",
    "mm_phash_neardup",
    "t_tumbling_watermark_replay",
    "t_kmv_anotb",
    # round-12: serve-only maintenance (state persisted once per
    # session by queries/_serve_state.py — run 1 pays the build, the
    # min-of-5 is the deployment-shaped merge cost). The PageRank
    # serve variant stays out for the same reason as the other g_*
    # maintenance queries: ~7s/run steady (saturated-frontier graph);
    # its serve-vs-end-to-end evidence lives in SCALING.md round 12.
    "g_cc_serve_merged",
    "t_index_serve_merged",
    # round-12: relational IVM + pHash index maintenance — the serve
    # variant (state persisted once, min-of-5 = merge cost) plus the
    # cheap end-to-end changefeed and the batch-only pHash append
    "v_ivm_serve_merged",
    "v_ivm_changefeed",
    "mm_phash_incremental",
    # round-13: the new maintained families' cheap representatives —
    # pure-counter moments changefeed (the spec-driven merge core's
    # fastest shape) and the global Misra-Gries heavy-hitters merge
    "v_ivm_moments_changefeed",
    "ev_heavy_mg_incremental",
]


def min_noop_runs(spark, spec, sf_dir: str, runs: int) -> list[float]:
    """``runs`` timed runs of one registry query; callers report the min
    (the steady-state cost) and max/min as the spread. Each run clears
    the cache, so operators that persist internal frames (LSH) get no
    warm start from the previous run, and materializes through the noop
    sink, which evaluates EVERY column (count() would let Catalyst prune
    projections and under-measure)."""
    out = []
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.time()
        spec.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        out.append(round(time.time() - t0, 3))
    return out


def control(spark, sf_dir: str, name: str = "q1_pricing_summary") -> float:
    """Load sentinel: one clean-cache run of a fixed query. Timed at the
    start and end of a block — drift between the two reveals a box that
    got loaded (or UNloaded: a contended session start) mid-benchmark."""
    # GC barrier (round-12): after ~300 timed runs the closing sentinel
    # was consistently 1.4-1.5x the opening one (0.30 -> 0.43/0.55 on an
    # otherwise idle box) — JVM garbage backlog, not machine load. The
    # sentinel exists to measure the BOX, so drain collector debt before
    # timing it; per-query timings are untouched (GC pressure is part of
    # a query's real cost).
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    time.sleep(1.0)
    return min_noop_runs(spark, REGISTRY[name], sf_dir, 1)[0]


def serve_entries(spark, sf_dir):
    """ANN SERVE-path benchmarks (round-2 verdict item #4): build each
    index ONCE outside the timed region, then time only query serving
    against the persisted index — the number that matters at 100 TB,
    where training amortizes over every query batch. These run WITHOUT
    the per-run clearCache of the main loop: a warm persisted index IS
    the serving scenario being measured. Returns (entries, persisted)
    so the caller can unpersist the index frames after timing (needed
    now that the measured block can re-run on a contended start)."""
    from pyspark.sql import functions as F

    from files_kraken_spark.operators import similarity as SIM
    from files_kraken_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select("vec_id")
    kw = dict(k=8, m=4, ksub=8, iters=2, dim=64)

    codes, cb = SIM.pq_train_encode(emb, m=4, ksub=8, iters=2, dim=64)
    pq_idx = (codes.persist(), cb.persist())
    ivfpq_idx = tuple(d.persist() for d in SIM.ivfpq_build_index(emb, **kw))
    ivfadc_idx = tuple(d.persist() for d in SIM.ivfadc_build_index(emb, **kw))
    persisted = [*pq_idx, *ivfpq_idx, *ivfadc_idx]
    for d in persisted:
        d.count()  # materialize: training cost paid here, not in the timings

    return {
        "sim_pq_topk_serve": lambda: SIM.pq_topk(
            emb, q, m=4, ksub=8, iters=2, dim=64, topk=5, index=pq_idx
        ),
        "sim_ivfpq_topk_serve": lambda: SIM.ivfpq_topk(
            emb, q, **kw, probes=2, topk=5, index=ivfpq_idx
        ),
        "sim_ivfadc_topk_serve": lambda: SIM.ivfadc_topk(
            emb, q, **kw, probes=2, topk=5, index=ivfadc_idx
        ),
    }, persisted


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import re as _re

    m = _re.search(r"sf([0-9.]+)$", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else 0.0  # 0.0 = unlabeled fixture dir
    spark = get_session("files-kraken-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen once so timings measure the queries, not startup.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # Several timed runs per query (default 5 — the round-5 official
    # record showed min-of-3 loses to sustained box contention, mis-
    # reporting 2-5x phantom regressions), report the MIN: single-run
    # timings on this box vary up to ±50% with scheduler/VM noise; the
    # min is the reproducible steady-state cost. Raw per-run timings
    # ship in "raw_runs" on stderr; a per-query SPREAD (max/min ratio)
    # ships in the JSON so a contention-polluted record self-flags —
    # spread ≳2 means even the min may be inflated, don't read deltas.
    runs_per_query = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

    # Two-point control (round-12 verdict item 7): the tiny sentinel
    # (q1, ~0.3s) measures fixed per-query overhead + a small scan; a
    # second, headline-sized sentinel (minhash LSH, ~2s) measures
    # sustained compute. vpc proved NON-affine across round 12's six
    # runs (fixed overheads don't shrink with the control, so vpc
    # inflates on fast boxes); with two sentinels a reader can fit
    # slope+intercept instead of dividing by a single scale.
    CONTROL2 = "dedup_minhash_lsh"

    def measure() -> dict:
        """One full measured block: control sentinel, headline + extra
        queries, serve path, closing control sentinel. Factored out so
        a contended start (load_drift outside [0.5, 2]) can re-run the
        WHOLE block once — both round-7 records carried a
        contended-start sentinel, which cost that round an attributable
        round-over-round comparison (round-7 verdict item 7)."""
        timings: dict[str, float] = {}
        extra: dict[str, float] = {}
        raw: dict[str, list[float]] = {}
        spread: dict[str, float] = {}

        def _record(name: str, runs: list[float], bucket: dict[str, float]):
            raw[name] = runs
            bucket[name] = min(runs)
            spread[name] = round(max(runs) / max(min(runs), 1e-9), 2)
            print(
                f"# {name}: {bucket[name]:.2f}s x{spread[name]} {runs}",
                file=sys.stderr,
            )

        control_start = control(spark, sf_dir)
        control2_start = control(spark, sf_dir, CONTROL2)
        for name in HEADLINE + EXTRA:
            runs = min_noop_runs(spark, REGISTRY[name], sf_dir, runs_per_query)
            _record(name, runs, timings if name in HEADLINE else extra)

        # serve path: index built once (untimed), queries timed warm
        serve, persisted = serve_entries(spark, sf_dir)
        for name, run in serve.items():
            runs = []
            for _ in range(runs_per_query):
                t0 = time.time()
                run().write.format("noop").mode("overwrite").save()
                runs.append(round(time.time() - t0, 3))
            _record(name, runs, extra)
        for d in persisted:
            d.unpersist()
        control2_end = control(spark, sf_dir, CONTROL2)
        control_end = control(spark, sf_dir)
        # >1 = box got slower while benching; <1 = start was contended;
        # outside [0.5, 2] either way means per-query deltas vs other
        # rounds are unattributable
        load_drift = round(control_end / max(control_start, 1e-9), 2)
        load_drift2 = round(control2_end / max(control2_start, 1e-9), 2)
        return {
            "timings": timings,
            "extra": extra,
            "raw": raw,
            "spread": spread,
            "control": [control_start, control_end],
            "control2": [control2_start, control2_end],
            "load_drift": load_drift,
            "load_drift2": load_drift2,
        }

    # Healthy-control ceiling (round-10 verdict item 1): a control above
    # the ceiling means the whole block ran on a loaded machine and raw
    # deltas vs other rounds are machine drift, not code. One retry,
    # same policy as the drift sentinel.
    #
    # Recalibrated round 14 (r13 verdict items 4/7 — a declared
    # measurement-gate fix, timings untouched): the 0.35s constant was
    # measured on the round-10 box (clean q1 ~0.26-0.34s); the current
    # box class floors at ~0.34-0.53s (r13 records: control_sec
    # 0.34-0.53 across every run; this round's quiet-box re-measure:
    # closing sentinel 0.45s at load avg 0.2), so the old gate fired a
    # redundant ~24-min retry on EVERY run and "healthy" carried no
    # signal. 0.60 sits above this box's observed quiet-floor band and
    # below the 0.7s+ a genuinely loaded box shows.
    control_ceiling = float(
        os.environ.get("SPARK_GRAFT_CONTROL_CEILING", "0.60")
    )
    # The headline-sized sentinel gets its own ceiling (round-13 review
    # finding: sustained-compute contention can inflate control2 while
    # the ~0.3s fixed-overhead-dominated q1 control stays under ITS
    # ceiling — the very non-affinity control2 was added to capture).
    # Clean single runs of dedup_minhash_lsh sit at ~2.8-3.1s here.
    control2_ceiling = float(
        os.environ.get("SPARK_GRAFT_CONTROL2_CEILING", "3.5")
    )

    def _unhealthy(m: dict) -> str | None:
        if not (0.5 <= m["load_drift"] <= 2.0):
            return f"load_drift {m['load_drift']} outside [0.5, 2]"
        if not (0.5 <= m["load_drift2"] <= 2.0):
            return f"load_drift2 {m['load_drift2']} outside [0.5, 2]"
        mean_control = sum(m["control"]) / 2
        if mean_control > control_ceiling:
            return (
                f"mean control {mean_control:.3f}s above ceiling "
                f"{control_ceiling}s (loaded box)"
            )
        mean_control2 = sum(m["control2"]) / 2
        if mean_control2 > control2_ceiling:
            return (
                f"mean control2 {mean_control2:.3f}s above ceiling "
                f"{control2_ceiling}s (sustained-compute contention)"
            )
        return None

    m = measure()
    retried = False
    reason = _unhealthy(m)
    if reason:
        print(f"# {reason} — contended block, re-running once", file=sys.stderr)
        retried = True
        m = measure()

    timings, extra = m["timings"], m["extra"]
    raw, spread = m["raw"], m["spread"]
    control_start, control_end = m["control"]
    control2_start, control2_end = m["control2"]
    load_drift = m["load_drift"]
    load_drift2 = m["load_drift2"]
    total = round(sum(timings.values()), 3)
    mean_control = (control_start + control_end) / 2
    record = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extra_queries": extra,
        "sf": sf,
        "runs_per_query": runs_per_query,
        "agg": "min",
        # Control-normalized headline (round-10 verdict item 1): the
        # raw total divided by the mean control-sentinel time. The
        # control runs the SAME cheapest query on the same box inside
        # the same block, so uniform machine drift (round 10's +18%,
        # which tracked a +20-25% control rise on untouched queries)
        # divides out; code regressions don't. Compare THIS number
        # round-over-round when control_healthy is false.
        "value_per_control": round(total / max(mean_control, 1e-9), 2),
        # Per-query control-normalized values (round-11 verdict item
        # 4): the r10/r11 records both showed a 1.2-1.3x drift cluster
        # on UNTOUCHED code that raw seconds can't attribute — each
        # query's min divided by the same block's mean control makes
        # per-query drift machine-normalized the way the headline is.
        # Compare THESE round-over-round; a real regression moves a
        # query's normalized value while the others hold.
        "query_per_control": {
            name: round(sec / max(mean_control, 1e-9), 2)
            for name, sec in {**timings, **extra}.items()
        },
        # True = BOTH sentinels under their ceilings: raw value trustable
        "control_healthy": (
            mean_control <= control_ceiling
            and (control2_start + control2_end) / 2 <= control2_ceiling
        ),
        "control_ceiling_sec": control_ceiling,
        "control2_ceiling_sec": control2_ceiling,
        # noise self-flags (round-5 verdict item #2): per-query
        # max/min run ratio, plus control-query drift start→end
        "spread": spread,
        "control_sec": [control_start, control_end],
        # Second, headline-sized sentinel (round-12 verdict item 7):
        # the tiny control measures fixed per-query overhead, this one
        # sustained compute — together they give normalization a slope
        # (vpc alone proved non-affine: it inflates on FAST boxes
        # because fixed overheads don't shrink with the control).
        "control2_sec": [control2_start, control2_end],
        "control2_query": "dedup_minhash_lsh",
        "load_drift": load_drift,
        "load_drift2": load_drift2,
        # True = the first pass's sentinel flagged a contended start/finish
        # and the whole measured block was re-run once; the record holds
        # the SECOND pass (round-7 verdict item 7)
        "retried": retried,
        "raw_runs": raw,
    }
    # CANONICAL record: a file, immune to any stdout capture window
    # (rounds 4 and 6 both lost the stdout line to tail truncation).
    record_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"
    )
    with open(record_path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"# full record -> {record_path}", file=sys.stderr)
    # The stdout metric line stays SHORT (round-12 verdict item 1: the
    # driver's tail capture beheaded a ~2.9 KB line mid-value and
    # BENCH_r12 recorded parsed:null — rounds 4 and 6 hit the same
    # wall). Only the headline summary ships on stdout; the per-query
    # maps (extra_queries, spread, raw_runs, query_per_control) live in
    # BENCH_local.json. The 14-entry headline `queries` map is part of
    # the driver's documented line format and fits; build_compact_line
    # is unit-tested to stay under 1 KB. The line must be the LAST
    # thing on stdout.
    print(build_compact_line(record))
    sys.stdout.flush()


def build_compact_line(record: dict) -> str:
    """The single stdout JSON line the driver parses. Keeps ONLY the
    headline summary + the 14-entry headline queries map; everything
    per-extra-query stays in BENCH_local.json. tests/test_bench_contract
    pins the serialized length under 1 KB so registry growth can never
    behead the driver's tail capture again (round-12 verdict item 1)."""
    compact = {
        k: record[k]
        for k in (
            "metric",
            "value",
            "unit",
            "sf",
            "queries",
            "value_per_control",
            "control_sec",
            "control2_sec",
            "control_healthy",
            "load_drift",
            "retried",
        )
        if k in record
    }
    spread = record.get("spread") or {}
    compact["spread_max"] = max(spread.values()) if spread else 0.0
    compact["record_file"] = "BENCH_local.json"
    line = json.dumps(compact, separators=(",", ":"))
    # Drop optional fields in priority order until the line fits — and
    # RE-CHECK after every drop (round-13 review finding: only covering
    # the queries-map growth vector leaves future scalar-field growth
    # able to behead the line again). The full record always survives
    # in BENCH_local.json.
    for droppable in ("queries", "spread_max", "control2_sec", "control_sec"):
        if len(line) <= 1000:
            break
        compact.pop(droppable, None)
        line = json.dumps(compact, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
