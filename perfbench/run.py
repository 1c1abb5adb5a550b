"""Watch-loop benchmark: `Workflow.run_once` tick latency and bulk
ingest throughput, with per-layer spans in a separate traced run.

    python3 perfbench/run.py --workload tick_small --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones. See
perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (workload, scale 1) sizes; `--scale` multiplies run counts
SIZES = {
    # bootstrap tree: runs x samples x 3 files
    "tick_small": {"runs": 50, "samples_per_run": 20},
    # one block per tick: runs x samples x 3 files; blocks per cycle
    "ingest_bulk": {"runs": 5, "samples_per_run": 20, "blocks": 3},
}
SETUP_REPEATS = 3
TICK_PATTERN = ("add", "idle", "idle", "delete", "idle", "idle")
# traced run of tick_small: a warm-up round, then traced and untraced
# rounds alternate
TRACE_ROUNDS = 5
IDLE_PER_CYCLE = 3
# an untraced run measures for --seconds and at least this many whole
# TICK_PATTERN rounds (tick_small) or cycles (ingest_bulk)
MIN_ROUNDS = 3
MIN_CYCLES = 2


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="multiplies the number of runs")
    return p.parse_args(argv)


def prepare_environment(tmp: str) -> None:
    """Everything Spark and the Python workers write goes under `tmp`;
    workers import the package from the repository root."""
    os.makedirs(os.path.join(tmp, "local"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")])
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    os.chdir(tmp)


def start_session(tmp: str):
    from files_kraken_spark.session import get_session

    spark = get_session(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> float:
    """Stop Spark and wait for the driver JVM to exit. Returns the
    JVM's peak resident set size in MB, read just before stopping."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    peak_mb = 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                peak_mb = int(line.split()[1]) / 1024.0
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    return peak_mb


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 1e6


class Bench:
    """One workload run inside one Spark session."""

    def __init__(self, spark, tmp: str, workload: str, seed: int, scale: float):
        self.spark = spark
        self.tmp = tmp
        self.rng = random.Random(seed)
        size = dict(SIZES[workload])
        size["runs"] = max(1, round(size["runs"] * scale))
        self.size = size
        self.content_mode = workload == "ingest_bulk"
        self._n = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    # ---------------------------------------------------------- helpers

    def fresh(self):
        """A new empty tree and workflow directory."""
        # imported here: `workloads` needs the package, which main()
        # checks for and puts on sys.path first
        from workloads import Model, new_workflow

        self._n += 1
        base = os.path.join(self.tmp, f"w{self._n}")
        model = Model(os.path.join(base, "tree"), self.rng)
        wf = new_workflow(self.spark, os.path.join(base, "data"), model.root, self.content_mode)
        return base, model, wf

    def tick(self, wf, expect: int) -> float:
        """One timed `run_once`. A wrong change count is a failed
        operation; a raise ends the run without a result."""
        self.attempted += 1
        t0 = time.perf_counter()
        n = wf.run_once()
        dt = time.perf_counter() - t0
        if n != expect:
            self.failed += 1
            self.problems.append(f"run_once saw {n} changes, expected {expect}")
        return dt

    def check(self, model, wf) -> None:
        """Untimed: the committed state equals the model's entities."""
        from workloads import mismatches

        self.attempted += 1
        bad = mismatches(model, wf)
        if bad:
            self.failed += 1
            self.problems.extend(bad[:5])

    def bootstrap(self):
        """The workload's set-up step: a fresh tree and its first tick."""
        t0 = time.perf_counter()
        base, model, wf = self.fresh()
        files = model.add_runs(self.size["runs"], self.size["samples_per_run"])
        self.tick(wf, files)
        return time.perf_counter() - t0, base, model, wf

    def setup(self):
        """Repeat the set-up step; keep the last one. Returns the median
        set-up time and the kept (base, model, workflow)."""
        times = []
        kept = None
        for _ in range(SETUP_REPEATS):
            dt, base, model, wf = self.bootstrap()
            times.append(dt)
            if kept is not None:
                shutil.rmtree(kept[0], ignore_errors=True)
            kept = (base, model, wf)
        return statistics.median(times), kept

    # ------------------------------------------------------- tick_small

    def change(self, model, op: str) -> int:
        if op == "add":
            return model.add_random_sample()
        if op == "delete":
            return model.delete_random_lane()
        return 0

    def change_tick(self, m: "Measured", wf, n: int, traced: bool) -> None:
        if traced:
            dt, rec = self.traced_tick(m.tracer, wf, n)
            m.traced_s.append(dt)
            m.records.append(rec)
        else:
            dt = self.tick(wf, n)
            m.untraced_s.append(dt)
        m.change_s.append(dt)

    def run_tick_small(self, kept, seconds: float, m: "Measured") -> None:
        base, model, wf = kept
        m.data_dir = os.path.join(base, "data")
        start = time.perf_counter()
        i = 0
        while True:
            rnd, pos = divmod(i, len(TICK_PATTERN))
            if pos == 0:
                if m.tracer is not None:
                    done = rnd >= TRACE_ROUNDS
                    if rnd == 1:
                        m.untraced_s.clear()  # round 0 is a warm-up
                else:
                    done = rnd >= MIN_ROUNDS and time.perf_counter() - start >= seconds
                if done:
                    break
            i += 1
            op = TICK_PATTERN[pos]
            n = self.change(model, op)
            if op == "idle":
                m.idle_s.append(self.tick(wf, 0))
            else:
                # traced run: every other pattern round is traced
                self.change_tick(m, wf, n, m.tracer is not None and rnd % 2 == 1)
        self.check(model, wf)

    # ------------------------------------------------------ ingest_bulk

    def run_ingest(self, seconds: float, m: "Measured") -> None:
        """Cycles of: fresh workflow, one tick per landed block of new
        runs, idle polls over the grown tree. A traced run does a warm-up
        cycle, a traced one and an untraced one, and the overhead
        compares the last two."""
        start = time.perf_counter()
        cycle = 0
        while True:
            if m.tracer is not None:
                done = cycle >= 3
            else:
                done = cycle >= MIN_CYCLES and time.perf_counter() - start >= seconds
            if done:
                break
            if m.data_dir:
                shutil.rmtree(os.path.dirname(m.data_dir), ignore_errors=True)
            base, model, wf = self.fresh()
            m.data_dir = os.path.join(base, "data")
            for _ in range(self.size["blocks"]):
                n = model.add_runs(self.size["runs"], self.size["samples_per_run"])
                self.change_tick(m, wf, n, m.tracer is not None and cycle == 1)
            if m.tracer is not None and cycle == 0:
                m.untraced_s.clear()  # the warm-up cycle
            for _ in range(IDLE_PER_CYCLE):
                m.idle_s.append(self.tick(wf, 0))
            self.check(model, wf)
            cycle += 1

    # ----------------------------------------------------------- tracing

    def traced_tick(self, tracer, wf, expect: int):
        tracer.reset()
        epoch_ms = time.time() * 1000.0
        with tracer.installed(wf):
            with tracer.span("tick") as root:
                dt = self.tick(wf, expect)
        names = [bp.name for bp in wf.blueprints]
        rec = tracer.tick_record(root, epoch_ms, expect, names, wf.state.root)
        if not rec.pop("self_time_ok"):
            self.failed += 1
            self.problems.append("a span's self time is negative or exceeds the tick")
        return dt, rec


@dataclass
class Measured:
    """Latencies of one run; `records` holds one per-layer record per
    traced tick."""

    tracer: object = None
    change_s: list = field(default_factory=list)
    idle_s: list = field(default_factory=list)
    traced_s: list = field(default_factory=list)
    untraced_s: list = field(default_factory=list)
    records: list = field(default_factory=list)
    data_dir: str = ""


def per_layer_metrics(m: Measured, peak_rss_mb: float) -> dict:
    """Median of each per-layer number over the traced change ticks."""
    out = {key: statistics.median(r[key] for r in m.records) for key in m.records[0]}
    out["runtime.peak_rss_mb"] = peak_rss_mb
    out["tracing.overhead_s"] = statistics.median(m.traced_s) - statistics.median(m.untraced_s)
    return out


UNITS = {
    "setup_s": "s",
    "tick_p50_s": "s",
    "idle_poll_p50_s": "s",
    "disk_mb": "MB",
}


def layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes"):
        return "B"
    if name.endswith(("amplification", "util")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "files_kraken_spark")):
        print(f"error: package files_kraken_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    cwd = os.getcwd()
    prepare_environment(tmp)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(tmp)
        session_s = time.perf_counter() - t0

        bench = Bench(spark, tmp, args.workload, args.seed, args.scale)
        setup_med, kept = bench.setup()
        m = Measured()
        if args.trace:
            from tracer import Tracer

            m.tracer = Tracer(spark)
        if args.workload == "tick_small":
            bench.run_tick_small(kept, args.seconds, m)
        else:
            shutil.rmtree(kept[0], ignore_errors=True)
            bench.run_ingest(args.seconds, m)
        disk = dir_mb(m.data_dir)
        peak_mb = stop_session(spark)
        spark = None

        if args.trace:
            values = per_layer_metrics(m, peak_mb)
            metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in values.items()}
        else:
            values = {
                "setup_s": session_s + setup_med,
                "tick_p50_s": statistics.median(m.change_s),
                "idle_poll_p50_s": statistics.median(m.idle_s),
                "disk_mb": disk,
            }
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
        for p in bench.problems:
            print(f"# problem: {p}", file=sys.stderr)
        print(
            f"# {args.workload}: session {session_s:.2f}s, set-up median {setup_med:.2f}s, "
            f"change ticks {[round(x, 2) for x in m.change_s]}, "
            f"idle polls {[round(x, 2) for x in m.idle_s]}",
            file=sys.stderr,
        )
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": metrics,
        }
        print(json.dumps(result))
        sys.stdout.flush()
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
