"""Optimization-round harness: isolated per-query timing + plan capture.

For each named registry query, runs N cache-cleared noop-sink
materializations at the given scale dir (bench.py's own timed loop and
q1 control sentinel: min is the steady-state cost, spread self-flags
contention) and optionally
writes the `.explain("formatted")` output to
<plans-dir>/<query>_<tag>.txt so plan-shape claims in the round's
OPTIMIZATION_*.md are checkable offline.

    python tools/opt_profile.py QUERY [QUERY ...] \
        [--dir /root/testdata/sf0.1] [--runs 3] [--plan-tag before] \
        [--plans-dir plans/r14]

Emits one JSON line per query on stdout: {"query", "min", "spread",
"runs", "dir"}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import control, min_noop_runs
from files_kraken_spark.queries import REGISTRY
from files_kraken_spark.session import get_session

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_PLANS_DIR = os.path.join(_REPO_ROOT, "plans", "r14")


def capture_plan(df) -> str:
    """explain('formatted') output as a string, portably: redirect
    stdout around the public .explain() hook instead of reaching into
    df._sc._jvm.PythonSQLUtils (round-13 ADVICE: the jvm symbol path is
    version-fragile for a committed tool)."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--plan-tag",
        default=None,
        help="if set, write explain('formatted') to <plans-dir>/<q>_<tag>.txt",
    )
    ap.add_argument("--plans-dir", default=DEFAULT_PLANS_DIR)
    args = ap.parse_args()

    unknown = [q for q in args.queries if q not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 1

    spark = get_session("opt-profile")
    spark.sparkContext.setLogLevel("ERROR")
    # JVM/codegen warmup so the first measured query isn't charged startup
    spark.read.parquet(f"{args.dir}/region.parquet").count()

    c0 = control(spark, args.dir)

    if args.plan_tag:
        os.makedirs(args.plans_dir, exist_ok=True)

    for name in args.queries:
        spec = REGISTRY[name]
        if args.plan_tag:
            df = spec.spark(spark, args.dir)
            plan = capture_plan(df)
            path = os.path.join(args.plans_dir, f"{name}_{args.plan_tag}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"# plan -> {path}", file=sys.stderr)
        runs = min_noop_runs(spark, spec, args.dir, args.runs)
        rec = {
            "query": name,
            "min": min(runs),
            "spread": round(max(runs) / max(min(runs), 1e-9), 2),
            "runs": runs,
            "dir": args.dir,
        }
        print(json.dumps(rec))
        sys.stdout.flush()
    print(json.dumps({"control": [c0, control(spark, args.dir)]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
