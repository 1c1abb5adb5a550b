"""Scale-sweep runner (rounds 10-12 methodology, persisted in-repo):
min-of-N cache-cleared wall times for named registry queries across
scale dirs, emitting the SCALING.md table columns (x10 wall ratio +
top-decade exponent).

    python tools/sweep.py QUERY [QUERY ...] \
        [--dirs /root/testdata/sf0.01,/root/testdata/sf0.1,/tmp/sf1x10] \
        [--runs 2]

The 10x dir is built by tools/synth_tenx.py. Each (query, dir) point
clears the Spark cache and materializes the result through the noop
sink (bench.py's technique — count() would let Catalyst prune the
projections and under-measure), reporting the min over --runs runs;
serve_state-backed queries pay their state build on run 1 and report
the warm serve cost, matching the bench harness's min-of-N semantics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import min_noop_runs
from files_kraken_spark.queries import REGISTRY
from files_kraken_spark.session import get_session

DEFAULT_DIRS = "/root/testdata/sf0.01,/root/testdata/sf0.1,/tmp/sf1x10"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--dirs", default=DEFAULT_DIRS)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    dirs = args.dirs.split(",")
    unknown = [q for q in args.queries if q not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 1

    spark = get_session("sweep")
    spark.sparkContext.setLogLevel("ERROR")
    # warm JVM/codegen once so point 1 isn't startup
    spark.range(1000).selectExpr("sum(id)").collect()

    def _sf(d: str) -> float | None:
        # "sf1x10" names the 10-copies-of-sf0.1 corpus: the numeric
        # prefix (1) IS its effective scale factor — the x10 suffix
        # records the recipe, not a multiplier
        m = re.search(
            r"sf([0-9.]+?)(x10)?$", os.path.basename(d.rstrip("/"))
        )
        return float(m.group(1)) if m else None

    out: dict[str, dict[str, float]] = {}
    for name in args.queries:
        spec = REGISTRY[name]
        out[name] = {}
        for d in dirs:
            out[name][d] = round(min(min_noop_runs(spark, spec, d, args.runs)), 2)
            print(f"{name} @ {d}: {out[name][d]}s", flush=True)
        pts = [out[name][d] for d in dirs]
        if len(pts) >= 2 and pts[-2] > 0:
            # The ratio is computed from the LAST PAIR of --dirs,
            # whatever they are; the derived exponent needs that
            # pair's actual log10 spacing, inferred from the dirs'
            # sf labels (round-12 ADVICE item 3). When either label
            # fails to parse (or the pair is not ascending), say so
            # and print the ratio WITHOUT an exponent instead of
            # asserting an unfounded "1.00 decade(s)" (round-13
            # review finding).
            ratio = pts[-1] / pts[-2]
            s_lo, s_hi = _sf(dirs[-2]), _sf(dirs[-1])
            if s_lo and s_hi and s_hi > s_lo:
                decades = math.log10(s_hi / s_lo)
                expo = (
                    math.log10(ratio) / decades
                    if ratio > 0
                    else float("nan")
                )
                print(
                    f"{name}: last-pair wall ratio {ratio:.2f} over "
                    f"{decades:.2f} decade(s), exponent {expo:.2f}",
                    flush=True,
                )
            else:
                print(
                    f"{name}: last-pair wall ratio {ratio:.2f} "
                    "(dir spacing unknown — sf labels unparsed or "
                    "non-ascending; no exponent)",
                    flush=True,
                )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
