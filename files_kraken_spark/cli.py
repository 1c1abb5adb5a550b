"""CLI workflow runner: ``python -m files_kraken_spark <config.json>``.

The reference wires workflows in Python (``initializer/_initializer.py``);
this runner accepts a JSON config so an operator can deploy a watch
pipeline without writing code:

{
  "name": "my_flow",
  "roots": ["/data/runs"],
  "poll_interval": 2.0,          // optional; omit with --once
  "exit_time": 60,               // optional wall-clock stop (R2)
  "exit_file": "/tmp/stop",      // optional sentinel stop (R2)
  "data_dir": "./workflow_data/my_flow",
  "matcher": {"patterns": ["run_\\\\d+\\\\..+"], "mode": "any", "exclude": []},
  "blueprints": [
    {
      "name": "SampleBlueprint",
      "required": {"sample": ["sample_([^.]+?)\\\\.", 1]},
      "optional": {"fastqs": [".+\\\\.fastq\\\\.gz", 0],
                    "results_file": {"template": "{sample}_results\\\\.txt"}},
      "types": {"fastqs": "list_path", "results_file": "path"},
      "parsers": {"metric": {"returns": "double",
                              "dependent_fields": ["results_file"],
                              "fn": "files_kraken_spark.parsers:read_float_file"}}
    }
  ]
}
"""

from __future__ import annotations

import argparse
import importlib
import json

from .blueprint import Blueprint, FieldType, ParserSpec, Template
from .session import get_session
from .sources.listing import NameMatcher
from .streaming import Workflow


def _load_fn(spec: str):
    mod, _, attr = spec.partition(":")
    return getattr(importlib.import_module(mod), attr)


def _spec(v):
    """JSON field spec → engine spec: [pat, grp] | "pat" | {"template": …}
    | list of alternatives."""
    if isinstance(v, str):
        return v
    if isinstance(v, dict) and "template" in v:
        return Template(v["template"])
    if isinstance(v, list) and len(v) == 2 and isinstance(v[1], int):
        return (v[0], v[1])
    if isinstance(v, list):
        return [_spec(x) for x in v]
    raise ValueError(f"bad field spec: {v!r}")


def blueprint_from_config(cfg: dict) -> Blueprint:
    parsers = {}
    for f, p in cfg.get("parsers", {}).items():
        parsers[f] = ParserSpec(
            returns=p.get("returns", "string"),
            pattern=p.get("pattern"),
            dependent_fields=tuple(p.get("dependent_fields", ())),
            fn=_load_fn(p["fn"]) if "fn" in p else None,
        )
    return Blueprint(
        name=cfg["name"],
        required={f: _spec(v) for f, v in cfg["required"].items()},
        optional={f: _spec(v) for f, v in cfg.get("optional", {}).items()},
        types={f: FieldType(t) for f, t in cfg.get("types", {}).items()},
        parsers=parsers,
    )


def workflow_from_config(spark, cfg: dict) -> Workflow:
    wf = Workflow(
        spark,
        cfg["name"],
        [blueprint_from_config(b) for b in cfg["blueprints"]],
        data_dir=cfg.get("data_dir"),
        exit_time=cfg.get("exit_time"),
        exit_file=cfg.get("exit_file"),
    )
    matcher = None
    if "matcher" in cfg:
        m = cfg["matcher"]
        matcher = NameMatcher(
            patterns=tuple(m["patterns"]),
            mode=m.get("mode", "any"),
            exclude=tuple(m.get("exclude", ())),
        )
    wf.add_watcher(
        cfg["roots"],
        matcher=matcher,
        max_depth=cfg.get("max_depth"),
        keep_empty_dirs=cfg.get("keep_empty_dirs", False),
    )
    return wf


def _query_main(argv: list[str]) -> int:
    """``python -m files_kraken_spark query <name> [--sf DIR] [...]`` —
    run any registry query (or list them) from the shell."""
    from .queries import REGISTRY

    ap = argparse.ArgumentParser(prog="files_kraken_spark query")
    ap.add_argument("name", nargs="?", help="query name (omit with --list)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="table directory")
    ap.add_argument("--limit", type=int, default=20, help="rows to show")
    ap.add_argument("--explain", action="store_true", help="print the physical plan")
    ap.add_argument("--list", action="store_true", help="list registry queries")
    args = ap.parse_args(argv)

    if args.list or not args.name:
        for n, spec in REGISTRY.items():
            kind = "oracle" if spec.oracle else "rows-only"
            print(f"{n}\t{kind}\t{spec.doc.splitlines()[0] if spec.doc else ''}")
        return 0
    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r}; try --list")
        return 2
    spark = get_session(f"query-{args.name}")
    spark.sparkContext.setLogLevel("ERROR")
    df = REGISTRY[args.name].spark(spark, args.sf)
    if args.explain:
        df.explain("formatted")
    df.show(args.limit, truncate=40)
    return 0


def main(argv: list[str] | None = None) -> int:
    import sys as _sys

    argv = list(_sys.argv[1:] if argv is None else argv)
    if argv and argv[0] == "query":
        return _query_main(argv[1:])

    ap = argparse.ArgumentParser(prog="files_kraken_spark")
    ap.add_argument("config", help="workflow config JSON path (or 'query <name>')")
    ap.add_argument("--once", action="store_true", help="single tick (AvailableNow)")
    ap.add_argument("--show", action="store_true", help="print state tables after run")
    args = ap.parse_args(argv)

    with open(args.config) as f:
        cfg = json.load(f)
    spark = get_session(cfg.get("name", "files-kraken-spark"))
    spark.sparkContext.setLogLevel("ERROR")
    wf = workflow_from_config(spark, cfg)
    if args.once:
        n = wf.run_once()
        print(f"processed {n} changes")
    else:
        wf.run(poll_interval=float(cfg.get("poll_interval", 1.0)))
    if args.show:
        for bp in wf.blueprints:
            print(f"== {bp.name}")
            wf.state.load(spark, bp).show(50, truncate=60)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
