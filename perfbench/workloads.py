"""Workload generators and the expected-state model for the watch-loop
benchmark.

The watched tree follows the advanced example: one directory per run,
and per sample two lane files plus a results file holding a float.

    <root>/run_<r>/run_<r>.sample_<s>.lane_<1|2>.fastq.gz
    <root>/run_<r>/run_<r>.sample_<s>.results.txt

`Model` mirrors every file operation and knows the entities the engine
must hold afterwards, so a run's final state can be checked exactly.
"""

from __future__ import annotations

import os
import random

from files_kraken_spark.blueprint import Blueprint, FieldType, ParserSpec, Template
from files_kraken_spark.parsers import parse_float_content, read_float_file
from files_kraken_spark.sources.listing import NameMatcher
from files_kraken_spark.streaming import Workflow

MATCHER = NameMatcher(patterns=(r"run_\d+\..+",))


def blueprints(content_mode: bool) -> list[Blueprint]:
    """The advanced example's two blueprints. `content_mode` swaps the
    path-reading parser for the binaryFile content-join parser."""
    parser = ParserSpec(
        returns="double",
        dependent_fields=("results_file",),
        fn=parse_float_content if content_mode else read_float_file,
        content_mode=content_mode,
    )
    sample_run = Blueprint(
        name="SampleRunInfo",
        required={"run": (r"(run_\d+)\.", 1), "sample": (r"sample_(\d+)\.", 1)},
        optional={
            "fastqs": (r".+\.fastq\.gz", 0),
            "results_file": Template(r"{run}\.sample_{sample}\.results\.txt"),
        },
        types={"fastqs": FieldType.LIST_PATH, "results_file": FieldType.PATH},
        parsers={"result": parser},
    )
    run_info = Blueprint(
        name="RunInfo",
        required={"run": (r"(run_\d+)\.", 1)},
        optional={"samples": (r"sample_(\d+)\.", 1)},
        types={"samples": FieldType.LIST_STR},
    )
    return [sample_run, run_info]


class Model:
    """A watched tree on disk plus the entities it must produce."""

    def __init__(self, root: str, rng: random.Random):
        self.root = os.path.abspath(root)
        self.rng = rng
        os.makedirs(self.root, exist_ok=True)
        self.samples: dict[tuple[int, int], dict] = {}  # (run, sample) -> lanes, value
        self.dropped: set[tuple[int, int]] = set()  # samples a lane delete removed from RunInfo
        self.with_lane2: list[tuple[int, int]] = []
        self.next_sample: dict[int, int] = {}
        self.next_run = 1

    def _path(self, r: int, s: int, leaf: str) -> str:
        return os.path.join(self.root, f"run_{r}", f"run_{r}.sample_{s}.{leaf}")

    def add_sample(self, r: int) -> int:
        """Write one sample's three files into run `r`; returns 3."""
        s = self.next_sample.get(r, 1)
        self.next_sample[r] = s + 1
        os.makedirs(os.path.join(self.root, f"run_{r}"), exist_ok=True)
        value = f"{self.rng.randrange(100000) / 100}"
        for lane in (1, 2):
            with open(self._path(r, s, f"lane_{lane}.fastq.gz"), "w") as f:
                f.write("fq")
        with open(self._path(r, s, "results.txt"), "w") as f:
            f.write(value)
        self.samples[(r, s)] = {"lanes": {1, 2}, "value": float(value)}
        self.with_lane2.append((r, s))
        return 3

    def add_runs(self, n_runs: int, samples_per_run: int) -> int:
        """New runs with their samples; returns the files written."""
        written = 0
        for _ in range(n_runs):
            r = self.next_run
            self.next_run += 1
            for _ in range(samples_per_run):
                written += self.add_sample(r)
        return written

    def add_random_sample(self) -> int:
        return self.add_sample(self.rng.randrange(1, self.next_run))

    def delete_random_lane(self) -> int:
        """Delete lane 2 of a random sample that still has it; returns 1."""
        i = self.rng.randrange(len(self.with_lane2))
        self.with_lane2[i], self.with_lane2[-1] = self.with_lane2[-1], self.with_lane2[i]
        r, s = self.with_lane2.pop()
        os.remove(self._path(r, s, "lane_2.fastq.gz"))
        self.samples[(r, s)]["lanes"].discard(2)
        # a deleted file retracts every value it contributed, so RunInfo
        # loses the sample id the lane file carried
        self.dropped.add((r, s))
        return 1

    def expected(self) -> dict[str, dict[str, tuple]]:
        """Entities per blueprint, keyed by id, as comparable tuples."""
        sample_rows = {}
        run_samples: dict[int, list[str]] = {}
        for (r, s), d in self.samples.items():
            fastqs = sorted(self._path(r, s, f"lane_{lane}.fastq.gz") for lane in d["lanes"])
            sample_rows[f"run_{r}__{s}"] = (
                f"run_{r}", str(s), fastqs or None, self._path(r, s, "results.txt"), d["value"], []
            )
            run_samples.setdefault(r, [])
            if (r, s) not in self.dropped:
                run_samples[r].append(str(s))
        run_rows = {
            f"run_{r}": (f"run_{r}", sorted(ss) or None, []) for r, ss in run_samples.items()
        }
        return {"SampleRunInfo": sample_rows, "RunInfo": run_rows}


def actual(wf: Workflow) -> dict[str, dict[str, tuple]]:
    """The workflow's committed state in `Model.expected`'s shape."""
    out = {}
    for bp in wf.blueprints:
        rows = wf.state.load(wf.spark, bp).collect()
        if bp.name == "SampleRunInfo":
            out[bp.name] = {
                r["id"]: (
                    r["run"], r["sample"], r["fastqs"], r["results_file"], r["result"], list(r["_conflicts"] or [])
                )
                for r in rows
            }
        else:
            out[bp.name] = {
                r["id"]: (r["run"], r["samples"], list(r["_conflicts"] or [])) for r in rows
            }
    return out


def mismatches(model: Model, wf: Workflow) -> list[str]:
    """Differences between the committed state and the model (empty
    when the state is exactly right)."""
    exp, got = model.expected(), actual(wf)
    problems = []
    for name, e in exp.items():
        g = got[name]
        if set(e) != set(g):
            problems.append(
                f"{name}: ids missing {sorted(set(e) - set(g))[:3]} unexpected {sorted(set(g) - set(e))[:3]}"
            )
        for k in sorted(set(e) & set(g)):
            if e[k] != g[k]:
                problems.append(f"{name}[{k}]: expected {e[k]} got {g[k]}")
                break
    return problems


def new_workflow(spark, data_dir: str, root: str, content_mode: bool) -> Workflow:
    wf = Workflow(spark, os.path.basename(data_dir), blueprints(content_mode), data_dir=data_dir)
    wf.add_watcher(root, matcher=MATCHER)
    return wf
