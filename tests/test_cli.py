"""CLI config-driven workflow runner."""

from __future__ import annotations

import json

from files_kraken_spark.cli import blueprint_from_config, workflow_from_config
from files_kraken_spark.blueprint import FieldType, Template


CFG = {
    "name": "cli_flow",
    "roots": None,  # filled per test
    "blueprints": [
        {
            "name": "ProjectInfo",
            "required": {"project": ["(project_\\d+)", 1]},
            "optional": {"results_file": {"template": "{project}_results\\.txt"}},
            "types": {"results_file": "path"},
            "parsers": {
                "result": {
                    "returns": "double",
                    "dependent_fields": ["results_file"],
                    "fn": "files_kraken_spark.parsers:read_float_file",
                }
            },
        }
    ],
}


def test_blueprint_from_config():
    bp = blueprint_from_config(CFG["blueprints"][0])
    assert bp.name == "ProjectInfo"
    assert bp.required == {"project": ("(project_\\d+)", 1)}
    assert isinstance(bp.optional["results_file"], Template)
    assert bp.field_type("results_file") == FieldType.PATH
    assert bp.parsers["result"].dependent_fields == ("results_file",)
    assert callable(bp.parsers["result"].fn)


def test_cli_end_to_end(spark, tmp_path):
    root = tmp_path / "proj"
    root.mkdir()
    (root / "project_1_results.txt").write_text("12.5")
    cfg = dict(CFG, roots=[str(root)], data_dir=str(tmp_path / "wf"))

    wf = workflow_from_config(spark, cfg)
    assert wf.run_once() == 1
    row = wf.state.load(spark, wf.blueprints[0]).collect()[0]
    assert row["project"] == "project_1"
    assert row["result"] == 12.5


def test_cli_main_once(spark, tmp_path, capsys):
    from files_kraken_spark import cli

    root = tmp_path / "proj"
    root.mkdir()
    (root / "project_9_results.txt").write_text("1")
    cfg = dict(CFG, roots=[str(root)], data_dir=str(tmp_path / "wf"))
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))
    assert cli.main([str(cfg_path), "--once"]) == 0
    assert "processed 1 changes" in capsys.readouterr().out


def test_cli_query_subcommand(capsys):
    from files_kraken_spark.cli import main

    assert main(["query", "--list"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out and "s1_file_listing\trows-only" in out
    assert main(["query", "no_such_query"]) == 2
