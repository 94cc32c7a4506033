"""CLI entry (kg/main.py): argparse wiring, summary JSON, resume flag."""

from __future__ import annotations

import json

from kg.main import build_parser, run
from kg.synth import write_fixtures


def test_cli_runs_pipeline_and_prints_summary(spark, tmp_path, capsys):
    paths = write_fixtures(str(tmp_path / "fx"), n_convs=40, n_entities=120)
    out = str(tmp_path / "out")
    argv = [
        "--transcripts", paths["transcripts"],
        "--catalog", paths["entity_catalog"],
        "--alias-pairs", paths["alias_pairs"],
        "--out", out,
        "--bar",
    ]
    summary = run(argv, spark=spark)
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed == {**summary}
    assert summary["edges"] > 0 and summary["nodes"] > 0
    assert all(v == 0 for v in summary["qa"].values())
    assert set(summary["stages"]) >= {"raw_triples", "nodes", "edges"}
    assert not any(st["resumed"] for st in summary["stages"].values())

    assert all(st["rows"] is not None for st in summary["stages"].values())

    # --resume reuses every completed stage and reports its stored rows
    summary2 = run(argv + ["--resume"], spark=spark)
    assert summary2["edges"] == summary["edges"]
    assert summary2["nodes"] == summary["nodes"]
    assert all(st["resumed"] for st in summary2["stages"].values())
    assert {k: st["rows"] for k, st in summary2["stages"].items()} == {
        k: st["rows"] for k, st in summary["stages"].items()
    }


def test_cli_parser_defaults():
    ap = build_parser()
    ns = ap.parse_args(
        ["--transcripts", "t", "--catalog", "c", "--alias-pairs", "a", "--out", "o"]
    )
    assert not ns.resume and not ns.bar and ns.cpus is None
