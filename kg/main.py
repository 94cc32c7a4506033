"""spark-submit / CLI entry point (SURVEY.md §7 layout; §3.1 lifecycle).

Reference analog: Main.java:17-31 — a flagged-option CLI that wires the
source connection, output store, optional interaction file, and a
progress-bar switch, then runs the whole import and logs a summary.
The Spark translation: parquet inputs instead of a MySQL connection,
a parquet out_dir instead of the neo4j path, and the
import summary as one machine-readable JSON line on stdout (the
reference logs it at ReactomeBatchImporter.java:156-171).

Usage (spark-submit or plain python):

    python -m kg.main --transcripts t.parquet --catalog c.parquet \
        --alias-pairs a.parquet --out ./kg_out [--resume] [--bar] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="kg.main",
        description="PySpark KG-construction pipeline (reactome/graph-importer analog)",
    )
    ap.add_argument("--transcripts", required=True, help="transcripts parquet path")
    ap.add_argument("--catalog", required=True, help="entity catalog parquet path")
    ap.add_argument("--alias-pairs", required=True, help="alias pairs parquet path")
    ap.add_argument("--out", required=True, help="output directory (stage tables + manifests)")
    ap.add_argument("--resume", action="store_true",
                    help="reuse completed stage outputs (manifest check; Main.java has no analog — the reference always re-imports)")
    ap.add_argument("--bar", action="store_true",
                    help="live progress bars on stderr (ProgressBarUtils analog)")
    ap.add_argument("--cpus", type=int, default=None, help="local[N] parallelism")
    ap.add_argument("--app-name", default="kg-import")
    return ap


def run(argv: list[str] | None = None, spark=None) -> dict:
    """Parse args, run the materialized pipeline, return (and print) the
    import summary.  ``spark`` injectable for tests."""
    args = build_parser().parse_args(argv)

    from kg.session import get_spark

    if spark is None:
        kw = {"parallelism": args.cpus} if args.cpus else {}
        spark = get_spark(args.app_name, **kw)

    from kg.pipeline import run_pipeline_materialized
    from kg.progress import ProgressReporter
    from kg.schema import ALIAS_PAIRS_SCHEMA, CATALOG_SCHEMA, TRANSCRIPTS_SCHEMA

    tr = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(args.transcripts)
    cat = spark.read.schema(CATALOG_SCHEMA).parquet(args.catalog)
    ap_df = spark.read.schema(ALIAS_PAIRS_SCHEMA).parquet(args.alias_pairs)

    reporter = (
        ProgressReporter(spark, sink=lambda ln: print(ln, file=sys.stderr))
        if args.bar
        else None
    )
    t0 = time.monotonic()
    if reporter:
        reporter.start()
    try:
        res = run_pipeline_materialized(
            spark, tr, cat, ap_df, args.out, resume=args.resume
        )
    finally:
        if reporter:
            reporter.stop()
    wall = round(time.monotonic() - t0, 3)

    summary = {
        "out_dir": args.out,
        "wall_sec": wall,
        "edges": res["manifests"]["edges"]["rows"],
        "nodes": res["manifests"]["nodes"]["rows"],
        "qa": res["qa"],
        "stages": {
            name: {"rows": m["rows"], "resumed": m.get("resumed", False)}
            for name, m in res["manifests"].items()
        },
        "tasks_observed": reporter.total_tasks_seen() if reporter else None,
    }
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    run()
