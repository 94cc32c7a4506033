#!/usr/bin/env python
"""Benchmark harness (driver contract: prints ONE JSON line).

Runs the headline workload on local[$SPARK_GRAFT_CPUS] against
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1):

- the four-stage KG pipeline over a deterministic synthetic transcript
  corpus sized to the SF (headline metric: triples/sec), and
- representative operator queries from the contract registry, each
  forced end-to-end with the noop datasource (full compute, no collect).

Flags: --kg-only (skip operator queries), --convs N (override corpus
size), --json-out PATH (also write the JSON line to a file).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "a1_stoichiometry_order",
    "a2_latest_top1_per_group",
    "w4_sessionization",
    "d2_symmetric_edge_dedup",
    "j1_endpoint_resolution",
    "skew_salted_count",
    "dedup_exact_groups",
    "dedup_minhash_signatures",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash32",
    "text_quality_score",
    "text_token_count",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "asof_join_profiles",
    "merge_upsert_customers",
    "dedup_near_dup_clusters",
    "sample_split_assign",
]

SF_TO_CONVS = {"sf0.001": 300, "sf0.01": 3000, "sf0.1": 30000}


def _force(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def bench_kg_pipeline(spark, n_convs: int, warm_runs: int = 1, runs: int = 1) -> dict:
    """End-to-end pipeline wall time + triples/sec (steady state).

    The timed region is one run_pipeline_materialized build into a fresh
    directory (every stage written, QA included) plus one aggregate over
    the written edge table; emitted triples = Σ stoichiometry (canonical
    triple occurrences).

    warm_runs un-timed executions come first: the first run of each
    codegen'd stage pays JIT compilation (measured 4.4s → 0.33s for the
    link-index stage alone), which a long-lived cluster job pays once per
    executor lifetime, not per job.  Every run writes to a new directory,
    so no run resumes a stage of another.
    """
    from pyspark.sql import functions as F

    from kg.pipeline import run_pipeline_materialized
    from kg.schema import ALIAS_PAIRS_SCHEMA, CATALOG_SCHEMA, TRANSCRIPTS_SCHEMA
    from kg.synth import write_fixtures

    fdir = os.path.join("/tmp", f"kg_bench_fixtures_{n_convs}")
    if not os.path.exists(os.path.join(fdir, "transcripts.parquet")):
        write_fixtures(fdir, n_convs=n_convs, n_entities=500)
    tr = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(
        os.path.join(fdir, "transcripts.parquet")
    )
    cat = spark.read.schema(CATALOG_SCHEMA).parquet(
        os.path.join(fdir, "entity_catalog.parquet")
    )
    ap = spark.read.schema(ALIAS_PAIRS_SCHEMA).parquet(
        os.path.join(fdir, "alias_pairs.parquet")
    )
    n_turns = tr.count()

    def _one_run() -> tuple[float, int, int]:
        out = tempfile.mkdtemp(prefix="kg_bench_")
        try:
            t0 = time.monotonic()
            res = run_pipeline_materialized(spark, tr, cat, ap, out)
            row = res["edges"].agg(
                F.sum("stoichiometry").alias("triples"),
                F.count(F.lit(1)).alias("edges"),
            ).collect()[0]
            elapsed = time.monotonic() - t0
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return elapsed, int(row["triples"] or 0), int(row["edges"])

    for _ in range(warm_runs):
        _one_run()
    results = [_one_run() for _ in range(max(runs, 1))]
    elapsed, triples, edges = min(results, key=lambda r: r[0])
    stage_walls = bench_stage_walls(spark, tr, cat, ap)
    return {
        "stage_walls": stage_walls,
        "n_convs": n_convs,
        "n_turns": int(n_turns),
        "triples": triples,
        "edges": edges,
        "wall_sec": round(elapsed, 3),
        "runs": [round(r[0], 3) for r in results],
        "triples_per_sec": round(triples / elapsed, 1) if elapsed > 0 else 0.0,
        "turns_per_sec": round(n_turns / elapsed, 1) if elapsed > 0 else 0.0,
    }


def bench_stage_walls(spark, tr, cat, ap) -> dict[str, float]:
    """Per-stage wall breakdown (extract / link / cc / materialize), each
    stage persisted + forced so the next stage's timer excludes upstream
    recompute.  One extra warm pass after the headline runs — the split
    localizes a perf regression to its stage without an event-log dig.
    Stage boundaries don't overlap-execute here (the pipeline proper
    pipelines them), so the sum slightly exceeds the end-to-end wall."""
    from pyspark.sql import functions as F

    from kg.canonicalize import apply_canonical_map, connected_components
    from kg.extract import extract_triples
    from kg.link import link_triples
    from kg.materialize import build_edges, provenance_edges

    spark.catalog.clearCache()
    walls: dict[str, float] = {}

    t0 = time.monotonic()
    raw = extract_triples(tr).persist()
    raw.count()
    walls["extract"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    linked = link_triples(raw, cat).persist()
    linked.count()
    walls["link"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    mapping = connected_components(ap).persist()
    mapping.count()
    walls["cc"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    canonical = apply_canonical_map(linked, mapping)
    edges = build_edges(canonical).unionByName(provenance_edges(spark))
    edges.agg(F.sum("stoichiometry"), F.count(F.lit(1))).collect()
    walls["materialize"] = round(time.monotonic() - t0, 3)

    for df in (raw, linked, mapping):
        df.unpersist()
    return walls


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kg-only", action="store_true")
    ap.add_argument("--convs", type=int, default=None)
    ap.add_argument("--json-out", default=None)
    ap.add_argument("--warm-runs", type=int, default=1)
    # best-of-3 by default: single-run walls on this host swing ±40%
    # under CPU-steal spikes (see PLANS.md), which would make round-over-
    # round BENCH comparisons noise-dominated
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_label = os.path.basename(os.path.normpath(sf_dir))
    sf = float(sf_label.removeprefix("sf")) if sf_label.startswith("sf") else None

    from kg.session import get_spark

    extra = {}
    # shuffle through tmpfs: local-mode shuffles share one disk's bandwidth
    # regardless of core count, which caps strong scaling (the cluster
    # equivalent is per-executor NVMe).  RAM-backed local dirs isolate the
    # CPU-scaling measurement from the sandbox's single virtual disk.
    shm = "/dev/shm/kg-spark-local"
    if os.path.isdir("/dev/shm"):
        os.makedirs(shm, exist_ok=True)
        extra["spark.local.dir"] = shm
    if cpus >= (os.cpu_count() or cpus):
        # saturated local box: each UDF task keeps a python worker AND a
        # JVM Arrow feeder runnable — cores/2 UDF partitions avoids the
        # 2× oversubscription (PLANS.md; measured 23s → 18.6s at 2M convs).
        # Only the pandas extract impl reads this; the default pure-JVM
        # path has no python worker and ignores it.
        extra["spark.kg.extract.partitions"] = str(max(2, cpus // 2))
    # A/B hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" injects arbitrary confs
    # (e.g. spark.kg.materialize.encodeIds=false for a control run).
    # ';'-separated — ',' collides with multi-flag values like
    # spark.executor.extraJavaOptions (ADVICE r4); ','-separated input
    # still parses when no value contains a comma (legacy invocations).
    raw = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in raw.split(";" if ";" in raw else ","):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    spark = get_spark("bench", parallelism=cpus, extra_conf=extra)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup
    # Python-worker warmup: fork + pandas import on every core happens once
    # per executor lifetime in production; pay it before the timer, not in
    # the first measured UDF stage.
    import pandas as _pd

    def _noop(it):
        for pdf in it:
            yield pdf

    (spark.range(cpus * 4).repartition(cpus)
     .mapInPandas(_noop, schema="id long").count())

    n_convs = args.convs or SF_TO_CONVS.get(sf_label, 3000)
    kg = bench_kg_pipeline(spark, n_convs, warm_runs=args.warm_runs, runs=args.runs)

    queries: dict[str, float] = {"kg_pipeline": kg["wall_sec"]}
    if not args.kg_only:
        import __spark_entry__ as em

        qs = em.queries()
        for name in HEADLINE_QUERIES:
            queries[name] = round(_force(qs[name](spark, sf_dir)), 3)

    out = {
        "metric": "kg_pipeline_triples_per_sec",
        "value": kg["triples_per_sec"],
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "kg": kg,
        "total_sec": round(sum(queries.values()), 3),
    }
    line = json.dumps(out)
    print(line)
    if args.json_out:
        with open(args.json_out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
