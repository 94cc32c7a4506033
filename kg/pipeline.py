"""End-to-end four-stage pipeline driver (SURVEY.md §3.1 Spark lifecycle).

transcripts ──Stage1 extract──▶ raw_triples
raw_triples × catalog ──Stage2 link──▶ linked_triples
alias_pairs ──Stage3 CC──▶ canonical mapping ──▶ canonical_triples
canonical_triples ──Stage4──▶ kg.nodes / kg.edges (+ QA + manifests)

run_pipeline_materialized(...) is the one batch runner: every stage
lands in parquet with a manifest, and completed stages (same input
snapshot and pipeline format, kg.lineage.PIPELINE_FORMAT) are skipped on
rerun — the checkpointed-resumability contract of the north_rule.
Consumers that only read a build (the driver contract's entry(), the
tests) run it into a temporary directory.  Stages that do not read each
other run side by side: CC beside extract → link, nodes beside edges,
node QA and the discarded count beside edge QA; worker threads inherit
the caller's job group, description and tags.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from kg.canonicalize import apply_canonical_map, connected_components
from kg.extract import extract_triples
from kg.lineage import read_manifest, read_stage, stage_is_complete, write_stage
from kg.link import link_triples, release_surface_map
from kg.materialize import (
    build_edges,
    build_nodes,
    count_discarded_catalog_entities,
    input_snapshot_checksums,
    provenance_edges,
    qa_consistency_checks,
    top_level_component_ids,
)

# the stages run_pipeline_materialized writes, in order
STAGES = (
    "raw_triples",
    "linked_triples",
    "mapping",
    "canonical_triples",
    "nodes",
    "edges",
)


def _qa_table(
    df: DataFrame, table: str, keys: dict[str, list[str]], consistency: str
) -> dict[str, int]:
    """One aggregate over ``df``: for each named key, the rows beyond one
    per distinct key value (a struct is never NULL, so a NULL key value
    counts as one value, as in a groupBy), and under ``consistency`` the
    number of columns with qa_consistency violations."""
    row = df.agg(
        F.count(F.lit(1)).alias("_rows"),
        *[F.countDistinct(F.struct(*cols)).alias(name) for name, cols in keys.items()],
        *qa_consistency_checks(df, table),
    ).collect()[0].asDict()
    out = {name: row["_rows"] - row[name] for name in keys}
    out[consistency] = sum(
        1 for k, v in row.items() if k.startswith("chk_") and (v["violations"] or 0) > 0
    )
    return out


def _node_qa(nodes: DataFrame) -> dict[str, int]:
    return _qa_table(
        nodes,
        "nodes",
        {"dup_node_ids": ["node_id"], "dup_canonical_ids": ["canonical_id"]},
        "node_consistency",
    )


def _edge_qa(edges: DataFrame) -> dict[str, int]:
    return _qa_table(
        edges, "edges", {"dup_edges": ["src", "rel_type", "dst"]}, "edge_consistency"
    )


def run_qa(nodes: DataFrame, edges: DataFrame) -> dict[str, int]:
    """V1/V2 analogs, one aggregate per table.  dup_* are surplus-row
    counts (rows beyond one per key value) and *_consistency the number
    of columns with nullability violations; the contract is only zero
    (valid) vs non-zero (violated)."""
    return {**_node_qa(nodes), **_edge_qa(edges)}


def run_pipeline_materialized(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: DataFrame,
    alias_pairs: DataFrame,
    out_dir: str,
    resume: bool = True,
) -> dict:
    """Materialized run with per-stage manifests + resume.

    Stage granularity matches the reference's four import phases
    (ReactomeBatchImporter.java:145-149 ordered worklist); each stage is
    an atomic overwrite, so a crash between stages resumes exactly at the
    first incomplete stage (tested in tests/test_resume.py).  A resumed
    stage reports the manifest it was written with, plus resumed=True.

    Stages that do not read each other run side by side, one branch on
    the caller's thread and one on a worker thread, so their Spark jobs
    share the cores instead of queueing behind each other's fixed costs:
    CC (mapping) overlaps extract → link; nodes overlap edges; node QA
    and the discarded count overlap edge QA.  Worker threads inherit the
    caller's local properties (job group, description) and session tags
    when the branch is submitted.  If any branch raises, the call raises
    once every running branch has finished; a failed stage writes no
    manifest, so a rerun rebuilds it and resumes the rest.
    """
    # snapshot covers ALL inputs: a change in any of them invalidates resume
    snap = "xxh64:" + "-".join(
        c.removeprefix("xxh64:")
        for c in input_snapshot_checksums([transcripts, catalog, alias_pairs])
    )
    manifests: dict[str, dict] = {}

    # stage-4 tables cluster on their join keys (SURVEY.md §4)
    cluster_keys = {"nodes": ["canonical_id"], "edges": ["src"]}

    def _stage(name: str, build) -> DataFrame:
        if resume and stage_is_complete(out_dir, name, snap):
            manifests[name] = {**read_manifest(out_dir, name), "resumed": True}
            return read_stage(spark, out_dir, name)
        df = build()
        manifests[name] = write_stage(
            df, out_dir, name, snap, cluster_by=cluster_keys.get(name)
        )
        return read_stage(spark, out_dir, name)

    # the stage graph has at most three independent branches: the
    # caller's thread plus two workers
    with ThreadPoolExecutor(max_workers=2) as pool:

        def _background(fn, *args) -> Future:
            return pool.submit(inheritable_thread_target(spark)(fn), *args)

        mapping_f = _background(
            _stage, "mapping", lambda: connected_components(alias_pairs)
        )
        raw = _stage("raw_triples", lambda: extract_triples(transcripts))
        linked = _stage("linked_triples", lambda: link_triples(raw, catalog))
        release_surface_map(raw, catalog)
        mapping = mapping_f.result()
        canonical = _stage(
            "canonical_triples", lambda: apply_canonical_map(linked, mapping)
        )
        nodes_f = _background(
            _stage,
            "nodes",
            lambda: build_nodes(
                canonical,
                catalog,
                mapping,
                snap,
                top_level_ids=top_level_component_ids(mapping),
                db_info={
                    "name": "kg-pipeline",
                    "checksum": snap,
                    "engine": f"spark-{spark.version}",
                },
            ),
        )
        edges = _stage(
            "edges",
            lambda: build_edges(canonical).unionByName(provenance_edges(spark)),
        )
        nodes = nodes_f.result()
        node_qa_f = _background(_node_qa, nodes)
        # D5 analog (ReactomeBatchImporter.java:81,615,624): count the
        # losers of the representative-per-component top-1 reduction in
        # the summary
        discarded_f = _background(count_discarded_catalog_entities, catalog, mapping)
        edge_qa = _edge_qa(edges)
        qa = {**node_qa_f.result(), **edge_qa}
        discarded = discarded_f.result()
    return {
        "input_snapshot": snap,
        "manifests": {name: manifests[name] for name in STAGES},
        "qa": qa,
        "discarded_catalog_entities": discarded,
        "nodes": nodes,
        "edges": edges,
        "canonical_triples": canonical,
    }


__all__ = [
    "run_pipeline_materialized",
    "run_qa",
    "STAGES",
]
