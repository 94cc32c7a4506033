"""Golden end-to-end: Spark pipeline vs pure-Python oracle (SURVEY.md §5).

The P/R ≥ 0.95 contract from BASELINE.json — in practice the two
implementations must agree exactly (P = R = 1.0) on the seeded fixtures,
including stoichiometry and order, and the QA constraints must hold.
"""

from __future__ import annotations

from kg.oracle import oracle_edges, oracle_triples, precision_recall
from kg.pipeline import run_pipeline, run_qa


def test_golden_triples_pr(spark, transcripts_df, catalog_df, alias_pairs_df,
                           transcripts_pdf, catalog_pdf, alias_pairs_pdf):
    res = run_pipeline(spark, transcripts_df, catalog_df, alias_pairs_df)
    edges = res["edges"].toPandas()
    got = set(zip(edges["src"], edges["rel_type"], edges["dst"]))
    exp = oracle_triples(transcripts_pdf, catalog_pdf, alias_pairs_pdf)
    p, r = precision_recall(got, exp)
    assert p >= 0.95 and r >= 0.95, f"P={p}, R={r}"
    assert p == 1.0 and r == 1.0  # stronger: rule-exact

    # full-row parity incl. stoichiometry + first-appearance order
    oe = oracle_edges(transcripts_pdf, catalog_pdf, alias_pairs_pdf)
    key = ["src", "dst", "rel_type", "stoichiometry", "order"]
    a = edges[key].sort_values(key).reset_index(drop=True)
    b = oe[key].sort_values(key).reset_index(drop=True).astype(a.dtypes.to_dict())
    assert a.equals(b)


def test_qa_constraints_hold(spark, transcripts_df, catalog_df, alias_pairs_df):
    res = run_pipeline(spark, transcripts_df, catalog_df, alias_pairs_df)
    qa = run_qa(res["nodes"], res["edges"])
    assert all(v == 0 for v in qa.values()), qa


def test_nodes_cover_edge_endpoints(spark, transcripts_df, catalog_df, alias_pairs_df):
    res = run_pipeline(spark, transcripts_df, catalog_df, alias_pairs_df)
    nodes = {r["canonical_id"] for r in res["nodes"].select("canonical_id").collect()}
    edges = res["edges"].select("src", "dst").collect()
    endpoints = {r["src"] for r in edges} | {r["dst"] for r in edges}
    assert endpoints <= nodes


def test_provenance_nodes_and_edges(spark, transcripts_df, catalog_df, alias_pairs_df):
    """TrackingObjects analog: every run writes the importer into the
    graph — Person + InstanceEdit nodes wired by author/created edges to
    the DBInfo node, all first-class rows in kg.nodes/kg.edges."""
    from kg.materialize import DB_INFO_ID, INSTANCE_EDIT_ID, PERSON_ID

    res = run_pipeline(spark, transcripts_df, catalog_df, alias_pairs_df)
    nodes = {
        r["canonical_id"]: (r["schema_class"], tuple(r["labels"]))
        for r in res["nodes"].collect()
    }
    assert nodes[PERSON_ID] == ("person", ("Person", "Agent", "Entity"))
    assert nodes[INSTANCE_EDIT_ID][0] == "InstanceEdit"
    assert DB_INFO_ID in nodes
    prov = {
        (r["src"], r["rel_type"], r["dst"]): (r["stoichiometry"], r["order"], r["conv_id"])
        for r in res["edges"].where("stage = 'provenance'").collect()
    }
    assert prov == {
        (PERSON_ID, "author", INSTANCE_EDIT_ID): (1, 1, None),
        (INSTANCE_EDIT_ID, "created", DB_INFO_ID): (1, 1, None),
    }


def test_release_pipeline_unpersists(spark, transcripts_df, catalog_df, alias_pairs_df):
    from kg.pipeline import release_pipeline, run_pipeline

    res = run_pipeline(spark, transcripts_df, catalog_df, alias_pairs_df)
    res["edges"].count()
    assert res["raw_triples"].storageLevel.useMemory
    release_pipeline(res)
    assert not res["raw_triples"].storageLevel.useMemory
    assert not res["canonical_triples"].storageLevel.useMemory


def test_materialized_pipeline_without_broadcast_equals_default(
    spark, transcripts_df, catalog_df, alias_pairs_df, no_auto_broadcast, tmp_path
):
    """Every KG join's strategy is Spark's choice, so a build with
    Spark's broadcast size rules off (every join a shuffle join) writes
    the same nodes and edges as a default build."""
    from kg.pipeline import run_pipeline_materialized

    def build(out: str) -> tuple[list, list]:
        res = run_pipeline_materialized(
            spark, transcripts_df, catalog_df, alias_pairs_df, str(tmp_path / out)
        )
        assert all(v == 0 for v in res["qa"].values())
        return (
            sorted(map(tuple, res["nodes"].drop("properties").collect())),
            sorted(map(tuple, res["edges"].collect())),
        )

    nodes, edges = build("default")
    with no_auto_broadcast():
        forced_nodes, forced_edges = build("forced")
    assert forced_nodes == nodes
    assert forced_edges == edges
