"""Golden end-to-end: Spark pipeline vs pure-Python oracle (SURVEY.md §5).

The P/R ≥ 0.95 contract from BASELINE.json — in practice the two
implementations must agree exactly (P = R = 1.0) on the seeded fixtures,
including stoichiometry and order, and the QA constraints must hold.
"""

from __future__ import annotations

import pytest

from kg.lineage import read_stage
from kg.oracle import (
    oracle_edges,
    oracle_extract,
    oracle_link_index,
    oracle_resolve,
    oracle_triples,
    precision_recall,
)
from kg.pipeline import run_pipeline_materialized, run_qa


@pytest.fixture(scope="module")
def res(spark, transcripts_df, catalog_df, alias_pairs_df, tmp_path_factory):
    """One materialized build, read by every test that only inspects it."""
    out = str(tmp_path_factory.mktemp("golden"))
    return run_pipeline_materialized(
        spark, transcripts_df, catalog_df, alias_pairs_df, out
    )


def test_golden_triples_pr(res, transcripts_pdf, catalog_pdf, alias_pairs_pdf):
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


def test_qa_constraints_hold(res):
    qa = run_qa(res["nodes"], res["edges"])
    assert all(v == 0 for v in qa.values()), qa


def test_nodes_cover_edge_endpoints(res):
    nodes = {r["canonical_id"] for r in res["nodes"].select("canonical_id").collect()}
    edges = res["edges"].select("src", "dst").collect()
    endpoints = {r["src"] for r in edges} | {r["dst"] for r in edges}
    assert endpoints <= nodes


def test_provenance_nodes_and_edges(res):
    """TrackingObjects analog: every run writes the importer into the
    graph — Person + InstanceEdit nodes wired by author/created edges to
    the DBInfo node, all first-class rows in kg.nodes/kg.edges."""
    from kg.materialize import DB_INFO_ID, INSTANCE_EDIT_ID, PERSON_ID

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


def test_materialized_build_releases_its_cache(
    spark, transcripts_df, catalog_df, alias_pairs_df, transcripts_pdf, catalog_pdf,
    tmp_path,
):
    """A build caches nothing past its own end: as many RDDs are
    persisted after it as before, and the linked stage, written while the
    surface map was cached, equals the oracle's linking of the oracle's
    extraction."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    out = str(tmp_path / "out")
    run_pipeline_materialized(spark, transcripts_df, catalog_df, alias_pairs_df, out)
    assert persistent().size() == before

    idx = oracle_link_index(catalog_pdf)
    want = sorted(
        (c, t, sp, oracle_resolve(s, idx), p, oracle_resolve(o, idx))
        for c, t, sp, s, p, o in oracle_extract(transcripts_pdf)
    )
    cols = ["conv_id", "turn_idx", "span_start", "subj_id", "pred", "obj_id"]
    got = sorted(map(tuple, read_stage(spark, out, "linked_triples").select(cols).collect()))
    assert got == want


def test_materialized_pipeline_without_broadcast_equals_default(
    spark, transcripts_df, catalog_df, alias_pairs_df, no_auto_broadcast, tmp_path
):
    """Every KG join's strategy is Spark's choice, so a build with
    Spark's broadcast size rules off (every join a shuffle join) writes
    the same nodes and edges as a default build."""

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
