"""Stage-4 unit tests (SURVEY.md §5: order/stoichiometry vs hand-computed;
symmetric-edge canonicalization; QA constraints)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kg.materialize import build_edges, qa_consistency

TRIPLE_SCHEMA = (
    "conv_id string, turn_idx int, span_start int, "
    "subj_id string, pred string, obj_id string"
)


def _edges(spark, rows):
    df = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    return build_edges(df)


def test_stoichiometry_and_order_hand_computed(spark):
    # A mentions B twice then C once: stoichiometry 2/1, order 1/2
    # (ReactomeBatchImporter.java:630-655 semantics).
    rows = [
        ("c1", 0, 0, "A", "followed_by", "B"),
        ("c1", 1, 0, "A", "followed_by", "B"),
        ("c1", 2, 0, "A", "followed_by", "C"),
    ]
    got = {(r["src"], r["dst"]): (r["stoichiometry"], r["order"])
           for r in _edges(spark, rows).collect()}
    assert got == {("A", "B"): (2, 1), ("A", "C"): (1, 2)}


def test_order_is_first_appearance_not_count(spark):
    # C appears first (turn 0) but only once; B appears twice starting turn 1
    # → order: C=1, B=2 despite B's higher stoichiometry.
    rows = [
        ("c1", 0, 0, "A", "followed_by", "C"),
        ("c1", 1, 0, "A", "followed_by", "B"),
        ("c1", 2, 0, "A", "followed_by", "B"),
    ]
    got = {r["dst"]: r["order"] for r in _edges(spark, rows).collect()}
    assert got == {"C": 1, "B": 2}


def test_order_ties_break_on_dst_string(spark):
    """Edges of one (src, rel_type) with the same first occurrence are
    ordered by the dst string."""
    rows = [
        # same (conv, turn, span) first_occ for all three dsts ⇒ order is
        # decided purely by dst string sort: Alpha < beta < gamma
        ("c1", 0, 0, "A", "followed_by", "gamma"),
        ("c1", 0, 0, "A", "followed_by", "Alpha"),
        ("c1", 0, 0, "A", "followed_by", "beta"),
    ]
    got = {r["dst"]: r["order"] for r in _edges(spark, rows).collect()}
    assert got == {"Alpha": 1, "beta": 2, "gamma": 3}


def test_symmetric_dedup_least_greatest(spark):
    # co_occurs_with is undirected: (B,A) and (A,B) collapse to one edge
    # under (least, greatest) — ReactomeBatchImporter.java:661-674.
    rows = [
        ("c1", 0, 0, "B", "co_occurs_with", "A"),
        ("c1", 1, 0, "A", "co_occurs_with", "B"),
    ]
    out = _edges(spark, rows).collect()
    assert len(out) == 1
    assert (out[0]["src"], out[0]["dst"], out[0]["stoichiometry"]) == ("A", "B", 2)


def test_direction_flip_produced_by(spark):
    # produced_by is stored reversed as produces (tool → mention) —
    # ReactomeBatchImporter.java:675-686 analog.
    rows = [("c1", 0, 0, "M", "produced_by", "tool:search")]
    out = _edges(spark, rows).collect()
    assert len(out) == 1
    assert (out[0]["src"], out[0]["rel_type"], out[0]["dst"]) == (
        "tool:search", "produces", "M",
    )


def test_self_loops_dropped(spark):
    rows = [("c1", 0, 0, "A", "co_occurs_with", "A")]
    assert _edges(spark, rows).count() == 0


def test_qa_consistency_flags_mandatory_nulls(spark):
    df = spark.createDataFrame(
        [("a", "x"), (None, "y"), ("", "z")], "src string, dst string"
    ).withColumn("rel_type", F.lit("t")) \
     .withColumn("stoichiometry", F.lit(1)) \
     .withColumn("order", F.lit(1))
    rep = {r["Attribute"]: r["violations"] for r in qa_consistency(df, "edges").collect()}
    assert rep["src"] == 2  # one null + one empty
    assert "dst" not in rep


def test_build_nodes_shuffle_path_equals_broadcast(spark, catalog_df, no_auto_broadcast):
    """With Spark's broadcast size rules off, every node join (catalog,
    mapping, labels, top-level flags) runs as a shuffle join; the node
    rows equal the default plan's, and no plan carries a hint."""
    from kg.materialize import build_nodes, top_level_component_ids

    canonical = spark.createDataFrame(
        [("c1", 0, 0, "cat:Q00000", "p", "new:thing"),
         ("c1", 1, 2, "new:thing", "p", "tool:search")],
        "conv_id string, turn_idx int, span_start int, subj_id string, pred string, obj_id string",
    )
    mapping = spark.createDataFrame(
        [("cat:Q00001", "cat:Q00000")], "node string, canonical_id string"
    )

    def nodes():
        return build_nodes(
            canonical, catalog_df, mapping,
            top_level_ids=top_level_component_ids(mapping),
        ).drop("properties")

    default = nodes()
    expected = sorted(map(tuple, default.collect()))
    with no_auto_broadcast():
        forced = nodes()
        got = sorted(map(tuple, forced.collect()))
        plan = forced._jdf.queryExecution().executedPlan().toString()
    assert got == expected
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan
    for df in (default, forced):
        assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()


def test_top_level_relabel_appends_label_and_overrides_class(spark, catalog_df):
    """P9 (ReactomeBatchImporter.java:369-374): members of the top-level
    set get the extra label appended to their ORIGINAL ancestry and the
    schema class overridden."""
    from kg.materialize import TOP_LEVEL_LABEL, build_nodes

    canonical = spark.createDataFrame(
        [("c1", 0, 0, "cat:Q00000", "p", "cat:Q00004")],
        "conv_id string, turn_idx int, span_start int, subj_id string, pred string, obj_id string",
    )
    mapping = spark.createDataFrame([], "node string, canonical_id string")
    tlp = spark.createDataFrame([("cat:Q00000",)], "canonical_id string")
    rows = {
        r["canonical_id"]: r
        for r in build_nodes(
            canonical, catalog_df, mapping, top_level_ids=tlp
        ).collect()
    }
    assert rows["cat:Q00000"]["schema_class"] == TOP_LEVEL_LABEL
    assert rows["cat:Q00000"]["labels"][-1] == TOP_LEVEL_LABEL
    # original ancestry retained ahead of the appended label
    assert rows["cat:Q00000"]["labels"][0] != TOP_LEVEL_LABEL
    assert rows["cat:Q00004"]["schema_class"] != TOP_LEVEL_LABEL


def test_db_info_node_unioned(spark, catalog_df):
    """P10 (ReactomeBatchImporter.java:195-216,383-388): one DBInfo node
    with name/checksum/engine properties rides kg.nodes."""
    from kg.materialize import DB_INFO_ID, build_nodes

    canonical = spark.createDataFrame(
        [("c1", 0, 0, "cat:Q00000", "p", "cat:Q00004")],
        "conv_id string, turn_idx int, span_start int, subj_id string, pred string, obj_id string",
    )
    mapping = spark.createDataFrame([], "node string, canonical_id string")
    nodes = build_nodes(
        canonical, catalog_df, mapping, input_snapshot="xxh64:abc",
        db_info={"name": "kg-pipeline", "checksum": "xxh64:abc", "engine": "spark-test"},
    )
    info = [r for r in nodes.collect() if r["canonical_id"] == DB_INFO_ID]
    assert len(info) == 1
    assert info[0]["labels"][0] == "DBInfo"
    assert info[0]["schema_class"] == "DBInfo"
    assert info[0]["properties"]["checksum"] == "xxh64:abc"
    assert info[0]["properties"]["engine"] == "spark-test"


def test_qa_consistency_exemption_allowlist(spark):
    """V4 (ReactomeBatchImporter.java:1131-1132): exempted ids do not count
    as violations for the exempted attribute only."""
    from kg.materialize import qa_consistency

    df = spark.createDataFrame(
        [(1, "root", None, "c", "x"), (2, "n2", None, "c", "x")],
        "node_id long, canonical_id string, display_name string, schema_class string, labels string",
    )
    base = {r["Attribute"]: r["violations"] for r in qa_consistency(df, "nodes").collect()}
    assert base == {}  # display_name is REQUIRED: null is allowed
    df2 = spark.createDataFrame(
        [(1, None, "d", "c", "x"), (2, "n2", "d", "c", "x")],
        "node_id long, canonical_id string, display_name string, schema_class string, labels string",
    )
    strict = {r["Attribute"]: r["violations"] for r in qa_consistency(df2, "nodes").collect()}
    assert strict["canonical_id"] == 1
    exempted = qa_consistency(
        df2, "nodes", exemptions={"canonical_id": [1]}, id_col="node_id"
    ).collect()
    assert all(r["Attribute"] != "canonical_id" for r in exempted)


def test_discarded_catalog_entities_counts_top1_losers(spark, catalog_df):
    """D5 (ReactomeBatchImporter.java:81,615,624): non-representative rows
    of merged components are tracked, the winner is not."""
    from kg.materialize import discarded_catalog_entities

    mapping = spark.createDataFrame(
        [("cat:Q00000", "cat:Q00000"), ("cat:Q00001", "cat:Q00000"),
         ("cat:Q00002", "cat:Q00000")],
        "node string, canonical_id string",
    )
    d = discarded_catalog_entities(catalog_df, mapping).collect()
    ids = {r["entity_id"] for r in d}
    assert ids == {"cat:Q00001", "cat:Q00002"}


def test_node_rep_and_discarded_have_no_window(spark):
    """r6 (VERDICT r5 #2 fix class): the representative-per-component
    selection in build_nodes and the loser set in
    discarded_catalog_entities must plan as aggregations (map-side
    partial agg over a giant alias component), not row_number windows
    (one unsplittable task per component)."""
    from pyspark.sql import functions as F

    from kg.materialize import build_nodes, discarded_catalog_entities

    cat = spark.createDataFrame(
        [("E1", "Alpha", "concept", ["Alpha"]), ("E2", "Beta", "concept", ["Beta"])],
        "entity_id string, canonical_name string, entity_type string, aliases array<string>",
    )
    mapping = spark.createDataFrame(
        [("E2", "E1")], "node string, canonical_id string"
    )
    triples = spark.createDataFrame(
        [("c1", 0, 0, "E1", "uses", "E2")],
        "conv_id string, turn_idx int, span_start int, "
        "subj_id string, pred string, obj_id string",
    )
    nodes = build_nodes(triples, cat, mapping, None)
    disc = discarded_catalog_entities(cat, mapping)
    for df in (nodes, disc):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Window" not in plan, plan
    # semantics unchanged: E1 wins the merged component, E2 is discarded
    assert [tuple(r) for r in disc.collect()] == [("E2", "E1")]


_QA_NODES = [  # node_id, canonical_id, labels, display_name, schema_class
    (1, "E1", ["Entity"], "One", "concept"),
    (2, "E2", ["Entity"], "Two", "concept"),
]
_QA_EDGES = [  # src, dst, rel_type, stoichiometry, order
    ("E1", "E2", "uses", 1, 1),
    ("E2", "E1", "uses", 1, 1),
]


@pytest.mark.parametrize(
    "extra_nodes, extra_edges, violated",
    [
        pytest.param([(1, "E3", ["Entity"], "Three", "concept")], [],
                     {"dup_node_ids"}, id="duplicate-node-id"),
        pytest.param([(3, "E1", ["Entity"], "One again", "concept")], [],
                     {"dup_canonical_ids"}, id="duplicate-canonical-id"),
        # a NULL key value is itself a MANDATORY violation, so the table's
        # consistency key is non-zero too
        pytest.param([(None, "E3", ["Entity"], "Three", "concept"),
                      (None, "E4", ["Entity"], "Four", "concept")], [],
                     {"dup_node_ids", "node_consistency"}, id="null-key-duplicate"),
        pytest.param([], [("E1", "E2", "uses", 3, 2)],
                     {"dup_edges"}, id="duplicate-edge"),
        # one NULL key is not a duplicate: only the nullability check fires
        pytest.param([(None, "E3", ["Entity"], "Three", "concept")], [],
                     {"node_consistency"}, id="null-mandatory-node-column"),
        pytest.param([], [("E1", "E2", "", 1, 1)],
                     {"edge_consistency"}, id="empty-required-edge-string"),
    ],
)
def test_run_qa_flags_exactly_its_violation(spark, extra_nodes, extra_edges, violated):
    """Each QA key turns non-zero on its own violation and on no other
    key's; the clean tables score all zeros."""
    from kg.pipeline import run_qa

    nodes = spark.createDataFrame(
        _QA_NODES + extra_nodes,
        "node_id long, canonical_id string, labels array<string>, "
        "display_name string, schema_class string",
    )
    edges = spark.createDataFrame(
        _QA_EDGES + extra_edges,
        "src string, dst string, rel_type string, stoichiometry int, order int",
    )
    qa = run_qa(nodes, edges)
    assert set(qa) == {"dup_node_ids", "dup_canonical_ids", "dup_edges",
                       "node_consistency", "edge_consistency"}
    assert {k for k, v in qa.items() if v != 0} == violated, qa


def test_count_discarded_equals_discarded_rows(spark, catalog_df):
    """The one-aggregate discarded count equals the size of the loser
    set, with merged, unmerged and non-catalog nodes in the mapping."""
    from kg.materialize import (count_discarded_catalog_entities,
                                discarded_catalog_entities)

    mapping = spark.createDataFrame(
        [("cat:Q00001", "cat:Q00000"), ("cat:Q00002", "cat:Q00000"),
         ("cat:Q00004", "cat:Q00003"), ("new:x", "cat:Q00003"),
         ("new:y", "new:z")],
        "node string, canonical_id string",
    )
    want = discarded_catalog_entities(catalog_df, mapping).count()
    assert want == 3
    assert count_discarded_catalog_entities(catalog_df, mapping) == want


def test_snapshot_checksums_match_per_table_sums(
    spark, transcripts_df, catalog_df, alias_pairs_df
):
    """The one-action checksums are byte-identical to each table's own
    sum of row hashes, an empty table included (resume compares them as
    strings)."""
    from kg.materialize import input_snapshot_checksum, input_snapshot_checksums

    def reference(df):
        h = df.agg(F.coalesce(F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
                              F.lit(0)).cast("string")).collect()[0][0]
        return f"xxh64:{int(h) & 0xFFFFFFFFFFFFFFFF:016x}"

    tables = [transcripts_df, catalog_df, alias_pairs_df.limit(0)]
    want = [reference(df) for df in tables]
    assert input_snapshot_checksums(tables) == want
    assert input_snapshot_checksum(spark, catalog_df) == want[1]
    assert want[2] == "xxh64:0000000000000000"


def test_provenance_edges_local_relation_same_rows(spark):
    """provenance_edges is a LocalRelation with the rows the Python-row
    construction gives, created_ts included, also when the session time
    zone differs from the process's (Arrow would read a naive RUN_TS in
    the session zone)."""
    from kg.materialize import (
        DB_INFO_ID,
        INSTANCE_EDIT_ID,
        PERSON_ID,
        RUN_TS,
        provenance_edges,
    )
    from kg.schema import EDGES_SCHEMA

    rows = [
        (PERSON_ID, INSTANCE_EDIT_ID, "author", 1, 1, None, RUN_TS, "provenance"),
        (INSTANCE_EDIT_ID, DB_INFO_ID, "created", 1, 1, None, RUN_TS, "provenance"),
    ]
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for zone in (tz, "America/Los_Angeles"):
            spark.conf.set("spark.sql.session.timeZone", zone)
            got = provenance_edges(spark)
            plan = got._jdf.queryExecution().optimizedPlan()
            assert plan.getClass().getSimpleName() == "LocalRelation"
            assert got.columns == EDGES_SCHEMA.names
            assert got.collect() == spark.createDataFrame(rows, EDGES_SCHEMA).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
