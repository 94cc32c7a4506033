"""Stage-2 linking unit tests (SURVEY.md §5: blocking-key normalization;
broadcast and shuffle plans of the link joins agree)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg.link import build_link_index, link_surfaces, norm_key


def test_norm_key_matches_python_norm(spark):
    from kg.synth import norm_surface

    samples = ["  Quantum Kernel 0 ", "A\tB   C", "MIXED case", "x"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = [r[0] for r in df.select(norm_key(F.col("s"))).collect()]
    assert got == [norm_surface(s) for s in samples]


def test_ambiguity_resolves_to_min_entity(spark):
    cat = spark.createDataFrame(
        [
            ("cat:Q2", "Foo", ["Shared Name"], "shared name", None, "concept", 1.0),
            ("cat:Q1", "Bar", ["Shared Name"], "shared name", None, "concept", 1.0),
        ],
        "entity_id string, canonical_name string, aliases array<string>, "
        "blocking_key string, prefix string, entity_type string, freq_hint double",
    )
    idx = build_link_index(cat).collect()
    assert len(idx) == 1
    assert idx[0]["entity_id"] == "cat:Q1"


def test_miss_minting_and_tool_ids(spark, catalog_df):
    surf = spark.createDataFrame(
        [("Totally Unknown Thing",), ("tool::search",)], "surface string"
    )
    got = {r["surface"]: (r["entity_id"], r["is_minted"])
           for r in link_surfaces(surf, catalog_df).collect()}
    assert got["Totally Unknown Thing"] == ("new:totally unknown thing", True)
    assert got["tool::search"] == ("tool:search", True)


def test_hit_links_to_catalog(spark, catalog_df, catalog_pdf):
    name = catalog_pdf["canonical_name"].iloc[5]
    surf = spark.createDataFrame([(name.upper(),)], "surface string")
    row = link_surfaces(surf, catalog_df).collect()[0]
    assert row["entity_id"].startswith("cat:Q")
    assert not row["is_minted"]


def test_link_triples_gate_over_threshold(
    spark, catalog_df, transcripts_df, no_auto_broadcast
):
    """Over Spark's broadcast size rules (forced to -1 here) the index
    join and both surface-map rejoins run as shuffle joins; the output
    equals the default plan's, and no plan carries a kg-issued hint.
    link_triples leaves its surface map cached, and any later plan over
    the same input reuses that cache (with the joins it was built by),
    so each run starts from an empty cache."""
    from kg.extract import extract_triples
    from kg.link import link_triples

    cols = ["conv_id", "turn_idx", "span_start", "subj_id", "pred", "obj_id"]

    def run():
        spark.catalog.clearCache()
        raw = extract_triples(transcripts_df).persist()
        raw.count()
        out = link_triples(raw, catalog_df)
        rows = sorted(map(tuple, out.select(*cols).collect()))
        qe = out._jdf.queryExecution()
        plans = qe.executedPlan().toString(), qe.analyzed().toString()
        raw.unpersist()
        return rows, plans

    expected, (_, default_analyzed) = run()
    with no_auto_broadcast():
        got, (plan, forced_analyzed) = run()
    spark.catalog.clearCache()
    assert got == expected
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan
    assert "ResolvedHint" not in default_analyzed + forced_analyzed


def test_link_rejoins_share_one_broadcast(spark):
    """r6: the subj/obj vocabulary rejoins must be canonically identical
    so the second broadcast becomes a ReusedExchange (with AQE on, the
    same canonical equality drives stage-cache reuse).  Evidence taken
    with AQE off where the reuse is visible in the executed plan."""
    from kg.link import link_triples

    raw = spark.createDataFrame(
        [(1, 0, 0, "Foo", "uses", "Bar"), (1, 1, 3, "Bar", "likes", "Baz")],
        "conv_id long, turn_idx int, span_start int, "
        "subj_surface string, pred string, obj_surface string",
    )
    cat = spark.createDataFrame(
        [("E1", ["Foo", "Bar"])], "entity_id string, aliases array<string>"
    )
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = link_triples(raw, cat)
        out.collect()
        s = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "ReusedExchange" in s
