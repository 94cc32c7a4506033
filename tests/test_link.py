"""Stage-2 linking unit tests (SURVEY.md §5: blocking-key normalization;
broadcast-gated join equivalence to the shuffle join)."""

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


def test_link_triples_gate_over_threshold(spark, catalog_df, transcripts_df):
    """Size gate on the surface map: broadcast_threshold=1 forces the
    shuffle-join path; output identical to the broadcast
    default, and the forced plan contains no kg-issued broadcast of the
    map (mirror of test_canonicalize's apply_canonical_map gate test)."""
    from kg.extract import extract_triples
    from kg.link import link_triples

    raw = extract_triples(transcripts_df).persist()
    raw.count()
    cols = ["conv_id", "turn_idx", "span_start", "subj_id", "pred", "obj_id"]
    bcast = link_triples(raw, catalog_df)
    forced = link_triples(raw, catalog_df, broadcast_threshold=1)
    assert sorted(map(tuple, bcast.select(*cols).collect())) == sorted(
        map(tuple, forced.select(*cols).collect())
    )
    # the gate must strip the broadcast hint from the logical plan
    logical = forced._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical
    raw.unpersist()


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
