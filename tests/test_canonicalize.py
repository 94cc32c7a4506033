"""Stage-3 CC unit tests (SURVEY.md §5: CC on known graphs — chain, star,
two components, symmetric duplicate, self-loop).

Every fixture runs through BOTH physical strategies — the driver
union-find fast path (small_graph_threshold default) and the distributed
large-star/small-star fixpoint (threshold=0) — and must agree.
"""

from __future__ import annotations

import pytest

from kg.canonicalize import connected_components
from kg.oracle import oracle_components

STRATEGIES = {"driver": 100_000, "distributed": 0}


def _cc(spark, pairs, threshold):
    df = spark.createDataFrame([(a, b, "sameAs") for a, b in pairs],
                               "src string, dst string, kind string")
    return {
        r["node"]: r["canonical_id"]
        for r in connected_components(df, small_graph_threshold=threshold).collect()
    }


@pytest.fixture(params=sorted(STRATEGIES), scope="module")
def threshold(request):
    return STRATEGIES[request.param]


def test_chain(spark, threshold):
    m = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d")], threshold)
    assert m == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_star(spark, threshold):
    m = _cc(spark, [("k", "a"), ("k", "b"), ("k", "c")], threshold)
    assert m == {"k": "a", "a": "a", "b": "a", "c": "a"}


def test_two_components(spark, threshold):
    m = _cc(spark, [("a", "b"), ("x", "y")], threshold)
    assert m == {"a": "a", "b": "a", "x": "x", "y": "x"}


def test_symmetric_duplicate_pair(spark, threshold):
    m = _cc(spark, [("a", "b"), ("b", "a")], threshold)
    assert m == {"a": "a", "b": "a"}


def test_self_loop_only(spark, threshold):
    m = _cc(spark, [("z", "z")], threshold)
    assert m == {"z": "z"}


def test_long_path_converges_logarithmically(spark):
    # path of 40 nodes: min-label propagation would need ~40 rounds;
    # large-star/small-star must do it within the 25-iteration cap.
    nodes = [f"n{i:03d}" for i in range(40)]
    m = _cc(spark, list(zip(nodes, nodes[1:])), threshold=0)
    assert set(m.values()) == {"n000"}


def test_matches_oracle_on_synthetic(spark, alias_pairs_df, alias_pairs_pdf):
    expected = oracle_components(alias_pairs_pdf)
    for threshold in STRATEGIES.values():
        got = {
            r["node"]: r["canonical_id"]
            for r in connected_components(
                alias_pairs_df, small_graph_threshold=threshold
            ).collect()
        }
        assert got == expected


def test_apply_canonical_map_shuffle_path_equals_broadcast(spark, no_auto_broadcast):
    """With Spark's broadcast size rules off, the mapping joins run as
    shuffle joins; the rows equal the default plan's.  Neither plan
    carries a hint: the join strategy is Spark's choice, not kg's."""
    from kg.canonicalize import apply_canonical_map

    linked = spark.createDataFrame(
        [("c1", 0, 0, "a", "p", "b"), ("c1", 1, 0, "b", "p", "zz"),
         ("c2", 0, 3, "q", "p", "a")],
        "conv_id string, turn_idx int, span_start int, subj_id string, pred string, obj_id string",
    )
    mapping = spark.createDataFrame(
        [("a", "A"), ("b", "A"), ("q", "Q")], "node string, canonical_id string"
    )
    default = apply_canonical_map(linked, mapping)
    expected = sorted(map(tuple, default.collect()))
    with no_auto_broadcast():
        forced = apply_canonical_map(linked, mapping)
        got = sorted(map(tuple, forced.collect()))
        plan = forced._jdf.queryExecution().executedPlan().toString()
    assert got == expected
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan
    for df in (default, forced):
        assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()


def test_update_connected_components_matches_full_recompute(spark):
    """Incremental composition over three deltas — including a LATER
    delta that hands an existing component a smaller minimum (forcing a
    representative remap) and a chain merge across two old components —
    must equal a from-scratch CC over the union (VERDICT r3 item 5)."""
    from kg.canonicalize import connected_components, update_connected_components

    deltas = [
        [("b", "c"), ("x", "y")],            # {b,c} rep b; {x,y} rep x
        [("d", "e"), ("c", "d")],            # chain-merge → {b,c,d,e} rep b
        [("a", "b"), ("y", "z")],            # smaller min 'a' remaps rep b→a
    ]
    m = None
    seen = []
    for d in deltas:
        df = spark.createDataFrame(d, "src string, dst string")
        m = update_connected_components(m, df).localCheckpoint()
        seen += d
        full = connected_components(
            spark.createDataFrame(seen, "src string, dst string")
        ).where("node <> canonical_id")
        assert sorted(map(tuple, m.collect())) == sorted(
            map(tuple, full.collect())
        )
    got = dict(m.collect())
    assert got == {"b": "a", "c": "a", "d": "a", "e": "a", "y": "x", "z": "x"}


def test_update_connected_components_empty_and_noop_deltas(spark):
    from kg.canonicalize import update_connected_components

    df = lambda rows: spark.createDataFrame(rows, "src string, dst string")  # noqa: E731
    m = update_connected_components(None, df([("m", "n")]))
    # delta fully inside one existing component contracts to nothing
    m2 = update_connected_components(m, df([("m", "n"), ("n", "m")]))
    assert sorted(map(tuple, m2.collect())) == [("n", "m")]


def test_rows_at_most_probe_paths(spark, tmp_path, last_job_id):
    """r6: the bounded row-count probe must answer identically through
    its three paths — parquet footers (plain scan), local relation, and
    the limit+count fallback (filtered plan)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kg.probes import rows_at_most
    from kg.session import local_table

    p = str(tmp_path / "probe.parquet")
    spark.range(1000).withColumn("x", F.col("id") % 7).write.parquet(p)
    scan = spark.read.parquet(p)
    assert rows_at_most(scan, 1000) is True
    assert rows_at_most(scan, 999) is False
    # filtered plan: footer count (1000) would overshoot — must fall back
    filtered = scan.where(F.col("x") == 0)
    n = filtered.count()
    assert rows_at_most(filtered, n) is True
    assert rows_at_most(filtered, n - 1) is False
    # local relation (driver-built): answered from the plan, no job
    local = local_table(
        spark, [(i,) for i in range(10)], T.StructType([T.StructField("id", T.LongType())])
    )
    before = last_job_id()
    assert rows_at_most(local, 10) is True
    assert rows_at_most(local, 9) is False
    assert last_job_id() == before


@pytest.mark.parametrize("pairs", [[("b", "a"), ("c", "b"), ("x", "y")], []])
def test_driver_union_find_is_local_relation(spark, pairs):
    """The driver union-find hands its mapping to the JVM as a
    LocalRelation (no Python-worker scan), also when the alias graph is
    empty."""
    from kg.canonicalize import _driver_union_find

    edges = spark.createDataFrame(pairs, "src string, dst string")
    mapping = _driver_union_find(edges)
    plan = mapping._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert sorted(tuple(r) for r in mapping.collect()) == sorted(
        (n, "a" if n in "abc" else "x") for n in {x for p in pairs for x in p}
    )


def test_src_min_equals_window_form_and_no_window_in_plan(spark):
    """r6 (VERDICT r5 item 2): the star steps' per-src min must be the
    groupBy+join form — identical rows to the window form, and NO Window
    operator in the plan (a window partition funnels a hub node's whole
    neighborhood through one unsplittable task)."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kg.canonicalize import _large_star, _small_star, _src_min

    rng = random.Random(11)
    rows = [(f"n{rng.randrange(40)}", f"n{rng.randrange(40)}")
            for _ in range(300)]
    # one hub with many neighbors
    rows += [("hub", f"x{i}") for i in range(200)]
    e = spark.createDataFrame(rows, "src string, dst string").where("src != dst")
    w = Window.partitionBy("src")
    win_form = e.withColumn(
        "m", F.least(F.col("src"), F.min("dst").over(w))
    ).select("src", "dst", "m")
    agg_form = _src_min(e).select("src", "dst", "m")
    assert sorted(map(tuple, agg_form.collect())) == sorted(
        map(tuple, win_form.collect())
    )
    for df in (_large_star(e), _small_star(e)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "HashAggregate" in plan or "SortAggregate" in plan
