"""Stage 3 — alias canonicalization via connected components (SURVEY.md §4).

Reference analog: the symmetric-edge canonicalization of
ReactomeBatchImporter.java:661-674 (equivalentTo / reverseReaction pairs
deduped in either direction) generalized to full alias-component merging,
as the north_star mandates: "canonicalization using connected-components
(iterative large-star/small-star over edge DataFrames) to merge aliases".

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi, Mirrokni,
Rastogi, Vassilvitskii — "Connected Components in MapReduce and Beyond",
SoCC'14).  Converges in O(log n) rounds on any graph, each round two
shuffles (groupBy src), and the large-star step benefits from partial
aggregation on skewed high-degree nodes.  Node ids are strings; the
component representative is the lexicographic min, so ``canonical_id =
min(component)`` is deterministic across runs and partitionings.

Driver-side loop, NOT a Catalyst extension (SURVEY.md §4: "custom loop");
``localCheckpoint()`` per iteration truncates lineage so the plan does not
grow exponentially (SURVEY.md §7 risk 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kg.schema import MAPPING_SCHEMA
from kg.session import local_table


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Small-graph fast path: one collect + path-halving union-find.
    Root is kept at the lexicographic min, matching the distributed
    algorithm's canonical_id exactly."""
    spark = edges.sparkSession
    pairs = edges.select("src", "dst").collect()
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r["src"]), find(r["dst"])
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    rows = [(n, find(n)) for n in parent]
    return local_table(spark, rows, MAPPING_SCHEMA)


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Undirect + drop self-loops + dedup."""
    e = edges.select("src", "dst")
    return (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _src_min(edges: DataFrame) -> DataFrame:
    """(src, m = least(src, min(dst))) via groupBy + join-back (r6,
    VERDICT r5 item 1 / SURVEY §7 risk 3): the r5 form computed the
    per-src min with Window.partitionBy("src"), which funnels a node's
    ENTIRE neighborhood through one sorted window task — a hub alias
    with 10^8 neighbors is a single-task sort per CC iteration, and AQE
    can never split a window partition.  groupBy gets map-side partial
    aggregation (each task contributes one candidate min per src), and
    the join-back is an equi-join AQE CAN skew-split.  Same rows, same
    values: every row of a src group receives the identical m either
    way (asserted against the window form in tests)."""
    mins = edges.groupBy("src").agg(F.min("dst").alias("_mn"))
    return edges.join(mins, "src").withColumn(
        "m", F.least(F.col("src"), F.col("_mn"))
    ).drop("_mn")


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u."""
    return (
        _src_min(edges)
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient to v ≤ u, then for each u: m = min(N≤ ∪ {u}); emit (v, m)
    for v ∈ N≤ ∪ {u}, v ≠ m."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    with_m = _src_min(oriented)
    out_nb = with_m.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    out_self = with_m.select(F.col("src").alias("src"), F.col("m").alias("dst")).distinct()
    return (
        out_nb.unionByName(out_self)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _edge_fingerprint(edges: DataFrame) -> tuple[int, int]:
    """(count, order-insensitive content hash) — convergence check."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # sum as decimal(38,0): overflow-free under ANSI mode at any scale
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).cast("string").alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame, max_iter: int = 25, small_graph_threshold: int = 100_000
) -> DataFrame:
    """edges(src, dst) → mapping(node, canonical_id = min of component).

    Every node that appears in ``edges`` gets a row; isolated nodes (not in
    any edge) are implicitly their own canonical_id (handled by the
    coalesce in apply_canonical_map).

    Two physical strategies behind one semantic:
    - alias graphs under small_graph_threshold edges run union-find on
      the driver (one collect) — the distributed fixpoint costs ~1s of
      shuffle/launch latency PER ITERATION, pure overhead on small dims;
    - larger graphs run the large-star/small-star fixpoint, O(log n)
      rounds, checkpointed per iteration.
    Both produce canonical_id = lexicographic min of the component, so
    results are identical (asserted in tests/test_canonicalize.py).
    """
    from kg.probes import rows_at_most

    if rows_at_most(edges, small_graph_threshold):
        return _driver_union_find(edges)
    all_nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = _symmetrize(edges).localCheckpoint()
    prev_fp = _edge_fingerprint(e)
    converged = False
    for _ in range(max_iter):
        # large-star needs FULL neighborhoods ⇒ re-symmetrize the oriented
        # small-star output before each round (paper's undirected edge list).
        e = _small_star(_large_star(_symmetrize(e))).localCheckpoint()
        fp = _edge_fingerprint(e)
        if fp == prev_fp:
            converged = True
            break
        prev_fp = fp
    if not converged and prev_fp[0] > 0:
        raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")
    # converged edge set is a forest of stars (node → representative)
    reps = e.groupBy("src").agg(F.min("dst").alias("rep"))
    mapping = (
        all_nodes.join(reps, all_nodes["node"] == reps["src"], "left")
        .select(
            "node",
            F.least(F.coalesce("rep", "node"), F.col("node")).alias("canonical_id"),
        )
    )
    return mapping


def update_connected_components(
    prev_mapping: DataFrame | None,
    delta_edges: DataFrame,
    max_iter: int = 25,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """Incremental CC: compose an existing (node, canonical_id) mapping
    with a DELTA edge set, running the fixpoint ONLY on the contracted
    delta graph (VERDICT r3 item 5 — the full-recompute path paid
    O(|all aliases ever|) per micro-batch).

    Algebra: map each delta endpoint through the previous mapping
    (absent ⇒ itself), drop edges that contract to self-loops (both
    endpoints already in one component), and run connected_components on
    what remains — a graph whose node set is bounded by 2·|delta|, not
    the alias history.  Because every previous representative is the MIN
    of its component, the contracted fixpoint's min-representative is
    the true global min, so composing (old rep → new rep, plus
    newly-seen nodes) reproduces EXACTLY the mapping a full recompute
    would build (asserted in tests/test_canonicalize.py).

    The returned mapping is normalized to non-identity rows (node ≠
    canonical_id) — apply_canonical_map's coalesce supplies identity —
    which keeps the state table at one row per MERGED node rather than
    per node ever seen.  The contracted-component mapping is delta-sized,
    so Spark's size rule usually broadcasts it; the composition join
    against the big previous mapping is then map-side, no shuffle of the
    state.

    Callers iterating this per micro-batch should localCheckpoint() the
    result each round to truncate the growing composition lineage.
    """
    if prev_mapping is None:
        full = connected_components(delta_edges, max_iter, small_graph_threshold)
        return full.where(F.col("node") != F.col("canonical_id"))
    m = prev_mapping.where(F.col("node") != F.col("canonical_id"))
    ms = m.select(F.col("node").alias("src"), F.col("canonical_id").alias("_sc"))
    md = m.select(F.col("node").alias("dst"), F.col("canonical_id").alias("_dc"))
    contracted = (
        delta_edges.select("src", "dst")
        .join(ms, "src", "left")
        .join(md, "dst", "left")
        .select(
            F.coalesce("_sc", F.col("src")).alias("src"),
            F.coalesce("_dc", F.col("dst")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    c = connected_components(contracted, max_iter, small_graph_threshold).where(
        F.col("node") != F.col("canonical_id")
    )
    c = c.select(
        F.col("node").alias("rep"), F.col("canonical_id").alias("new_rep")
    )
    updated = (
        m.join(c, m["canonical_id"] == c["rep"], "left")
        .select(
            "node", F.coalesce("new_rep", "canonical_id").alias("canonical_id")
        )
    )
    # nodes first merged by this delta: contracted-graph nodes without a
    # previous non-identity entry (old reps land here too when their
    # component gains a smaller min)
    new_nodes = (
        contracted.select(F.col("src").alias("node"))
        .unionByName(contracted.select(F.col("dst").alias("node")))
        .distinct()
        .join(m.select("node"), "node", "left_anti")
    )
    added = (
        new_nodes.join(c, new_nodes["node"] == c["rep"], "left")
        .select("node", F.coalesce("new_rep", F.col("node")).alias("canonical_id"))
    )
    return (
        updated.unionByName(added)
        .where(F.col("node") != F.col("canonical_id"))
    )


def apply_canonical_map(linked_triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj_id/obj_id to canonical ids; absent ids map to themselves.

    The mapping has one row per node of the ALIAS graph — usually a dim,
    but at 10^9 alias nodes it outgrows broadcast.  Spark picks the join:
    a mapping under spark.sql.autoBroadcastJoinThreshold is broadcast, a
    larger one is a shuffle join, where AQE skew splitting (enabled in
    kg/session.py) handles Zipfian-hot canonical ids on the probe side."""
    return (
        linked_triples.join(
            mapping.select(F.col("node").alias("subj_id"), F.col("canonical_id").alias("subj_c")),
            "subj_id",
            "left",
        )
        .join(
            mapping.select(F.col("node").alias("obj_id"), F.col("canonical_id").alias("obj_c")),
            "obj_id",
            "left",
        )
        .select(
            "conv_id",
            "turn_idx",
            "span_start",
            F.coalesce("subj_c", "subj_id").alias("subj_id"),
            "pred",
            F.coalesce("obj_c", "obj_id").alias("obj_id"),
        )
    )


__all__ = [
    "connected_components",
    "update_connected_components",
    "apply_canonical_map",
]
