"""Stage 2 — blocking-key entity linking (SURVEY.md §2.3 J2/J3, §3.2).

Reference analog: InteractionImporter.addInteractionData — build side
``referenceEntityMap: "DB:identifier" → Set(dbId)``
(InteractionImporter.java:62,341-385), probe side resolving each
interactor accession to an existing node or creating a new one
(InteractionImporter.java:100-137,196-273).  The reference does this as a
per-row SQLite probe loop; here it is ONE declarative join:

    mentions ⟕ catalog-keyed-by-blocking-key
    hit  ⇒ catalog entity_id        (ambiguity resolved min(entity_id))
    miss ⇒ minted deterministic id  ("new:<key>" / "tool:<name>")

The physical join is Spark's choice: kg carries no hints and no size
probes.  A catalog index under spark.sql.autoBroadcastJoinThreshold
(64 MB, kg/session.py) is broadcast — no shuffle of the probe side, and
no reducer for a Zipfian-hot key to overload; a larger one is a shuffle
join, where AQE (enabled in kg/session.py) skew-splits hot keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kg.extract import TOOL_SURFACE_PREFIX

MINTED_PREFIX = "new:"
TOOL_ENTITY_PREFIX = "tool:"


def norm_key(col: Column) -> Column:
    """Blocking-key normalization, JVM-side (whole-stage codegen):
    lower → trim → collapse internal whitespace.  Must match
    kg.synth.norm_surface / the oracle exactly."""
    from kg.extract import ASCII_WS_RE

    return F.regexp_replace(F.trim(F.lower(col)), ASCII_WS_RE, " ")


def build_link_index(catalog: DataFrame) -> DataFrame:
    """Build side (J2): explode aliases → (blocking_key, entity_id);
    ambiguity (shared alias) resolved deterministically to min(entity_id).

    Partial aggregation (map-side combine) makes the min() cheap; the
    result is a dimension keyed uniquely by blocking_key.
    """
    return (
        catalog.select(F.explode("aliases").alias("alias"), "entity_id")
        .select(norm_key(F.col("alias")).alias("blocking_key"), "entity_id")
        .groupBy("blocking_key")
        .agg(F.min("entity_id").alias("entity_id"))
    )


def _mint(key_col: Column, catalog_id: Column) -> Column:
    """Miss branch (J3 left-outer): deterministic content-derived ids —
    never a global counter (reference uses ++maxDbId, which does not
    distribute; SURVEY.md §7 risk 1)."""
    tool_name = F.regexp_replace(key_col, f"^{TOOL_SURFACE_PREFIX}", "")
    return (
        F.when(catalog_id.isNotNull(), catalog_id)
        .when(
            key_col.startswith(TOOL_SURFACE_PREFIX),
            F.concat(F.lit(TOOL_ENTITY_PREFIX), tool_name),
        )
        .otherwise(F.concat(F.lit(MINTED_PREFIX), key_col))
    )


def link_surfaces(
    surfaces: DataFrame,
    catalog: DataFrame,
    surface_col: str = "surface",
) -> DataFrame:
    """Probe (J3): map each distinct surface to an entity_id.

    Returns (surface, blocking_key, entity_id, is_minted).  Linking on the
    *distinct* surfaces (tiny vs. the triple stream) then rejoining keeps
    the expensive work proportional to vocabulary, not corpus, size.
    Spark picks the join strategy from the index's estimated size.
    """
    index = build_link_index(catalog)
    probe = surfaces.select(F.col(surface_col).alias("surface")).distinct()
    probe = probe.withColumn("blocking_key", norm_key(F.col("surface")))
    joined = probe.join(index, "blocking_key", "left")
    return joined.select(
        "surface",
        "blocking_key",
        _mint(F.col("blocking_key"), F.col("entity_id")).alias("entity_id"),
        F.col("entity_id").isNull().alias("is_minted"),
    )


def link_vocab(raw_triples: DataFrame, catalog: DataFrame) -> DataFrame:
    """The (surface, blocking_key, entity_id, is_minted) vocabulary of a
    raw-triple stream.  A caller that also inspects the vocabulary passes
    it to link_triples(surface_map=...) so the linking work happens
    once."""
    surf = (
        raw_triples.select(F.col("subj_surface").alias("surface"))
        .unionByName(raw_triples.select(F.col("obj_surface").alias("surface")))
    )
    return link_surfaces(surf, catalog)


def link_triples(
    raw_triples: DataFrame,
    catalog: DataFrame,
    surface_map: DataFrame | None = None,
) -> DataFrame:
    """Rewrite raw surface triples to entity-id triples.

    The (surface → entity_id) map is derived from the distinct surfaces of
    the triple stream itself — usually vocabulary-sized, but a high-
    surface-cardinality corpus (code snippets, ids) is not a dimension.
    Spark picks both rejoins' strategy: the map is cached and counted
    first, so its size statistics are exact, and a map under
    spark.sql.autoBroadcastJoinThreshold is broadcast; a larger one is a
    shuffle join, where AQE skew-splits Zipfian-hot surfaces.
    """
    # A caller that already holds the vocabulary (link_vocab) passes it
    # in to avoid recomputing.
    mapped = surface_map if surface_map is not None else link_vocab(raw_triples, catalog)
    # persist + EAGER fill (the runners release it with
    # release_surface_map): the map feeds TWO exchanges (subj + obj) whose
    # plans differ by rename, so ReuseExchange can't kick in; worse,
    # broadcast exchanges materialize on CONCURRENT driver threads, so a
    # lazy persist lets both race and compute the vocabulary distinct
    # (and the upstream extraction) simultaneously — observed as 3×
    # duplicated extraction stages in the event log.  One count() forces a
    # single computation; both joins then read the cache, whose statistics
    # the planner sizes the joins from.
    smap = mapped.select("surface", "entity_id").persist()
    smap.count()

    # r6 (guide §2.4 "remove shuffles outright"): join on an explicit
    # condition against the UN-renamed cached map for both sides — the
    # r5 withColumnRenamed projections made the two broadcast subtrees
    # canonically different, so each rejoin built and shipped its own
    # broadcast of the same vocabulary; with identical subtrees the
    # second join's BroadcastExchange becomes a ReusedExchange (one
    # build, one ship).  Same join keys, same rows.
    s1, s2 = smap.alias("_s1"), smap.alias("_s2")
    return (
        raw_triples.join(s1, F.col("subj_surface") == F.col("_s1.surface"))
        .join(s2, F.col("obj_surface") == F.col("_s2.surface"))
        .select(
            "conv_id",
            "turn_idx",
            "span_start",
            F.col("_s1.entity_id").alias("subj_id"),
            "pred",
            F.col("_s2.entity_id").alias("obj_id"),
        )
    )


def release_surface_map(raw_triples: DataFrame, catalog: DataFrame) -> None:
    """Drop the surface map that link_triples(raw_triples, catalog)
    cached; call it once the linked triples are written.  Spark keys its
    cache by plan, so the rebuilt plan of the same map finds the cached
    copy; with nothing cached (the linked stage was resumed) it does
    nothing."""
    link_vocab(raw_triples, catalog).select("surface", "entity_id").unpersist()


__all__ = [
    "norm_key",
    "build_link_index",
    "link_surfaces",
    "link_triples",
    "release_surface_map",
    "link_vocab",
    "MINTED_PREFIX",
    "TOOL_ENTITY_PREFIX",
]
