"""Static schema registry (SURVEY.md §1.4, §3.3).

The reference compiles a per-class projection plan at runtime by
reflecting annotated POJOs and querying the live DB schema
(ReactomeBatchImporter.java:883-947, "setUpFields").  Our engine has a
fixed input shape (BASELINE.json input_hint), so the whole "analysis
phase" collapses to this module: StructTypes evaluated once at the
driver, no runtime reflection.

Attribute nullability categories mirror ReactomeAttribute.java:12-28 —
MANDATORY (not null, not empty), REQUIRED (null ok, not empty),
OPTIONAL / NOMANUALEDIT (both ok).  They drive the QA consistency check
(materialize.qa_consistency, analog of ReactomeBatchImporter.java:1126-1199).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: multi-turn transcripts (authoritative shape: BASELINE.json input_hint)
# ---------------------------------------------------------------------------
TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Candidate catalog for Stage-2 linking (FIXTURES.md §2; analog of the
# reference's referenceEntityMap, InteractionImporter.java:62,341-385).
CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("canonical_name", T.StringType(), False),
        T.StructField("aliases", T.ArrayType(T.StringType()), False),
        T.StructField("blocking_key", T.StringType(), False),
        T.StructField("prefix", T.StringType(), True),
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("freq_hint", T.DoubleType(), False),
    ]
)

# Alias seed edges for Stage-3 CC (FIXTURES.md §3; analog of symmetric
# equivalentTo / reverseReaction handling, ReactomeBatchImporter.java:661-674).
ALIAS_PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
    ]
)

# Stage-1 output: raw triples over surface forms (pre-linking).  subj/obj are
# surface strings here; Stage 2 rewrites them to entity ids; Stage 3 to
# canonical ids.  span_start/turn_idx give the deterministic first-appearance
# order needed for the edge "order" property (ReactomeBatchImporter.java:635).
RAW_TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("span_start", T.IntegerType(), False),
        T.StructField("subj_surface", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj_surface", T.StringType(), False),
    ]
)

# Stage-4 outputs (FIXTURES.md §5).
NODES_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),  # xxhash64(canonical_id)
        T.StructField("canonical_id", T.StringType(), False),
        T.StructField("labels", T.ArrayType(T.StringType()), False),
        T.StructField("display_name", T.StringType(), True),
        T.StructField("schema_class", T.StringType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("created_ts", T.TimestampType(), True),
        T.StructField("stage", T.StringType(), False),
        T.StructField("input_snapshot", T.StringType(), True),
    ]
)

EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("rel_type", T.StringType(), False),
        T.StructField("stoichiometry", T.IntegerType(), False),
        T.StructField("order", T.IntegerType(), False),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("created_ts", T.TimestampType(), True),
        T.StructField("stage", T.StringType(), False),
    ]
)

# Stage-3 output: the CC mapping, one row per alias-graph node.
MAPPING_SCHEMA = T.StructType(
    [
        T.StructField("node", T.StringType(), True),
        T.StructField("canonical_id", T.StringType(), True),
    ]
)

# Incremental edge state (kg.materialize.edge_partials / merge_edge_state):
# the edge key, its stoichiometry so far and its first occurrence.
EDGE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType(), True),
        T.StructField("rel_type", T.StringType(), True),
        T.StructField("dst", T.StringType(), True),
        T.StructField("stoichiometry", T.IntegerType(), True),
        T.StructField(
            "first_occ",
            T.StructType(
                [
                    T.StructField("conv_id", T.StringType(), True),
                    T.StructField("turn_idx", T.IntegerType(), True),
                    T.StructField("span_start", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

# ---------------------------------------------------------------------------
# Nullability categories (ReactomeAttribute.java:12-28)
# ---------------------------------------------------------------------------
MANDATORY = "MANDATORY"  # neither null nor empty
REQUIRED = "REQUIRED"  # null ok, empty not
OPTIONAL = "OPTIONAL"  # both ok
NOMANUALEDIT = "NOMANUALEDIT"  # both ok

# category per (table, column) — consumed by materialize.qa_consistency.
ATTRIBUTE_CATEGORIES: dict[str, dict[str, str]] = {
    "transcripts": {
        "conv_id": MANDATORY,
        "turn_idx": MANDATORY,
        "role": MANDATORY,
        "text": REQUIRED,  # null allowed (e.g. pure tool call), empty not
        "tool": OPTIONAL,
        "ts": REQUIRED,
    },
    "nodes": {
        "node_id": MANDATORY,
        "canonical_id": MANDATORY,
        "labels": MANDATORY,
        "display_name": REQUIRED,
        "schema_class": MANDATORY,
    },
    "edges": {
        "src": MANDATORY,
        "dst": MANDATORY,
        "rel_type": MANDATORY,
        "stoichiometry": MANDATORY,
        "order": MANDATORY,
    },
}

# Entity-type → label ancestry (analog of the memoized class→labels map,
# ReactomeBatchImporter.java:836-868).  Broadcast-joined in materialize.
ENTITY_TYPE_LABELS: dict[str, list[str]] = {
    "person": ["Person", "Agent", "Entity"],
    "tool": ["Tool", "Artifact", "Entity"],
    "concept": ["Concept", "Entity"],
    "org": ["Organization", "Agent", "Entity"],
    "minted": ["MintedEntity", "Entity"],  # Stage-2 miss branch
}

# ENTITY_TYPE_LABELS as the table build_nodes joins.
LABELS_SCHEMA = T.StructType(
    [
        T.StructField("entity_type", T.StringType(), True),
        T.StructField("labels", T.ArrayType(T.StringType()), True),
    ]
)
