"""Input connectors (SURVEY.md §2.1 S1/S6/S8 analogs).

The reference reads from MySQL (GKInstance rows), tab-separated resource
files (trivialMolecules.txt, ReactomeBatchImporter.java:118-131), and a
SQLite interactions DB downloaded from a remote file
(InteractionImporter.java:284-302).  Our equivalents are declarative
Spark sources behind one interface, all schema-pinned (never
inferSchema in production paths):

- transcripts: parquet (default), CSV, or JSONL directories
- catalog: parquet or the reference-style TSV resource file
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg.schema import CATALOG_SCHEMA, TRANSCRIPTS_SCHEMA


def read_transcripts(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Schema-pinned transcript source. fmt: parquet | csv | json."""
    if fmt == "parquet":
        return spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(path)
    if fmt == "csv":
        return (
            spark.read.schema(TRANSCRIPTS_SCHEMA)
            .options(header=True, escape='"', multiLine=True)
            .csv(path)
        )
    if fmt == "json":
        return spark.read.schema(TRANSCRIPTS_SCHEMA).json(path)
    raise ValueError(f"unsupported transcript format: {fmt}")


def read_catalog(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Candidate catalog source. fmt: parquet | tsv.

    The TSV shape mirrors the reference's resource files (S6: split on
    newline then tab, ReactomeBatchImporter.java:118-131): columns
    entity_id, canonical_name, aliases ('|'-separated), prefix,
    entity_type, freq_hint.
    """
    if fmt == "parquet":
        return spark.read.schema(CATALOG_SCHEMA).parquet(path)
    if fmt == "tsv":
        raw = spark.read.options(sep="\t", header=True).schema(
            "entity_id string, canonical_name string, aliases string, "
            "prefix string, entity_type string, freq_hint double"
        ).csv(path)
        from kg.link import norm_key

        return raw.select(
            "entity_id",
            "canonical_name",
            F.split("aliases", r"\|").alias("aliases"),
            norm_key(F.col("canonical_name")).alias("blocking_key"),
            "prefix",
            "entity_type",
            F.coalesce("freq_hint", F.lit(1.0)).alias("freq_hint"),
        )
    raise ValueError(f"unsupported catalog format: {fmt}")


__all__ = ["read_transcripts", "read_catalog"]
