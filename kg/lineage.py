"""Per-file lineage + checkpointed resumability (SURVEY.md §2.9).

Reference analog: the provenance nodes (TrackingObjects.java:34-80 —
importer Person node, InstanceEdit with timestamp, created/author edges)
and the coarse progress/elapsed logging (ReactomeBatchImporter.java:139,
172-173,187-191).  Spark design per SURVEY: each stage writes a parquet
(Iceberg-shaped) table plus a ``_manifest.json`` recording stage name,
input snapshot id, pipeline format (3), the written schema, per-file row
counts, and wall time.  The row counts come from the footers of the part
files just written and the schema from the DataFrame written, so a write
costs no read-back job, and read_stage reads with the recorded schema, so
a resumed stage costs no schema-inference job.  A restarted run skips
stages whose manifest matches the current input snapshot and format —
the anti-join-vs-completed-work semantics, implemented at stage
granularity (atomic overwrite per stage ⇒ idempotent retries; SURVEY.md
§7 risk 5: never non-idempotent appends).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from kg.probes import parquet_file_rows

# Version of what the stages write.  Bump it whenever a stage's output
# or its manifest changes for the same inputs: manifests written under
# another format are not resumed past, so a rerun never returns output
# the current code cannot produce or read.  (Manifests from before this
# field existed carry none; format 3 added the schema read_stage needs.)
PIPELINE_FORMAT = 3


def _as_read(t: T.DataType) -> T.DataType:
    """The type a parquet read reports for a written type: Spark reads
    every column, array element and map value of a file source as
    nullable."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_read(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_as_read(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_as_read(t.keyType), _as_read(t.valueType), True)
    return t


def _manifest_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, f"_manifest_{stage}.json")


def stage_is_complete(out_dir: str, stage: str, input_snapshot: str) -> bool:
    """A stage is resumable-past iff its manifest exists AND was produced
    from the same input snapshot (content checksum, not mtime) by the
    same PIPELINE_FORMAT."""
    p = _manifest_path(out_dir, stage)
    if not os.path.exists(p):
        return False
    try:
        with open(p) as f:
            m = json.load(f)
        return (
            m.get("input_snapshot") == input_snapshot
            and m.get("format") == PIPELINE_FORMAT
            and os.path.exists(os.path.join(m["path"], "_SUCCESS"))
        )
    except (json.JSONDecodeError, KeyError, OSError):
        return False


def write_stage(
    df: DataFrame,
    out_dir: str,
    stage: str,
    input_snapshot: str,
    cluster_by: list[str] | None = None,
) -> dict:
    """Materialize one stage atomically (overwrite) + manifest.

    Parquet ``mode=overwrite`` gives replace-on-retry semantics; on a real
    deployment this is an Iceberg ``createOrReplace`` snapshot commit —
    the safe version of the reference's constraints-deferred BatchInserter
    shutdown (README.md:7 of the reference).

    cluster_by hash-repartitions on the given keys before writing
    (SURVEY.md §4: explicit repartition on canonical_id before the Stage-4
    write) so downstream readers joining/grouping on those keys scan
    co-located files.
    """
    path = os.path.join(out_dir, stage)
    t0 = time.monotonic()
    if cluster_by:
        df = df.repartition(*cluster_by)
    df.write.mode("overwrite").parquet(path)
    elapsed = time.monotonic() - t0
    lineage = [{"file": f, "rows": n} for f, n in parquet_file_rows(path).items()]
    manifest = {
        "stage": stage,
        "path": path,
        "input_snapshot": input_snapshot,
        "format": PIPELINE_FORMAT,
        "schema": _as_read(df.schema).jsonValue(),
        "rows": sum(p["rows"] for p in lineage),
        "partitions": len(lineage),
        "partition_lineage": lineage,
        "wall_sec": round(elapsed, 3),
    }
    with open(_manifest_path(out_dir, stage), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def read_manifest(out_dir: str, stage: str) -> dict:
    """The manifest write_stage recorded for a stage."""
    with open(_manifest_path(out_dir, stage)) as f:
        return json.load(f)


def read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    """A written stage, read with the schema its manifest records (no
    schema-inference job)."""
    schema = T.StructType.fromJson(read_manifest(out_dir, stage)["schema"])
    return spark.read.schema(schema).parquet(os.path.join(out_dir, stage))


__all__ = [
    "write_stage",
    "read_stage",
    "read_manifest",
    "stage_is_complete",
    "PIPELINE_FORMAT",
]
