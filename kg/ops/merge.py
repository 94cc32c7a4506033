"""MERGE / slowly-changing-dimension operators (Iceberg MERGE INTO and
SCD2 analogs, expressed as pure DataFrame algebra over immutable
snapshots).

The reference mutates its graph in place (BatchInserter setProperty /
createNode as it walks instances — ReactomeBatchImporter.java:383-420);
a Spark-first engine replaces every in-place mutation with
read → transform → atomic-replace.  These two operators are the general
form of that replacement:

- merge_upsert: MERGE INTO target USING updates ON keys
  WHEN MATCHED THEN UPDATE *  WHEN NOT MATCHED THEN INSERT * —
  one anti-join + one union, no shuffle of the updates side beyond the
  join itself.  At Iceberg scale the same plan runs as copy-on-write
  MERGE; here the result feeds kg/lineage.write_stage's atomic overwrite.

- scd2_apply: type-2 history — matched keys close their current version
  (valid_to = change ts) and append a new open version; unmatched keys
  pass through.  This is how a production catalog (the Stage-2 linking
  dimension) evolves without rewriting history, so late-arriving
  transcripts can still link against the version valid at their
  event time.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OPEN_TO = dt.datetime(9999, 12, 31, 0, 0, 0)


def merge_upsert(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE upsert: updated rows replace matched target rows wholesale,
    unmatched update rows are inserted, untouched target rows survive.

    Columns must match (unionByName).  Plan shape: ONE left-anti join on
    the keys (target side pruned to non-matched) + union — the big
    (target) side shuffles once on the keys; with both sides bucketed on
    the keys (a bucketed table write) even that shuffle disappears.
    """
    untouched = target.join(updates.select(*keys), keys, "left_anti")
    return untouched.unionByName(updates)


def scd2_init(
    dim: DataFrame, valid_from: dt.datetime | None = None
) -> DataFrame:
    """Open a version-1 history for a plain dimension: adds valid_from /
    valid_to (open) / is_current."""
    vf = valid_from or dt.datetime(1970, 1, 1)
    return dim.select(
        "*",
        F.lit(vf).alias("valid_from"),
        F.lit(OPEN_TO).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_apply(
    history: DataFrame,
    changes: DataFrame,
    keys: list[str],
    change_ts_col: str = "change_ts",
) -> DataFrame:
    """Apply a batch of changes to an SCD2 history table.

    changes = the new attribute values per key + a change timestamp
    column.  For each changed key: the OPEN version is closed
    (valid_to = change ts, is_current = false) and a new open version is
    appended; closed history rows and unchanged keys pass through
    untouched.  One join on the keys against the current slice + unions —
    history is never rewritten row-by-row.

    A batch may carry several change rows for one key; only the LATEST
    (max change ts, deterministic value tiebreak) is applied, as real
    SCD2 loaders do — applying each would close the single open version
    once per change row (duplicate closed versions) and append multiple
    open versions.  Intermediate same-batch states are NOT historized;
    feed changes in separate batches if every state must be kept.
    """
    from pyspark.sql.window import Window

    ch = changes.withColumnRenamed(change_ts_col, "_ts")
    val_cols = [c for c in ch.columns if c not in (*keys, "_ts")]
    w = Window.partitionBy(*keys).orderBy(
        F.col("_ts").desc(), *[F.col(c).desc() for c in val_cols]
    )
    ch = ch.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    current = history.where(F.col("is_current"))
    closed = history.where(~F.col("is_current"))

    # close the open version of changed keys
    to_close = (
        current.join(ch.select(*keys, "_ts"), keys, "inner")
        .withColumn("valid_to", F.col("_ts"))
        .withColumn("is_current", F.lit(False))
        .drop("_ts")
    )
    untouched_current = current.join(ch.select(*keys), keys, "left_anti")

    # open the new version carrying the changed attributes
    new_versions = ch.select(
        *[c for c in ch.columns if c != "_ts"],
        F.col("_ts").alias("valid_from"),
        F.lit(OPEN_TO).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return (
        closed.unionByName(to_close)
        .unionByName(untouched_current)
        .unionByName(new_versions)
    )


def scd2_as_of(history: DataFrame, ts: dt.datetime) -> DataFrame:
    """Time-travel read: the dimension as it was valid at ts."""
    return history.where(
        (F.col("valid_from") <= F.lit(ts)) & (F.lit(ts) < F.col("valid_to"))
    ).drop("valid_from", "valid_to", "is_current")


__all__ = ["merge_upsert", "scd2_init", "scd2_apply", "scd2_as_of", "OPEN_TO"]
