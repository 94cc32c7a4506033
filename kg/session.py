"""SparkSession factory (SURVEY.md §7).

Local-mode sessions tuned for the sandbox (single JVM, N threads) but with
the cluster-relevant knobs set the way a 1000-executor deployment would
want them: AQE on (runtime re-plan + skew-join splitting), Arrow enabled
for every pandas-UDF exchange, shuffle partitions sized to parallelism
(never the 200 default), UTC session timezone so results are comparable
against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _driver_memory_default(phys_bytes: int) -> str:
    """Driver heap for a host with ``phys_bytes`` of RAM: half of it,
    leaving the other half for JVM off-heap use and the Python workers;
    capped at 24g, never below 1g."""
    gib = phys_bytes // 2**30
    return f"{max(1, min(24, gib // 2))}g"


def get_spark(
    app_name: str = "kg",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism: local[N] thread count; defaults to $SPARK_GRAFT_CPUS or 32.
    The driver heap is $SPARK_GRAFT_DRIVER_MEM, else half of physical
    memory capped at 24g (_driver_memory_default).
    shuffle_partitions: defaults to parallelism (local rule of thumb —
    on a real cluster this would be ~2-3x total cores, or left to AQE
    coalescing which is enabled here).
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(parallelism, 8)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_memory_default(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    )

    # Make the kg package importable on Python workers regardless of the
    # driver script's cwd (cluster deployments ship it via --py-files;
    # local workers inherit this PYTHONPATH).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    worker_pythonpath = f"{pkg_root}:{existing}" if existing else pkg_root

    builder = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
        # scan parallelism: local corpora arrive as a handful of big parquet
        # files; the 128 MB default yields 2-3 scan tasks and serializes the
        # scan → shuffle-write side of the first exchange.  32 MB keeps all
        # cores busy; at cluster scale inputs are many files and this only
        # affects the per-task footprint.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_table(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """A driver-built table as a LocalRelation: the rows reach the JVM as
    one Arrow stream, so no action on the table starts a Python worker
    (``createDataFrame(list)`` plans a scan of a Python RDD instead), and
    ``kg.probes.rows_at_most`` reads its size from the plan.  Arrow reads
    naive datetimes in the session time zone, not the process's, so add
    timestamp columns as literals on the result instead of passing them
    here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def stop_spark() -> None:
    """Stop the active session (needed between parallelism levels in bench)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # Spark caches the JVM gateway; a fresh builder after stop() works in
    # the same process because local mode re-launches executors in-JVM.
