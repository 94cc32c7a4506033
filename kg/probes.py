"""Bounded driver-side row-count probes (r6).

Two KG operators dispatch on input size (the extract path and the CC
driver/distributed split), as does the off-path contract query
``j1_endpoint_resolution``; join strategies are left to Spark.  The r5 probe was always a
``df.limit(thr + 1).count()`` job — bounded, but a full Spark job with
scheduler latency, measured as a visible slice of the pipeline wall at
bench scale (~0.3s per probe).  Two cases need no job at all:

- a PLAIN parquet scan (optimized plan is a bare LogicalRelation, so no
  filter/projection can change the row count): sum the parquet FOOTER
  row counts driver-side, early-exiting once past the threshold;
- a LOCAL relation (a table built on the driver with
  ``kg.session.local_table``, e.g. the driver union-find mapping): the
  row count is already in the plan.  ``createDataFrame(list)`` is not
  one — it plans a scan of a Python RDD and takes the fallback.

Anything else — or any error — falls back to the bounded limit+count
job, so the probe is never wrong, only sometimes cheaper.

parquet_file_rows reads the same footers for a directory a writer just
filled, so row counts of written output never need a read-back job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def parquet_file_rows(directory: str) -> dict[str, int]:
    """Row count per parquet part file directly under ``directory``,
    read from the footers on the driver (no Spark job)."""
    import pyarrow.parquet as pq

    return {
        f: pq.read_metadata(os.path.join(directory, f)).num_rows
        for f in sorted(os.listdir(directory))
        if f.endswith(".parquet")
    }


def rows_at_most(df: DataFrame, thr: int) -> bool:
    """True iff df has at most ``thr`` rows (bounded probe)."""
    try:
        jplan = df._jdf.queryExecution().optimizedPlan()
        kind = jplan.getClass().getSimpleName()
        if kind == "LocalRelation":
            return jplan.data().size() <= thr
        if kind == "LogicalRelation":
            files = df.inputFiles()
            if files and all(f.endswith(".parquet") for f in files):
                import pyarrow.parquet as pq

                total = 0
                for f in files:
                    local = f[len("file:"):] if f.startswith("file:") else f
                    total += pq.read_metadata(local).num_rows
                    if total > thr:
                        return False
                return True
    except Exception:
        pass
    return df.limit(thr + 1).count() <= thr


__all__ = ["rows_at_most", "parquet_file_rows"]
