"""Spark jobs per build and per refresh, counted in the status store.

At the benchmark's sizes the pipeline is bound by fixed per-job cost, so
a job that recomputes what the driver already knows (a read-back after a
write, a count the footers hold, a second extraction) is a regression
even when every output stays correct.  The budgets are the counts
measured on these fixtures; the comments give the counts before the
manifests came from footers, QA and the input checksum became one
aggregate each, and the incremental path stopped extracting twice
(77 and 34), and before the KG joins left their strategy to Spark,
which removed the row-count probes of the old broadcast gates (41 and
24).  Releasing link's cached surface map once the linked triples are
written costs no job: both counts were re-measured unchanged.
Job ids are counted rather than job groups because the incremental work
runs on the stream thread.
"""

from __future__ import annotations

import os

from kg.pipeline import run_pipeline_materialized
from kg.streaming import run_incremental

BUILD_JOBS = 39  # was 77, then 41
REFRESH_JOBS = 20  # was 34, then 24


def test_materialized_build_job_budget(
    spark, transcripts_df, catalog_df, alias_pairs_df, last_job_id, tmp_path
):
    before = last_job_id()
    res = run_pipeline_materialized(
        spark, transcripts_df, catalog_df, alias_pairs_df, str(tmp_path / "out")
    )
    n = last_job_id() - before
    assert all(v == 0 for v in res["qa"].values())
    assert n <= BUILD_JOBS, f"{n} jobs per materialized build, budget {BUILD_JOBS}"


def test_warm_refresh_job_budget(
    spark, transcripts_pdf, catalog_df, alias_pairs_pdf, last_job_id, tmp_path
):
    feed = tmp_path / "feed"
    adir = tmp_path / "aliases"
    feed.mkdir()
    adir.mkdir()
    out = str(tmp_path / "out")
    convs = sorted(transcripts_pdf["conv_id"].unique())

    def land(k: int) -> None:
        part = transcripts_pdf[transcripts_pdf["conv_id"].isin(convs[20 * k:20 * k + 20])]
        part.to_parquet(os.path.join(feed, f"t{k}.parquet"), index=False,
                        coerce_timestamps="us", allow_truncated_timestamps=True)
        alias_pairs_pdf.iloc[50 * k:50 * k + 50].to_parquet(
            os.path.join(adir, f"a{k}.parquet"), index=False)

    land(0)
    run_incremental(spark, str(feed), catalog_df, str(adir), out)
    land(1)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    cached = persistent().size()
    before = last_job_id()
    res = run_incremental(spark, str(feed), catalog_df, str(adir), out)
    n = last_job_id() - before
    assert res["epochs"] == 1
    assert n <= REFRESH_JOBS, f"{n} jobs per warm refresh, budget {REFRESH_JOBS}"
    # the surface map is released; the one RDD a refresh still leaves is
    # the updated mapping's localCheckpoint
    assert persistent().size() <= cached + 1
