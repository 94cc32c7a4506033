"""Resumability test (SURVEY.md §5: kill after Stage 2, restart, assert
identical final tables and no duplicate nodes/edges)."""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pytest

from kg.lineage import read_stage
from kg.pipeline import STAGES, run_pipeline_materialized


def _edges_pdf(res) -> pd.DataFrame:
    key = ["src", "dst", "rel_type", "stoichiometry", "order"]
    return res["edges"].toPandas()[key].sort_values(key).reset_index(drop=True)


def test_resume_after_partial_failure(
    spark, transcripts_df, catalog_df, alias_pairs_df, tmp_path
):
    out = str(tmp_path / "kgout")
    full = run_pipeline_materialized(
        spark, transcripts_df, catalog_df, alias_pairs_df, out
    )
    baseline = _edges_pdf(full)
    assert all(v == 0 for v in full["qa"].values())

    # simulate a crash after Stage 2: wipe everything downstream of linking
    for stage in ("canonical_triples", "nodes", "edges", "mapping"):
        shutil.rmtree(os.path.join(out, stage), ignore_errors=True)
        mp = os.path.join(out, f"_manifest_{stage}.json")
        if os.path.exists(mp):
            os.remove(mp)

    resumed = run_pipeline_materialized(
        spark, transcripts_df, catalog_df, alias_pairs_df, out, resume=True
    )
    # early stages were skipped, late stages recomputed
    assert resumed["manifests"]["raw_triples"].get("resumed") is True
    assert resumed["manifests"]["linked_triples"].get("resumed") is True
    assert resumed["manifests"]["edges"].get("resumed") is None
    assert _edges_pdf(resumed).equals(baseline)
    assert all(v == 0 for v in resumed["qa"].values())


def test_rerun_is_idempotent(
    spark, transcripts_df, catalog_df, alias_pairs_df, tmp_path
):
    out = str(tmp_path / "kgout2")
    a = run_pipeline_materialized(spark, transcripts_df, catalog_df, alias_pairs_df, out)
    b = run_pipeline_materialized(spark, transcripts_df, catalog_df, alias_pairs_df, out)
    assert _edges_pdf(a).equals(_edges_pdf(b))
    # second run resumed every stage (same input snapshot)
    assert all(m.get("resumed") for m in b["manifests"].values())


def test_manifest_has_partition_lineage(
    spark, transcripts_df, catalog_df, alias_pairs_df, tmp_path
):
    out = str(tmp_path / "kgout3")
    run_pipeline_materialized(spark, transcripts_df, catalog_df, alias_pairs_df, out)
    with open(os.path.join(out, "_manifest_edges.json")) as f:
        m = json.load(f)
    assert m["rows"] == sum(p["rows"] for p in m["partition_lineage"])
    assert m["partitions"] >= 1
    assert m["input_snapshot"].startswith("xxh64:")


def test_manifest_without_current_format_is_rebuilt(
    spark, transcripts_df, catalog_df, alias_pairs_df, tmp_path
):
    """A directory whose manifests were written by another pipeline
    format (here: by code that predates the field) is rebuilt, not
    resumed — the stages may hold ids the current code cannot produce."""
    out = str(tmp_path / "kgout_format")
    full = run_pipeline_materialized(
        spark, transcripts_df, catalog_df, alias_pairs_df, out
    )
    baseline = _edges_pdf(full)
    for name in full["manifests"]:
        mp = os.path.join(out, f"_manifest_{name}.json")
        with open(mp) as f:
            m = json.load(f)
        m.pop("format", None)
        with open(mp, "w") as f:
            json.dump(m, f)

    rerun = run_pipeline_materialized(
        spark, transcripts_df, catalog_df, alias_pairs_df, out
    )
    assert not any(m.get("resumed") for m in rerun["manifests"].values())
    assert set(rerun["manifests"]) == set(full["manifests"])
    pd.testing.assert_frame_equal(_edges_pdf(rerun), baseline)


def test_manifests_match_written_stages(
    spark, transcripts_df, catalog_df, alias_pairs_df, last_job_id, tmp_path
):
    """Every stage's manifest describes what was written without reading
    it back: its row count and schema equal a fresh read's, and a resumed
    stage reads back without starting a Spark job."""
    from kg.materialize import discarded_catalog_entities

    out = str(tmp_path / "kgout_exact")
    res = run_pipeline_materialized(
        spark, transcripts_df, catalog_df, alias_pairs_df, out
    )
    assert set(res["manifests"]) == set(STAGES)
    for stage in STAGES:
        m = res["manifests"][stage]
        written = spark.read.parquet(m["path"])
        assert m["rows"] == written.count(), stage
        assert m["rows"] == sum(p["rows"] for p in m["partition_lineage"]), stage
        assert read_stage(spark, out, stage).schema == written.schema, stage
    assert res["discarded_catalog_entities"] == discarded_catalog_entities(
        catalog_df, read_stage(spark, out, "mapping")
    ).count()

    resumed = run_pipeline_materialized(
        spark, transcripts_df, catalog_df, alias_pairs_df, out
    )
    assert all(m.get("resumed") for m in resumed["manifests"].values())
    before = last_job_id()
    for stage in STAGES:
        read_stage(spark, out, stage)
    assert last_job_id() == before


def test_failed_branch_raises_and_resumes(
    spark, transcripts_df, catalog_df, alias_pairs_df, tmp_path, monkeypatch
):
    """CC runs beside extract → link.  When it raises, the build raises,
    the mapping stage has no manifest, and a rerun resumes the stages the
    other branch finished and ends with a fresh run's edges."""
    import kg.pipeline

    out = str(tmp_path / "kgout_fail")

    def _boom(alias_pairs):
        raise RuntimeError("cc failed")

    with monkeypatch.context() as m:
        m.setattr(kg.pipeline, "connected_components", _boom)
        with pytest.raises(RuntimeError, match="cc failed"):
            run_pipeline_materialized(
                spark, transcripts_df, catalog_df, alias_pairs_df, out
            )
    assert not os.path.exists(os.path.join(out, "_manifest_mapping.json"))

    rerun = run_pipeline_materialized(
        spark, transcripts_df, catalog_df, alias_pairs_df, out
    )
    assert rerun["manifests"]["raw_triples"].get("resumed") is True
    assert rerun["manifests"]["linked_triples"].get("resumed") is True
    assert rerun["manifests"]["mapping"].get("resumed") is None
    assert list(rerun["manifests"]) == list(STAGES)
    fresh = run_pipeline_materialized(
        spark, transcripts_df, catalog_df, alias_pairs_df, str(tmp_path / "kgout_fresh")
    )
    pd.testing.assert_frame_equal(_edges_pdf(rerun), _edges_pdf(fresh))
    assert list(rerun["qa"].items()) == list(fresh["qa"].items())


def test_build_jobs_inherit_job_group(
    spark, transcripts_df, catalog_df, alias_pairs_df, last_job_id, tmp_path
):
    """Every job a build starts, on the caller's thread or a worker
    thread, carries the job group the caller set."""
    sc = spark.sparkContext
    before = last_job_id()
    sc.setJobGroup("g", "grouped build")
    try:
        run_pipeline_materialized(
            spark, transcripts_df, catalog_df, alias_pairs_df, str(tmp_path / "kgout_g")
        )
    finally:
        sc._jsc.clearJobGroup()
    last_job_id()  # drain the listener bus
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    groups = {}
    it = jobs.iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() > before:
            g = j.jobGroup()
            groups[j.jobId()] = g.get() if g.isDefined() else None
    assert groups and set(groups.values()) == {"g"}, groups
