"""Shared fixtures: one local SparkSession per test run + seeded synth data."""

from __future__ import annotations

import contextlib

import pandas as pd
import pytest

from kg import synth
from kg.schema import ALIAS_PAIRS_SCHEMA, CATALOG_SCHEMA, TRANSCRIPTS_SCHEMA
from kg.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kg-tests", parallelism=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def catalog_pdf() -> pd.DataFrame:
    return synth.synth_catalog(200)


@pytest.fixture(scope="session")
def alias_pairs_pdf() -> pd.DataFrame:
    return synth.synth_alias_pairs(200)


@pytest.fixture(scope="session")
def transcripts_pdf(catalog_pdf) -> pd.DataFrame:
    return synth.synth_transcripts(catalog_pdf, n_convs=60)


@pytest.fixture(scope="session")
def catalog_df(spark, catalog_pdf):
    return spark.createDataFrame(catalog_pdf, schema=CATALOG_SCHEMA)


@pytest.fixture(scope="session")
def alias_pairs_df(spark, alias_pairs_pdf):
    return spark.createDataFrame(alias_pairs_pdf, schema=ALIAS_PAIRS_SCHEMA)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    return spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA)


@pytest.fixture(scope="session")
def last_job_id(spark):
    """Callable: id of the newest job in Spark's status store once the
    listener bus has drained (-1 before any job).  Job ids are
    sequential, so the difference of two calls counts the jobs started in
    between, on any thread — and stays exact after the store evicts old
    jobs."""
    sc = spark.sparkContext._jsc.sc()

    def _last() -> int:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return max(jobs.head().jobId(), jobs.last().jobId()) if jobs.size() else -1

    return _last


@pytest.fixture(scope="session")
def no_auto_broadcast(spark):
    """Context manager: within it Spark broadcasts no join side, because
    both size rules (the planner's and AQE's) are set to -1; on exit both
    settings are restored.  Queries must run inside it to be planned
    under it."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )

    @contextlib.contextmanager
    def _off():
        prev = {k: spark.conf.get(k, None) for k in keys}
        for k in keys:
            spark.conf.set(k, "-1")
        try:
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    return _off
