"""Source-connector tests (S1/S6 analogs): same data through parquet,
CSV, JSON, and TSV arrives identically."""

from __future__ import annotations

import os

from kg.sources import read_catalog, read_transcripts


def test_transcript_formats_agree(spark, transcripts_pdf, tmp_path):
    pq = str(tmp_path / "t.parquet")
    cs = str(tmp_path / "t.csv")
    js = str(tmp_path / "t.json")
    transcripts_pdf.to_parquet(pq, index=False, coerce_timestamps="us",
                               allow_truncated_timestamps=True)
    transcripts_pdf.to_csv(cs, index=False)
    transcripts_pdf.assign(
        ts=transcripts_pdf["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    ).to_json(js, orient="records", lines=True)

    base = read_transcripts(spark, pq).orderBy("conv_id", "turn_idx").collect()
    for fmt, path in (("csv", cs), ("json", js)):
        got = read_transcripts(spark, path, fmt).orderBy("conv_id", "turn_idx").collect()
        assert [(r.conv_id, r.turn_idx, r.role, r.text, r.tool) for r in got] == [
            (r.conv_id, r.turn_idx, r.role, r.text, r.tool) for r in base
        ], fmt


def test_catalog_tsv(spark, tmp_path):
    p = str(tmp_path / "cat.tsv")
    with open(p, "w") as f:
        f.write("entity_id\tcanonical_name\taliases\tprefix\tentity_type\tfreq_hint\n")
        f.write("cat:Q1\tAlpha Beta\tAlpha Beta|ALPHA BETA\tpfx\tconcept\t0.5\n")
        f.write("cat:Q2\tGamma\tGamma\t\ttool\t\n")
    got = {r["entity_id"]: r.asDict() for r in read_catalog(spark, p, "tsv").collect()}
    assert got["cat:Q1"]["aliases"] == ["Alpha Beta", "ALPHA BETA"]
    assert got["cat:Q1"]["blocking_key"] == "alpha beta"
    assert got["cat:Q2"]["freq_hint"] == 1.0
