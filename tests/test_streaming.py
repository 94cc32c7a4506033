"""Streaming/incremental tests: availableNow drain ≡ batch oracle;
checkpoint resume picks up only new files."""

from __future__ import annotations

import os

import pandas as pd

from kg.oracle import oracle_edges
from kg.streaming import run_incremental

_KEY = ["src", "dst", "rel_type", "stoichiometry", "order"]


def _edges_key(df) -> pd.DataFrame:
    return df.toPandas()[_KEY].sort_values(_KEY).reset_index(drop=True)


def _oracle_key(got: pd.DataFrame, *inputs: pd.DataFrame) -> pd.DataFrame:
    """oracle_edges over the pandas inputs, keyed and typed like ``got``."""
    want = oracle_edges(*inputs)[_KEY].sort_values(_KEY).reset_index(drop=True)
    return want.astype(got.dtypes.to_dict())


def _write_chunks(transcripts_pdf, path, n_chunks=3):
    os.makedirs(path, exist_ok=True)
    convs = sorted(transcripts_pdf["conv_id"].unique())
    per = len(convs) // n_chunks + 1
    for i in range(n_chunks):
        chunk_convs = set(convs[i * per:(i + 1) * per])
        chunk = transcripts_pdf[transcripts_pdf["conv_id"].isin(chunk_convs)]
        if len(chunk):
            chunk.to_parquet(
                os.path.join(path, f"chunk_{i}.parquet"), index=False,
                coerce_timestamps="us", allow_truncated_timestamps=True,
            )


def test_incremental_equals_batch(
    spark, transcripts_pdf, catalog_pdf, alias_pairs_pdf, catalog_df, alias_pairs_df,
    tmp_path,
):
    stream_dir = str(tmp_path / "feed")
    out_dir = str(tmp_path / "out")
    _write_chunks(transcripts_pdf, stream_dir)

    inc = run_incremental(spark, stream_dir, catalog_df, alias_pairs_df, out_dir)
    assert inc["epochs"] >= 1
    got = _edges_key(inc["edges"])
    assert got.equals(_oracle_key(got, transcripts_pdf, catalog_pdf, alias_pairs_pdf))


def test_incremental_resume_processes_only_new_files(
    spark, transcripts_pdf, catalog_df, alias_pairs_df, tmp_path
):
    stream_dir = str(tmp_path / "feed2")
    out_dir = str(tmp_path / "out2")
    half = transcripts_pdf[transcripts_pdf["conv_id"] < "conv-000030"]
    rest = transcripts_pdf[transcripts_pdf["conv_id"] >= "conv-000030"]
    _write_chunks(half, stream_dir, n_chunks=1)
    first = run_incremental(spark, stream_dir, catalog_df, alias_pairs_df, out_dir)
    n_first = first["edges"].count()

    # new file arrives; restart drains ONLY it (checkpoint offsets)
    rest.to_parquet(os.path.join(stream_dir, "late.parquet"), index=False,
                    coerce_timestamps="us", allow_truncated_timestamps=True)
    second = run_incremental(spark, stream_dir, catalog_df, alias_pairs_df, out_dir)
    assert second["edges"].count() > n_first


def test_incremental_alias_dir_refreshes_between_batches(spark, tmp_path):
    """Path-based alias source: a pair appended between two incremental
    runs must merge from the next batch on (the static-DataFrame variant
    would keep linking against the stale mapping)."""
    import datetime as dt

    def _t(conv, idx, text):
        return (conv, idx, "user", text, None, dt.datetime(2025, 1, 1))

    tcols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    def _write_turns(rows, path):
        pdf = pd.DataFrame(rows, columns=tcols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["tool"] = pdf["tool"].astype("string")
        pdf.to_parquet(path, index=False, coerce_timestamps="us",
                       allow_truncated_timestamps=True)

    feed = tmp_path / "afeed"; feed.mkdir()
    adir = tmp_path / "aliases"; adir.mkdir()
    out = str(tmp_path / "aout")
    catalog = spark.createDataFrame(
        [], "entity_id string, canonical_name string, aliases array<string>, "
            "blocking_key string, prefix string, entity_type string, freq_hint double",
    )
    _write_turns([_t("c1", 0, "link [[X]] and [[Y]] here")], str(feed / "b1.parquet"))
    pd.DataFrame([("p", "q", "seed")], columns=["src", "dst", "kind"]).to_parquet(
        str(adir / "a1.parquet"), index=False)

    first = run_incremental(spark, str(feed), catalog, str(adir), out)
    e1 = {(r["src"], r["dst"]) for r in first["edges"].collect()
          if r["rel_type"] == "co_occurs_with"}
    assert ("new:x", "new:y") in e1

    # alias arrives merging new:y into new:x; later transcripts mention Y
    pd.DataFrame([("new:x", "new:y", "alias")], columns=["src", "dst", "kind"]
                 ).to_parquet(str(adir / "a2.parquet"), index=False)
    _write_turns([_t("c2", 0, "then [[Y]] with [[W]]")], str(feed / "b2.parquet"))
    second = run_incremental(spark, str(feed), catalog, str(adir), out)
    e2 = {(r["src"], r["dst"]) for r in second["edges"].collect()
          if r["rel_type"] == "co_occurs_with"}
    assert ("new:w", "new:x") in e2     # Y canonicalized via the NEW pair
    assert ("new:w", "new:y") not in e2  # the stale-mapping symptom


def test_incremental_empty_input_dir(spark, catalog_df, alias_pairs_df, tmp_path):
    """No input files ⇒ zero epochs + an empty, correctly-typed edge table
    (was: PATH_NOT_FOUND on the post-drain read)."""
    from kg.streaming import run_incremental

    in_dir = tmp_path / "in_empty"
    in_dir.mkdir()
    res = run_incremental(
        spark, str(in_dir), catalog_df, alias_pairs_df, str(tmp_path / "out")
    )
    assert res["epochs"] == 0
    assert res["edges"].count() == 0
    assert "rel_type" in res["edges"].columns


def test_incremental_cc_work_is_delta_proportional(
    spark, transcripts_pdf, catalog_df, tmp_path
):
    """With a directory alias source, only the FIRST micro-batch pays for
    the alias history; later batches with no new alias files do zero CC
    work (cc_stats n_delta_edges == 0) — the old code re-ran the full
    fixpoint every batch (VERDICT r3 item 5)."""
    import numpy as np

    stream_dir = str(tmp_path / "dfeed")
    out_dir = str(tmp_path / "dout")
    adir = tmp_path / "daliases"
    adir.mkdir()
    # 200 alias pairs in the directory up front
    pd.DataFrame(
        {"src": [f"new:e{i}" for i in range(200)],
         "dst": [f"new:e{i + 1}" for i in range(200)],
         "kind": "alias"}
    ).to_parquet(str(adir / "a0.parquet"), index=False)
    # 8 feed files at maxFilesPerTrigger=4 ⇒ exactly 2 micro-batches
    _write_chunks(transcripts_pdf[transcripts_pdf["conv_id"] < "conv-000040"],
                  stream_dir, n_chunks=8)
    res = run_incremental(spark, stream_dir, catalog_df, str(adir), out_dir)
    stats = res["cc_stats"]
    assert res["epochs"] == 2 and len(stats) == 2
    assert stats[0]["n_new_alias_files"] == 1
    assert stats[0]["n_delta_edges"] == 200      # history paid once
    assert stats[1]["n_new_alias_files"] == 0
    assert stats[1]["n_delta_edges"] == 0        # later batches: delta only


def test_incremental_edge_compaction_is_delta_proportional(
    spark, transcripts_pdf, catalog_df, alias_pairs_df, tmp_path
):
    """Edge compaction reads ONLY the epoch's delta triples + the prior
    edge-state snapshot (VERDICT r4 item 3): the final edges' plan scans
    the edge-state parquet, not the accumulated triple history, and the
    merged table equals a full build_edges rebuild over everything."""
    from kg.materialize import build_edges, provenance_edges

    stream_dir = str(tmp_path / "efeed")
    out_dir = str(tmp_path / "eout")
    # 8 files at maxFilesPerTrigger=4 ⇒ exactly 2 micro-batches
    _write_chunks(transcripts_pdf, stream_dir, n_chunks=8)
    res = run_incremental(spark, stream_dir, catalog_df, alias_pairs_df, out_dir)
    assert res["epochs"] == 2 and len(res["edge_stats"]) == 2
    for st in res["edge_stats"]:
        assert st["n_delta_partials"] > 0

    # (a) merged state ≡ full rebuild over the accumulated triples
    triples = spark.read.parquet(
        os.path.join(out_dir, "canonical_triples_stream")
    ).drop("epoch")
    full = build_edges(triples).unionByName(provenance_edges(spark))
    assert _edges_key(res["edges"]).equals(_edges_key(full))

    # (b) the returned edges read the edge STATE, never the triple history
    files = res["edges"].inputFiles()
    assert files and all("edge_state_stream" in f for f in files)
    assert not any("canonical_triples_stream" in f for f in files)

    # (c) a later drain with one new file merges just that delta: state
    # grows, and the epoch-3 merge input is the delta + prior snapshot
    late = transcripts_pdf.copy()
    late["conv_id"] = late["conv_id"] + "-late"
    late[late["conv_id"] < "conv-000005-late"].to_parquet(
        os.path.join(stream_dir, "late.parquet"), index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    res2 = run_incremental(spark, stream_dir, catalog_df, alias_pairs_df, out_dir)
    assert res2["epochs"] == 1 and len(res2["edge_stats"]) == 1
    triples2 = spark.read.parquet(
        os.path.join(out_dir, "canonical_triples_stream")
    ).drop("epoch")
    full2 = build_edges(triples2).unionByName(provenance_edges(spark))
    assert _edges_key(res2["edges"]).equals(_edges_key(full2))
    # the new epoch's delta is far smaller than the accumulated state
    st = res2["edge_stats"][0]
    assert 0 < st["n_delta_partials"] < st["n_state_edges"]


def test_incremental_composes_alias_delta_with_new_transcripts(spark, tmp_path):
    """r6 (VERDICT r5 item 6): one drain that delivers BOTH a new alias
    file and new transcripts must compose the contracted-delta CC update
    with the edge-partial merge: the epoch's alias work reads only the
    NEW alias file (delta-sized cc_stats), the epoch's edge work reads
    only the epoch's triples + prior snapshot, and the final edges equal
    the batch oracle over everything."""
    import datetime as dt

    def _t(conv, idx, text):
        return (conv, idx, "user", text, None, dt.datetime(2025, 1, 1))

    tcols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    def _write_turns(rows, path):
        pdf = pd.DataFrame(rows, columns=tcols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["tool"] = pdf["tool"].astype("string")
        pdf.to_parquet(path, index=False, coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        return rows

    feed = tmp_path / "cfeed"; feed.mkdir()
    adir = tmp_path / "caliases"; adir.mkdir()
    out = str(tmp_path / "cout")
    catalog = spark.createDataFrame(
        [], "entity_id string, canonical_name string, aliases array<string>, "
            "blocking_key string, prefix string, entity_type string, freq_hint double",
    )
    all_turns = []
    all_pairs = [("new:p", "new:q", "seed")]
    all_turns += _write_turns(
        [_t("c1", 0, "link [[A]] and [[B]] here")], str(feed / "b1.parquet"))
    pd.DataFrame(all_pairs, columns=["src", "dst", "kind"]).to_parquet(
        str(adir / "a1.parquet"), index=False)
    run_incremental(spark, str(feed), catalog, str(adir), out)

    # BOTH arrive before the second drain: transcripts mentioning C1/C2/D
    # and the alias pair that merges C1 and C2 (entities unseen in epoch 1,
    # so the full-rebuild comparison is exact).  The new transcripts span
    # 5 files (maxFilesPerTrigger=4 => 2 micro-batches), so the drain has
    # one epoch that pays the alias catch-up and one that must do ZERO
    # alias work while still composing through the updated mapping.
    all_turns += _write_turns(
        [_t("c2", 0, "now [[C1]] visits [[C2]]")], str(feed / "b2.parquet"))
    for i in range(3):
        all_turns += _write_turns(
            [_t(f"cx{i}", 0, f"filler [[F{i}]] next [[G{i}]]")],
            str(feed / f"b3_{i}.parquet"))
    all_turns += _write_turns(
        [_t("c3", 0, "and [[C2]] meets [[D]]")], str(feed / "b4.parquet"))
    new_pairs = [("new:c1", "new:c2", "alias")]
    all_pairs += new_pairs
    pd.DataFrame(new_pairs, columns=["src", "dst", "kind"]).to_parquet(
        str(adir / "a2.parquet"), index=False)

    second = run_incremental(spark, str(feed), catalog, str(adir), out)
    # first epoch of the restarted drain pays the alias catch-up once
    # (seen-file tracking is per drain); the NEXT epoch does zero alias
    # work — delta-proportional within the drain — while its triples
    # still canonicalize through the composed mapping
    assert second["epochs"] == 2 and len(second["cc_stats"]) == 2
    assert second["cc_stats"][0]["n_new_alias_files"] == 2
    assert second["cc_stats"][1]["n_new_alias_files"] == 0
    assert second["cc_stats"][1]["n_delta_edges"] == 0
    # edge work per epoch = the epoch's partials merged into state
    assert all(0 < est["n_delta_partials"] for est in second["edge_stats"])
    files = second["edges"].inputFiles()
    assert files and all("edge_state_stream" in f for f in files)
    assert not any("canonical_triples_stream" in f for f in files)

    # composed result == the oracle over all transcripts + aliases
    got = _edges_key(second["edges"])
    assert got.equals(_oracle_key(
        got,
        pd.DataFrame(all_turns, columns=tcols),
        catalog.toPandas(),
        pd.DataFrame(all_pairs, columns=["src", "dst", "kind"]),
    ))
    # the C1/C2 merge actually happened through the composed mapping
    merged = {(r["src"], r["dst"]) for r in second["edges"].collect()
              if r["rel_type"] == "co_occurs_with"}
    assert ("new:c1", "new:d") in merged


def test_incremental_stats_are_exact(
    spark, transcripts_pdf, catalog_df, alias_pairs_pdf, tmp_path
):
    """After two refreshes, each epoch's statistics equal counts taken by
    reading back what that epoch wrote and read."""
    from kg.materialize import edge_partials

    feed = tmp_path / "sfeed"
    adir = tmp_path / "saliases"
    feed.mkdir()
    adir.mkdir()
    out = str(tmp_path / "sout")
    convs = sorted(transcripts_pdf["conv_id"].unique())
    alias_files = []
    stats = []
    for k, lo in enumerate((0, 30)):
        transcripts_pdf[transcripts_pdf["conv_id"].isin(convs[lo:lo + 30])].to_parquet(
            str(feed / f"r{k}.parquet"), index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True)
        path = str(adir / f"a{k}.parquet")
        alias_pairs_pdf.iloc[k * 100:(k + 1) * 100].to_parquet(path, index=False)
        alias_files.append(path)
        res = run_incremental(spark, str(feed), catalog_df, str(adir), out)
        assert res["epochs"] == 1
        stats.append((res["edge_stats"][0], res["cc_stats"][0], list(alias_files)))

    for est, cst, files in stats:
        epoch = est["epoch"]
        assert cst["epoch"] == epoch
        state = spark.read.parquet(os.path.join(out, "edge_state_stream", f"epoch={epoch}"))
        assert est["n_state_edges"] == state.count()
        triples = spark.read.parquet(
            os.path.join(out, "canonical_triples_stream", f"epoch={epoch}"))
        assert est["n_delta_partials"] == edge_partials(triples).count()
        # each call reads every alias file present at its start
        assert cst["n_new_alias_files"] == len(files)
        assert cst["n_delta_edges"] == spark.read.parquet(*files).count()
    assert stats[0][0]["n_state_edges"] < stats[1][0]["n_state_edges"]


def test_incremental_mention_free_refresh(
    spark, transcripts_pdf, catalog_pdf, catalog_df, alias_pairs_pdf, alias_pairs_df,
    tmp_path,
):
    """A micro-batch whose turns yield no triples writes no epoch
    directory of triples; its edge delta is empty, the stream goes on,
    and the edges after the next refresh equal the oracle's."""
    feed = tmp_path / "qfeed"
    feed.mkdir()
    out = str(tmp_path / "qout")
    convs = sorted(transcripts_pdf["conv_id"].unique())
    quiet = transcripts_pdf.head(2).copy()
    quiet["conv_id"] = "conv-quiet"
    quiet["role"] = "user"
    quiet["text"] = "nothing to link here"
    quiet["tool"] = pd.array([None] * len(quiet), dtype="string")
    parts = [
        transcripts_pdf[transcripts_pdf["conv_id"].isin(convs[:30])],
        quiet,
        transcripts_pdf[transcripts_pdf["conv_id"].isin(convs[30:])],
    ]
    for k, part in enumerate(parts):
        part.to_parquet(str(feed / f"r{k}.parquet"), index=False,
                        coerce_timestamps="us", allow_truncated_timestamps=True)
        res = run_incremental(spark, str(feed), catalog_df, alias_pairs_df, out)
        assert res["epochs"] == 1
    epoch = res["edge_stats"][0]["epoch"]
    assert not os.path.exists(
        os.path.join(out, "canonical_triples_stream", f"epoch={epoch - 1}"))

    got = _edges_key(res["edges"])
    assert got.equals(
        _oracle_key(got, pd.concat(parts, ignore_index=True), catalog_pdf, alias_pairs_pdf))


def test_incremental_driver_tables_are_local_relations(
    spark, transcripts_pdf, catalog_df, tmp_path, monkeypatch
):
    """The incremental path's driver-built tables reach the JVM as
    LocalRelations: the empty mapping used before any alias file lands,
    and the empty edge table of a drain with no input."""
    import kg.streaming

    def kind(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()

    empty = tmp_path / "empty"
    empty.mkdir()
    res = run_incremental(spark, str(empty), catalog_df, str(empty), str(tmp_path / "o1"))
    assert res["epochs"] == 0 and kind(res["edges"]) == "LocalRelation"

    mappings = []
    real = kg.streaming.apply_canonical_map

    def spy(linked, mapping):
        mappings.append(kind(mapping))
        return real(linked, mapping)

    monkeypatch.setattr(kg.streaming, "apply_canonical_map", spy)
    feed = tmp_path / "feed"
    _write_chunks(transcripts_pdf.head(20), str(feed), n_chunks=1)
    res = run_incremental(spark, str(feed), catalog_df, str(empty), str(tmp_path / "o2"))
    assert res["epochs"] == 1 and mappings == ["LocalRelation"]
