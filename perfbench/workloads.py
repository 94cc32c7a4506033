"""The benchmark's workloads: inputs, the timed operation, its correctness
check and the traced (per-layer) form of the operation.

Each workload object is created per run with its generated inputs and
lives for one Spark session:

- ``op()`` runs one timed operation (a build or a refresh) and returns its
  wall time; ``check()`` then verifies that operation's output (untimed).
- ``traced_op(tracer)`` runs the same work as calls into the layers'
  public functions, each inside a span, and returns its wall time and
  per-layer values.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

import gen

# one setting for every workload: batch-large is above it (JVM
# extract_triples_sql path), each incremental delta below it (mapInPandas
# path).  The library default (2M turns) cannot be crossed by
# an input that builds within one run on a small host.
EXTRACT_GATE_TURNS = 20_000

EDGE_KEY = ["src", "dst", "rel_type", "stoichiometry", "order"]


def sort_edges(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf[EDGE_KEY].copy()
    out["stoichiometry"] = out["stoichiometry"].astype("int64")
    out["order"] = out["order"].astype("int64")
    return out.sort_values(["src", "rel_type", "dst"], kind="mergesort").reset_index(drop=True)


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def _cached(path: str, make) -> None:
    """Build a cache directory once: ``make(tmp)`` fills a temporary
    directory that is renamed into place only when complete."""
    if os.path.isdir(path):
        return
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    os.replace(tmp, path)


def _oracle(transcripts, catalog, alias_pairs) -> pd.DataFrame:
    from kg.oracle import oracle_edges

    return sort_edges(oracle_edges(transcripts, catalog, alias_pairs))


class BatchLarge:
    """``run_pipeline_materialized`` into a fresh directory per build: JVM
    extract path, every stage written to parquet, QA over the written
    tables."""

    name = "batch-large"
    inputs = {"convs": 3500, "entities": 20000}

    def __init__(self, cache_dir: str, work_dir: str, seed: int):
        self.dir = os.path.join(cache_dir, f"{self.name}-{seed}")
        self.work = work_dir
        _cached(self.dir, lambda d: self._generate(d, seed))
        with open(os.path.join(self.dir, "meta.json")) as f:
            self.meta = json.load(f)
        self.expected = pd.read_parquet(os.path.join(self.dir, "oracle_edges.parquet"))
        self.triples = int(self.expected["stoichiometry"].sum())
        self.failures: list[str] = []

    def _generate(self, d: str, seed: int) -> None:
        rng = np.random.default_rng(seed)
        spec = self.inputs
        cat = gen.catalog(spec["entities"], rng)
        surfaces, probs = gen.alias_pool(cat, np.arange(spec["entities"]))
        tr = gen.transcripts(spec["convs"], surfaces, probs, rng)
        ap = gen.alias_pairs(self._alias(rng))
        for name, df in (("transcripts", tr), ("entity_catalog", cat), ("alias_pairs", ap)):
            gen.write_parquet(df, os.path.join(d, f"{name}.parquet"))
        gen.write_parquet(_oracle(tr, cat, ap), os.path.join(d, "oracle_edges.parquet"))
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump({"convs": spec["convs"], "turns": len(tr), "entities": len(cat),
                       "alias_edges": len(ap)}, f)

    def _alias(self, rng) -> list:
        ids = np.array([gen.eid(i) for i in range(60, self.inputs["entities"])], dtype=object)
        return gen.fixture_pairs() + gen.group_pairs(ids, rng, "variantOf")

    def open(self, spark) -> None:
        from kg.schema import ALIAS_PAIRS_SCHEMA, CATALOG_SCHEMA, TRANSCRIPTS_SCHEMA

        self.spark = spark
        read = lambda n, s: spark.read.schema(s).parquet(os.path.join(self.dir, f"{n}.parquet"))  # noqa: E731
        self.tr = read("transcripts", TRANSCRIPTS_SCHEMA)
        self.cat = read("entity_catalog", CATALOG_SCHEMA)
        self.ap = read("alias_pairs", ALIAS_PAIRS_SCHEMA)

    def fail(self, why: str) -> None:
        self.failures.append(why)

    def check_edges(self, edges_pdf: pd.DataFrame) -> bool:
        if not sort_edges(edges_pdf).equals(self.expected):
            self.fail("edges differ from kg.oracle.oracle_edges")
            return False
        return True

    def check_qa(self, qa: dict) -> bool:
        if any(v != 0 for v in qa.values()):
            self.fail(f"nonzero QA counts {qa}")
            return False
        return True

    def finish(self, counter, warm: list[float]) -> dict:
        """After the warm builds: one resume over the last complete output
        directory, and the rates at the median build time."""
        build_s = statistics.median(warm)
        return {"resume_s": counter.run(self.resume, self.check),
                "triples_per_s": self.triples / build_s,
                "ingest_turns_per_s": self.meta["turns"] / build_s}

    def can_continue(self) -> bool:
        return True

    def _fresh_out(self) -> str:
        out = os.path.join(self.work, "kg-out")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def op(self) -> float:
        from kg.pipeline import run_pipeline_materialized

        out = self._fresh_out()
        t0 = time.monotonic()
        self._res = run_pipeline_materialized(self.spark, self.tr, self.cat, self.ap, out)
        return time.monotonic() - t0

    def check(self) -> bool:
        ok = self.check_qa(self._res["qa"])
        return self.check_edges(self._res["edges"].toPandas()) and ok

    def resume(self) -> float:
        """Rerun over the complete output directory the last op left."""
        from kg.pipeline import run_pipeline_materialized

        out = os.path.join(self.work, "kg-out")
        t0 = time.monotonic()
        self._res = run_pipeline_materialized(self.spark, self.tr, self.cat, self.ap, out)
        wall = time.monotonic() - t0
        if not all(m.get("resumed") for m in self._res["manifests"].values()):
            self.fail("resume rebuilt a complete stage")
        return wall

    def traced_op(self, tr) -> tuple[float, dict]:
        """run_pipeline_materialized's composition: one span per layer
        around the stage's build and its ``kg.lineage.write_stage``.
        ``lineage.write_s`` is the part of those spans that write_stage
        spends after the parquet write its manifest times (``wall_sec``):
        read-back, per-partition row counts, manifest."""
        from kg.canonicalize import apply_canonical_map, connected_components
        from kg.extract import extract_triples
        from kg.lineage import read_stage, write_stage
        from kg.link import link_triples, link_vocab
        from kg.materialize import (build_edges, build_nodes, discarded_catalog_entities,
                                    input_snapshot_checksum, provenance_edges,
                                    top_level_component_ids)
        from kg.pipeline import run_qa

        spark = self.spark
        out = self._fresh_out()
        manifests: dict[str, dict] = {}
        lineage_s = 0.0

        def stage(layer: str, name: str, build, cluster_by=None):
            nonlocal lineage_s
            with tr.span(layer):
                df = build()
                t0 = time.monotonic()
                m = write_stage(df, out, name, snap, cluster_by=cluster_by)
                lineage_s += time.monotonic() - t0 - m["wall_sec"]
            manifests[name] = m
            return read_stage(spark, out, name)

        with tr.span("build") as b:
            with tr.span("lineage.checksum"):
                snap = "xxh64:" + "-".join(
                    input_snapshot_checksum(spark, df).removeprefix("xxh64:")
                    for df in (self.tr, self.cat, self.ap))
            raw = stage("extract", "raw_triples", lambda: extract_triples(self.tr))
            vocab = link_vocab(raw, self.cat)
            linked = stage("link", "linked_triples",
                           lambda: link_triples(raw, self.cat, surface_map=vocab))
            mapping = stage("canonicalize.cc", "mapping",
                            lambda: connected_components(self.ap))
            canonical = stage("canonicalize.apply", "canonical_triples",
                              lambda: apply_canonical_map(linked, mapping))
            nodes = stage("materialize.nodes", "nodes", lambda: build_nodes(
                canonical, self.cat, mapping, snap,
                top_level_ids=top_level_component_ids(mapping),
                db_info={"name": "kg-pipeline", "checksum": snap,
                         "engine": f"spark-{spark.version}"}), ["canonical_id"])
            edges = stage("materialize.edges", "edges", lambda: build_edges(canonical)
                          .unionByName(provenance_edges(spark)), ["src"])
            with tr.span("materialize.qa"):
                qa = run_qa(nodes, edges)
                discarded_catalog_entities(self.cat, mapping).count()
        wall = b["end"] - b["start"]
        self.check_qa(qa)
        self.check_edges(edges.toPandas())
        n_bytes, n_files = dir_size(out)
        vocab = vocab.persist()
        n_vocab = vocab.count()
        values = {
            "extract.turns_in": self.meta["turns"],
            "extract.triples_out": manifests["raw_triples"]["rows"],
            "link.vocab_rows": n_vocab,
            "link.minted_share": vocab.where("is_minted").count() / n_vocab,
            "canonicalize.alias_edges": self.meta["alias_edges"],
            "canonicalize.mapping_rows": manifests["mapping"]["rows"],
            "materialize.edges_out": manifests["edges"]["rows"],
            "materialize.nodes_out": manifests["nodes"]["rows"],
            "lineage.write_s": lineage_s,
            "lineage.bytes_written_mb": n_bytes / 2**20,
            "lineage.files_written": n_files,
        }
        vocab.unpersist()
        return wall, values


class Incremental:
    """A sequence of refreshes on one output directory.  Refresh k lands 4
    transcript files and one alias-pair file, then calls
    ``run_incremental(..., alias_pairs=<dir>)``.

    Alias file k merges only entities of block k, and block k is first
    mentioned by refresh k's transcripts, so every refresh links against
    the mapping a batch build over the same files would use; the final
    edge table must therefore equal the batch oracle over every file
    landed."""

    name = "incremental"
    inputs = {"convs_per_refresh": 400, "files_per_refresh": 4, "refreshes": 6,
              "entities": 2000, "block": 80}

    def __init__(self, cache_dir: str, work_dir: str, seed: int):
        self.dir = os.path.join(cache_dir, f"{self.name}-{seed}")
        self.work = work_dir
        _cached(self.dir, lambda d: self._generate(d, seed))
        with open(os.path.join(self.dir, "meta.json")) as f:
            self.meta = json.load(f)
        self.failures: list[str] = []
        self._oracle: dict[tuple, pd.DataFrame] = {}
        self.landed = 0
        self.feed = os.path.join(work_dir, "feed")
        self.alias_dir = os.path.join(work_dir, "alias")
        self.out = os.path.join(work_dir, "kg-inc-out")
        for d in (self.feed, self.alias_dir, self.out):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)

    def _generate(self, d: str, seed: int) -> None:
        spec = self.inputs
        rng = np.random.default_rng(seed)
        cat = gen.catalog(spec["entities"], rng)
        gen.write_parquet(cat, os.path.join(d, "entity_catalog.parquet"))
        blocks_end = spec["block"] * spec["refreshes"]
        base = np.arange(blocks_end, spec["entities"])
        turns = []
        for k in range(spec["refreshes"]):
            block = np.arange(spec["block"] * k, spec["block"] * (k + 1))
            pairs = gen.group_pairs(
                np.array([gen.eid(int(i)) for i in block if i >= 60], dtype=object),
                rng, "variantOf")
            if k == 0:
                pairs = gen.fixture_pairs() + pairs
            gen.write_parquet(gen.alias_pairs(pairs), os.path.join(d, f"alias-{k:03d}.parquet"))
            pool = np.concatenate([np.arange(spec["block"] * (k + 1)), base])
            surfaces, probs = gen.alias_pool(cat, pool)
            n = spec["convs_per_refresh"]
            tr = gen.transcripts(n, surfaces, probs, rng, conv_offset=k * n)
            turns.append(len(tr))
            cut = np.linspace(0, n, spec["files_per_refresh"] + 1).astype(int)
            convs = tr["conv_id"].unique()
            for j in range(spec["files_per_refresh"]):
                part = tr[tr["conv_id"].isin(convs[cut[j]:cut[j + 1]])]
                gen.write_parquet(part, os.path.join(d, f"tr-{k:03d}-{j}.parquet"))
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump({**spec, "turns_per_refresh": turns, "entities": len(cat)}, f)

    def open(self, spark) -> None:
        from kg.schema import CATALOG_SCHEMA

        self.spark = spark
        self.cat = spark.read.schema(CATALOG_SCHEMA).parquet(
            os.path.join(self.dir, "entity_catalog.parquet"))

    def fail(self, why: str) -> None:
        self.failures.append(why)

    def _land(self) -> None:
        k = self.landed
        if k >= self.inputs["refreshes"]:
            raise RuntimeError("no generated refresh left to land")
        for j in range(self.inputs["files_per_refresh"]):
            name = f"tr-{k:03d}-{j}.parquet"
            shutil.copyfile(os.path.join(self.dir, name), os.path.join(self.feed, name))
        name = f"alias-{k:03d}.parquet"
        shutil.copyfile(os.path.join(self.dir, name), os.path.join(self.alias_dir, name))
        self.landed += 1

    def op(self) -> float:
        from kg.streaming import run_incremental

        t0 = time.monotonic()
        self._land()
        self._res = run_incremental(self.spark, self.feed, self.cat, self.alias_dir, self.out)
        return time.monotonic() - t0

    def check(self) -> bool:
        if self._res["epochs"] != 1:
            self.fail(f"refresh ran {self._res['epochs']} epochs, expected 1")
            return False
        return True

    def can_continue(self) -> bool:
        return self.landed < self.inputs["refreshes"]

    def expected(self, refreshes: range) -> pd.DataFrame:
        """Oracle edges over the transcripts of ``refreshes`` and every
        alias file landed up to the last of them."""
        key = (refreshes.start, refreshes.stop)
        if key in self._oracle:
            return self._oracle[key]
        read = lambda n: pd.read_parquet(os.path.join(self.dir, n))  # noqa: E731
        tr = pd.concat([read(f"tr-{k:03d}-{j}.parquet") for k in refreshes
                        for j in range(self.inputs["files_per_refresh"])], ignore_index=True)
        ap = pd.concat([read(f"alias-{k:03d}.parquet") for k in range(refreshes.stop)],
                       ignore_index=True)
        self._oracle[key] = _oracle(tr, read("entity_catalog.parquet"), ap)
        return self._oracle[key]

    def check_final(self) -> bool:
        """The last refresh's edge table against the batch oracle over all
        landed files."""
        want = self.expected(range(self.landed))
        if not sort_edges(self._res["edges"].toPandas()).equals(want):
            self.fail("final incremental edges differ from kg.oracle.oracle_edges")
            return False
        return True

    def finish(self, counter, warm: list[float]) -> dict:
        """Check the last refresh's edge table against the batch oracle over
        every landed file; rates over the warm refreshes (all but the
        first): the triples they added (oracle Σ stoichiometry, additive
        over refreshes here) and the turns they landed, per second of
        refresh."""
        if not self.check_final():
            counter.fail_last()
        total = int(self.expected(range(self.landed))["stoichiometry"].sum())
        before = int(self.expected(range(1))["stoichiometry"].sum())
        turns = sum(self.meta["turns_per_refresh"][1:self.landed])
        return {"refresh_s": statistics.median(warm),
                "triples_per_s": (total - before) / sum(warm),
                "ingest_turns_per_s": turns / sum(warm)}

    def traced_op(self, tr) -> tuple[float, dict]:
        """One refresh inside a span; the layers it passes through run
        inside run_incremental, so only the streaming counters are read."""
        from kg.streaming import run_incremental

        with tr.span("build") as b:
            self._land()
            with tr.span("streaming.refresh"):
                self._res = run_incremental(self.spark, self.feed, self.cat,
                                            self.alias_dir, self.out)
        self.check()
        state = os.path.join(self.out, "edge_state_stream")
        last = max(os.listdir(state), key=lambda d: int(d.split("=", 1)[1]))
        values = {
            "streaming.epochs": self._res["epochs"],
            "streaming.delta_alias_edges": sum(c["n_delta_edges"] for c in self._res["cc_stats"]),
            "streaming.state_edges": self._res["edge_stats"][-1]["n_state_edges"],
            "streaming.state_mb": dir_size(os.path.join(state, last))[0] / 2**20,
        }
        return b["end"] - b["start"], values


WORKLOADS = {w.name: w for w in (BatchLarge, Incremental)}
