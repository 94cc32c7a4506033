"""Seeded input generator for the benchmark workloads.

Same table shapes as ``kg.synth`` (transcripts / entity_catalog /
alias_pairs, see FIXTURES.md), but every random draw is made in bulk:
``kg.synth.synth_transcripts`` calls ``rng.choice(p=...)`` once per
mention, which is linear in the alias pool per call and took minutes for a
corpus of a few million turns.  Here the whole corpus's mention picks are
one ``rng.choice`` call.

The generator only writes parquet; the pipeline under test receives the
files, never the generator's objects.  Everything derives from
``numpy.random.default_rng(seed)``, so one seed always yields the same
files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_ADJ = [
    "quantum", "rapid", "stable", "hidden", "formal", "linear", "sparse",
    "dense", "atomic", "lazy", "eager", "mutable", "sealed", "vivid",
    "plain", "solid", "prime", "outer", "inner", "local",
]
_NOUN = [
    "kernel", "lattice", "cache", "tensor", "router", "ledger", "parser",
    "beacon", "cursor", "vector", "socket", "bundle", "matrix", "schema",
    "buffer", "branch", "cipher", "module", "mirror", "portal",
]
_TOOLS = np.array(["search", "calculator", "browser", "compiler", "profiler"], dtype=object)
_TYPES = ["person", "tool", "concept", "org"]
_TEMPLATES_2 = [
    "We compared [[{}]] against [[{}]] in the last run.",
    "Note that [[{}]] depends directly on [[{}]] here.",
    "The report links [[{}]] with [[{}]] for this release.",
    "Results for [[{}]] exceeded those of [[{}]] by a wide margin.",
]
_TEMPLATES_1 = [
    "Let's review [[{}]] before the deadline.",
    "The metrics for [[{}]] look stable.",
    "I re-ran the job for [[{}]] overnight.",
    "Please summarize the findings on [[{}]].",
]
_BASE_TS = np.datetime64("2025-03-01T00:00:00", "us")


def eid(i: int) -> str:
    return f"cat:Q{i:07d}"


def catalog(n_entities: int, rng: np.random.Generator) -> pd.DataFrame:
    """Entity catalog with Zipfian ``freq_hint``, 1-3 aliases per entity,
    and every 37th entity also claiming its predecessor's canonical name
    (an ambiguous surface, resolved to min(entity_id) by linking)."""
    idx = np.arange(n_entities)
    canon = [
        f"{_ADJ[i % 20]} {_NOUN[(i // 20) % 20]} {i}".title() for i in range(n_entities)
    ]
    upper = rng.random(n_entities) < 0.6
    hashed = rng.random(n_entities) < 0.4
    aliases = []
    for i, c in enumerate(canon):
        a = [c]
        if upper[i]:
            a.append(c.upper())
        if hashed[i]:
            a.append(c.split()[0] + f" #{i}")
        if i % 37 == 1:
            a.append(canon[i - 1])
        aliases.append(a)
    prefix = np.where(rng.random(n_entities) < 0.3, None, [f"pfx{i % 7}" for i in idx])
    return pd.DataFrame(
        {
            "entity_id": [eid(i) for i in idx],
            "canonical_name": canon,
            "aliases": aliases,
            "blocking_key": [" ".join(c.lower().split()) for c in canon],
            "prefix": prefix,
            "entity_type": [_TYPES[i % 4] for i in idx],
            "freq_hint": 1.0 / (idx + 1.0) ** 1.1,
        }
    )


def alias_pool(cat: pd.DataFrame, entities: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(surface, probability) over the aliases of the given catalog rows,
    each alias weighted by its entity's ``freq_hint``."""
    sub = cat.iloc[entities]
    lens = sub["aliases"].map(len).to_numpy()
    surfaces = np.array([a for al in sub["aliases"] for a in al], dtype=object)
    w = np.repeat(sub["freq_hint"].to_numpy(), lens)
    return surfaces, w / w.sum()


def fixture_pairs() -> list[tuple[str, str, str]]:
    """The CC unit shapes: chain, star, two disjoint pairs, a symmetric
    duplicate and a self-loop (FIXTURES.md section 3)."""
    return [
        (eid(0), eid(1), "sameAs"), (eid(1), eid(2), "sameAs"), (eid(2), eid(3), "sameAs"),
        (eid(11), eid(10), "sameAs"), (eid(12), eid(10), "sameAs"), (eid(13), eid(10), "sameAs"),
        (eid(20), eid(21), "sameAs"), (eid(30), eid(31), "sameAs"),
        (eid(40), eid(41), "sameAs"), (eid(41), eid(40), "sameAs"),
        (eid(50), eid(50), "sameAs"),
    ]


def group_pairs(ids: np.ndarray, rng: np.random.Generator, kind: str) -> list[tuple[str, str, str]]:
    """Shuffle ``ids`` and join consecutive runs of 2-4 into small stars.
    Components stay small, so the CC fixpoint converges in a few rounds
    whatever the edge count."""
    ids = rng.permutation(ids)
    sizes = rng.integers(2, 5, size=len(ids) // 2 + 1)
    out: list[tuple[str, str, str]] = []
    pos = 0
    for s in sizes:
        grp = ids[pos:pos + s]
        if len(grp) < 2:
            break
        out += [(str(v), str(grp[0]), kind) for v in grp[1:]]
        pos += s
    return out


def alias_pairs(pairs: list[tuple[str, str, str]]) -> pd.DataFrame:
    return pd.DataFrame(pairs, columns=["src", "dst", "kind"])


def transcripts(
    n_convs: int,
    surfaces: np.ndarray,
    probs: np.ndarray,
    rng: np.random.Generator,
    conv_offset: int = 0,
    unknown_rate: float = 0.08,
) -> pd.DataFrame:
    """Multi-turn transcripts with ``[[surface]]`` mentions: 4-11 turns per
    conversation, 1-2 mentions per turn, roles cycling user/assistant/tool,
    ``unknown_rate`` of mentions drawn outside the catalog."""
    turns_per = rng.integers(4, 12, size=n_convs)
    conv = np.repeat(np.arange(n_convs), turns_per)
    starts = np.repeat(np.cumsum(turns_per) - turns_per, turns_per)
    turn = np.arange(len(conv)) - starts
    n_turns = len(conv)
    role_i = turn % 3
    n_m = rng.integers(1, 3, size=n_turns)
    n_mentions = int(n_m.sum())
    picks = surfaces[rng.choice(len(surfaces), size=n_mentions, p=probs)]
    novel = rng.random(n_mentions) < unknown_rate
    picks[novel] = [f"novel thing {k}" for k in rng.integers(0, 5000, size=int(novel.sum()))]
    tmpl = rng.integers(0, 4, size=n_turns)
    first = np.cumsum(n_m) - n_m
    text = [
        _TEMPLATES_2[t].format(picks[f], picks[f + 1]) if m == 2 else _TEMPLATES_1[t].format(picks[f])
        for t, f, m in zip(tmpl, first, n_m)
    ]
    tool = np.where(role_i == 2, _TOOLS[rng.integers(0, 5, size=n_turns)], None)
    gconv = conv + conv_offset
    ts = (
        _BASE_TS
        + gconv.astype("timedelta64[m]").astype("timedelta64[us]")
        + turn.astype("timedelta64[s]").astype("timedelta64[us]")
    )
    return pd.DataFrame(
        {
            "conv_id": [f"conv-{c:08d}" for c in gconv],
            "turn_idx": turn.astype("int32"),
            "role": np.array(["user", "assistant", "tool"], dtype=object)[role_i],
            "text": text,
            "tool": tool,
            "ts": ts,
        }
    )


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """Write ``df`` atomically (tmp + rename), timestamps in microseconds
    (Spark rejects parquet TIMESTAMP(NANOS))."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    if "ts" in df.columns:
        i = table.schema.get_field_index("ts")
        table = table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("us")))
    if "tool" in df.columns:
        i = table.schema.get_field_index("tool")
        table = table.set_column(i, "tool", table.column("tool").cast(pa.string()))
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
