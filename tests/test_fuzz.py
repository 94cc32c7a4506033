"""Property-based fuzz: the extractors (kg/extract — the pandas block
extractor and the pure-JVM SQL plan) and the oracle (kg/oracle) are
INDEPENDENT implementations of rules R1/R2/R3 — hypothesis hammers them
with adversarial conversations (unicode, nested brackets, blanks,
adjacent mentions, shuffled row order)."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings, strategies as st

from kg.extract import extract_conversation, extract_triples_sql
from kg.oracle import oracle_extract
from kg.schema import RAW_TRIPLES_SCHEMA

TRIPLE_COLS = [f.name for f in RAW_TRIPLES_SCHEMA.fields]

surface = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="]"),
    min_size=0, max_size=8,
)
plain = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="[]"),
    min_size=0, max_size=10,
)


@st.composite
def turn_text(draw):
    parts = draw(st.lists(
        st.one_of(plain, surface.map(lambda s: f"[[{s}]]")), min_size=0, max_size=5))
    return "".join(parts)


@st.composite
def conversation(draw):
    n = draw(st.integers(1, 8))
    rows = []
    for t in range(n):
        role = draw(st.sampled_from(["user", "assistant", "tool"]))
        tool = draw(st.sampled_from(["search", "calc", None])) if role == "tool" else None
        text = draw(st.one_of(st.none(), turn_text()))
        rows.append(("cfuzz", t, role, text, tool))
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])


@settings(max_examples=150, deadline=None, derandomize=True)
@given(conversation(), st.randoms())
def test_extractor_matches_oracle(pdf, rnd):
    # shuffle rows: extraction must be order-stable under (conv_id, turn_idx)
    shuffled = pdf.sample(frac=1.0, random_state=rnd.randint(0, 10**6))
    got = extract_conversation(shuffled)
    exp = pd.DataFrame(oracle_extract(pdf), columns=TRIPLE_COLS)
    a = sorted(map(tuple, got[TRIPLE_COLS].values.tolist()))
    b = sorted(map(tuple, exp[TRIPLE_COLS].values.tolist()))
    assert a == b


@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.lists(conversation(), min_size=1, max_size=25))
def test_sql_extractor_matches_oracle(spark, convs):
    """The JVM extract path (batch-large and every build above the size
    gate) on many fuzzed conversations per Spark job, one conv_id each."""
    pdf = pd.concat(
        [c.assign(conv_id=f"c{i:02d}") for i, c in enumerate(convs)],
        ignore_index=True,
    )
    df = spark.createDataFrame(
        pdf, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    got = sorted(tuple(r) for r in extract_triples_sql(df).select(*TRIPLE_COLS).collect())
    assert got == sorted(oracle_extract(pdf))


def test_asof_join_matches_pandas_merge_asof(spark):
    """kg.ops.asof.asof_join vs pandas.merge_asof (independent
    implementation): 60 random users with duplicate/tied timestamps on
    both sides, one Spark call, compared row-for-row."""
    import numpy as np

    from kg.ops.asof import asof_join

    rng = np.random.RandomState(1234)
    base = pd.Timestamp("2024-01-01")
    lrows, rrows = [], []
    eid = 0
    for u in range(60):
        uid = f"u{u:03d}"
        for _ in range(int(rng.randint(1, 12))):
            lrows.append((eid, uid, base + pd.Timedelta(seconds=int(rng.randint(0, 500)))))
            eid += 1
        for _ in range(int(rng.randint(0, 6))):
            # TWO value columns, each independently nullable: a null
            # attribute on the matched right row must come through as
            # null (not a stale older value), and both attributes must
            # come from the SAME right row — the row-level ASOF contract.
            profile = None if rng.rand() < 0.3 else f"p{int(rng.randint(0, 9))}"
            score = None if rng.rand() < 0.3 else float(rng.randint(0, 100))
            rrows.append((uid, base + pd.Timedelta(seconds=int(rng.randint(0, 500))),
                          profile, score))
    left = pd.DataFrame(lrows, columns=["event_id", "user_id", "ts"])
    right = (
        pd.DataFrame(rrows, columns=["user_id", "ts", "profile", "score"])
        .drop_duplicates(["user_id", "ts"], keep="first")  # unique per (by, ts)
    )
    sl = spark.createDataFrame(left)
    sr = spark.createDataFrame(
        right, "user_id string, ts timestamp, profile string, score double"
    )
    got = {
        r["event_id"]: (r["profile"],
                        None if r["score"] is None else float(r["score"]))
        for r in asof_join(sl, sr, by=["user_id"], ts_col="ts").collect()
    }
    exp_df = pd.merge_asof(
        left.sort_values("ts", kind="mergesort"),
        right.sort_values("ts", kind="mergesort"),
        on="ts", by="user_id", direction="backward", allow_exact_matches=True,
    )
    exp = {
        int(r.event_id): (None if pd.isna(r.profile) else r.profile,
                          None if pd.isna(r.score) else float(r.score))
        for r in exp_df.itertuples(index=False)
    }
    assert got == exp
