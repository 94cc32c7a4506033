"""Stage-1 extraction unit tests (SURVEY.md §5: extraction UDF on a
hand-written conversation; SQL ≡ pandas implementations)."""

from __future__ import annotations

import datetime as dt

import pandas as pd

from kg.extract import extract_conversation, extract_triples
from kg.schema import TRANSCRIPTS_SCHEMA

HAND_CONV = pd.DataFrame(
    [
        # turn 0: two mentions → one co_occurs_with
        ("c1", 0, "user", "Compare [[Alpha]] with [[Beta]] now.", None),
        # turn 1: one mention → followed_by from Beta
        ("c1", 1, "assistant", "Sure, [[Gamma]] is related.", None),
        # turn 2: tool turn, one mention → produced_by + followed_by
        ("c1", 2, "tool", "result: [[Alpha]]", "search"),
        # turn 3: no mentions → breaks no chains (prev_last survives)
        ("c1", 3, "user", "thanks", None),
        # turn 4: mention → followed_by from turn-2 Alpha
        ("c1", 4, "assistant", "Also see [[Delta]].", None),
    ],
    columns=["conv_id", "turn_idx", "role", "text", "tool"],
)


def test_hand_conversation_rules():
    out = extract_conversation(HAND_CONV)
    triples = set(zip(out["subj_surface"], out["pred"], out["obj_surface"]))
    assert ("Alpha", "co_occurs_with", "Beta") in triples
    assert ("Beta", "followed_by", "Gamma") in triples
    assert ("Gamma", "followed_by", "Alpha") in triples
    assert ("Alpha", "produced_by", "tool::search") in triples
    # chain skips the mention-less turn 3: Alpha(turn2) → Delta(turn4)
    assert ("Alpha", "followed_by", "Delta") in triples
    assert len(out) == 5


def test_extraction_is_order_stable():
    shuffled = HAND_CONV.sample(frac=1.0, random_state=7)
    assert extract_conversation(shuffled).equals(extract_conversation(HAND_CONV))


def test_spark_extraction_matches_local(spark):
    pdf = HAND_CONV.assign(ts=dt.datetime(2025, 1, 1))
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    got = extract_triples(df).toPandas()
    exp = extract_conversation(HAND_CONV)
    key = ["conv_id", "turn_idx", "span_start", "subj_surface", "pred", "obj_surface"]
    assert sorted(map(tuple, got[key].values.tolist())) == sorted(
        map(tuple, exp[key].values.tolist())
    )


NASTY_TURNS = [
    # (conv_id, turn_idx, role, text, tool)
    ("n1", 0, "user", None, None),                      # null text
    ("n1", 1, "user", "", None),                        # empty text
    ("n1", 2, "user", "[[]] and [[   ]] only blanks", None),
    ("n1", 3, "user", "[[a]][[b]][[c]] adjacent", None),
    ("n1", 4, "tool", "[[x]] empty-string tool", ""),   # R3 must NOT fire
    ("n1", 5, "tool", "[[y]] null tool", None),         # R3 must NOT fire
    ("n1", 6, "tool", "[[z]] real tool", "calc"),       # R3 fires
    ("n1", 7, "user", "x[[a[[b]]y]] nested open", None),
    ("n1", 8, "user", "]] stray [[q]] closers [[", None),
    ("n1", 9, "user", "[[α βγ]] unicode [[δ]]", None),
    ("n1", 10, "user", "[[a\nb]] dot excludes newline [[ok]]", None),
    ("n1", 11, "user", "[[\t]] tab-only surface is blank [[keep]]", None),
    ("n1", 12, "user", "[[x\ry]] carriage return is NOT a '.'-stopper [[cr2]]", None),
    ("n1", 13, "user", "[[ \t\x0b\f ]] all-ascii-ws blank then [[real]]", None),
    ("n2", 5, "user", "late start [[first]]", None),    # conv starts mid-index
    ("n2", 9, "user", "gap then [[second]] [[third]]", None),
    ("n3", 0, "user", "[[solo]]", None),                # single-mention conv
]


def _nasty_df(spark):
    pdf = pd.DataFrame(
        NASTY_TURNS, columns=["conv_id", "turn_idx", "role", "text", "tool"]
    ).assign(ts=dt.datetime(2025, 1, 1))
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)


def test_sql_equals_pandas_adversarial(spark):
    """The pure-JVM path must agree with the pandas path on blank
    surfaces, empty/null tool, nested/stray brackets, unicode, newlines,
    turn-index gaps — byte-for-byte including char spans."""
    from kg.extract import extract_triples_pandas, extract_triples_sql

    df = _nasty_df(spark)
    cols = ["conv_id", "turn_idx", "span_start", "subj_surface", "pred", "obj_surface"]
    got_sql = sorted(map(tuple, extract_triples_sql(df).select(*cols).collect()))
    got_pd = sorted(map(tuple, extract_triples_pandas(df).select(*cols).collect()))
    assert got_sql == got_pd
    trip = {(s, p, o) for (_, _, _, s, p, o) in got_sql}
    assert ("z", "produced_by", "tool::calc") in trip
    assert not any(p == "produced_by" and s in ("x", "y") for s, p, _o in trip)
    # spans: regex is non-greedy and '.' excludes newline
    assert ("a[[b", "co_occurs_with", "q") not in trip  # different turns
    assert ("first", "followed_by", "second") in trip
    # ADVICE r3: tab-only / all-ascii-ws surfaces are blank in BOTH paths
    assert not any(s.strip(" \t\n\r\f\x0b") == "" for s, _p, _o in trip)
    assert not any(o.strip(" \t\n\r\f\x0b") == "" for _s, _p, o in trip)
    # ADVICE r3: '\r' inside a mention survives the SQL path's Java regex
    assert ("x\ry", "co_occurs_with", "cr2") in trip


def test_sql_equals_pandas_on_corpus(spark, transcripts_df):
    """Full-corpus equivalence of the two extraction implementations."""
    from kg.extract import extract_triples_pandas, extract_triples_sql

    cols = ["conv_id", "turn_idx", "span_start", "subj_surface", "pred", "obj_surface"]
    a = sorted(map(tuple, extract_triples_sql(transcripts_df).select(*cols).collect()))
    b = sorted(map(tuple, extract_triples_pandas(transcripts_df).select(*cols).collect()))
    assert a == b
    assert len(a) > 0


def test_sql_path_is_pure_jvm_one_exchange(spark):
    """Plan shape: no Python evaluation node anywhere, exactly one shuffle
    (the conv_id window for rule R2)."""
    from kg.extract import extract_triples_sql

    df = extract_triples_sql(_nasty_df(spark))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "MapInPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_auto_impl_dispatches_on_size(spark, transcripts_df):
    """pandas under the turn threshold, sql above (bounded probe)."""
    from kg.extract import extract_triples

    def plan(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    spark.conf.set("spark.kg.extract.autoThresholdTurns", "1000000000")
    assert "MapInPandas" in plan(extract_triples(transcripts_df))
    spark.conf.set("spark.kg.extract.autoThresholdTurns", "1")
    assert "MapInPandas" not in plan(extract_triples(transcripts_df))
    spark.conf.unset("spark.kg.extract.autoThresholdTurns")
