"""Stage 1 — mention detection + triple extraction (SURVEY.md §2.10, §3.1).

Reference analog: the per-instance traversal + attribute-switch dispatch of
ReactomeBatchImporter.java:262-354 and the XML line-scan extraction of
structured references out of semi-structured text
(ReactomeBatchImporter.java:320-331).  Here the "semi-structured text" is
the transcript turn, and the extraction window is the conversation.
Two equivalent implementations, auto-dispatched by size (see
extract_triples): a pure-JVM codegen path (map-side regexp + posexplode,
span/context windows over one conv_id exchange of mention rows) for
large corpora, and a mapInPandas path (N turns in, M triples out,
UDTF-shaped, Arrow-batched — no per-row Python) for small ones.

Extraction rules (replicated exactly by kg/oracle.py — the P/R contract):
  mentions  = ``[[Surface Form]]`` spans, in (turn_idx, span_start) order
  R1 within a turn, consecutive mentions:  (m_i, co_occurs_with, m_{i+1})
  R2 across consecutive turns (sorted order), last mention of turn k →
     first mention of turn k+1:            (m_last, followed_by, m_first)
  R3 tool turns, each mention:             (m, produced_by, tool::<name>)
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kg.schema import RAW_TRIPLES_SCHEMA

MENTION_RE = re.compile(r"\[\[(.*?)\]\]")

# Blankness is defined over ASCII whitespace EXPLICITLY so all three
# engines agree byte-for-byte (ADVICE r3): Java regex \s is ASCII-only
# [ \t\n\x0B\f\r], Python str.strip() strips *Unicode* whitespace, and
# RE2 \s is ASCII again.  The shared rule: a surface is a mention iff it
# contains at least one char outside this set.
ASCII_WS = " \t\n\r\f\x0b"
# Java/RE2 character class for "some non-ASCII-whitespace char exists"
NONBLANK_RE = r"[^ \t\n\x0B\f\r]"
# Whitespace RUN for tokenization/normalization, spelled explicitly in
# BOTH engines (ADVICE r4): Java \s is exactly this class, but RE2's \s
# coverage of \x0B is version-dependent — an implicit '\s+' in a DuckDB
# oracle can disagree with the Spark split on text containing a vertical
# tab.  Valid as-is in Java regex, RE2, and Python re.
ASCII_WS_RE = r"[ \t\n\x0B\f\r]+"
# Java regex: (?d) = UNIX_LINES, so '.' excludes only \n — matching
# Python re and RE2 (default Java '.' excludes \r and U+2028/2029 too,
# silently dropping mentions like [[x\ry]] from the SQL path only).
MENTION_PAT_JAVA = r"(?d)\[\[(.*?)\]\]"
MENTION_SPLIT_JAVA = r"(?d)\[\[.*?\]\]"

PRED_CO_OCCURS = "co_occurs_with"
PRED_FOLLOWED_BY = "followed_by"
PRED_PRODUCED_BY = "produced_by"
TOOL_SURFACE_PREFIX = "tool::"


def _extract_block(pdf: pd.DataFrame) -> pd.DataFrame:
    """Rows sorted by (conv_id, turn_idx), possibly many conversations →
    raw triples.  Tight python row loop over numpy object arrays: the work
    per row is tiny (≈1.3 mentions/turn), so a "vectorized" pandas
    formulation (str.extractall + grouped cumsums for the offsets) is
    actually ~60% SLOWER than this loop — object-dtype str ops are
    per-row C calls plus allocation, measured 5.2s vs 3.2s per 450k turns.
    zip over .to_numpy() avoids itertuples' per-row namedtuple cost
    (~20%); the batch loop amortizes pandas overhead over ~10^4-row Arrow
    batches instead of ~10-row conversation groups."""
    out: list[tuple[str, int, int, str, str, str]] = []
    cur_conv: str | None = None
    prev_last: tuple[int, int, str] | None = None  # (turn_idx, span, surface)
    finditer = MENTION_RE.finditer
    cols = (pdf[c].to_numpy() for c in ("conv_id", "turn_idx", "role", "text", "tool"))
    for conv_id, turn_idx, role, text, tool in zip(*cols):
        if conv_id != cur_conv:
            cur_conv = conv_id
            prev_last = None
        ms = (
            [(m.start(), m.group(1)) for m in finditer(text)
             if m.group(1).strip(ASCII_WS)]
            if text
            else []
        )
        if ms:
            ti = int(turn_idx)
            # R1: consecutive co-mentions within the turn
            for (s1, m1), (_s2, m2) in zip(ms, ms[1:]):
                out.append((cur_conv, ti, s1, m1, PRED_CO_OCCURS, m2))
            # R2: cross-turn chain (prev turn's last mention → this turn's first)
            if prev_last is not None:
                pt, ps, psurf = prev_last
                out.append((cur_conv, pt, ps, psurf, PRED_FOLLOWED_BY, ms[0][1]))
            # R3: tool provenance
            if role == "tool" and tool:
                for s, m in ms:
                    out.append(
                        (cur_conv, ti, s, m, PRED_PRODUCED_BY,
                         TOOL_SURFACE_PREFIX + tool)
                    )
            prev_last = (ti, ms[-1][0], ms[-1][1])
    return pd.DataFrame(
        out,
        columns=["conv_id", "turn_idx", "span_start", "subj_surface", "pred", "obj_surface"],
    )


def extract_conversation(pdf: pd.DataFrame) -> pd.DataFrame:
    """One conversation group in → raw triples out (pure pandas, testable
    without Spark; unit tests drive this directly)."""
    return _extract_block(pdf.sort_values("turn_idx", kind="mergesort"))


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: Arrow batches arrive as contiguous sorted
    slices of a conv-hash partition; a batch boundary may split one
    conversation, so the tail conversation of each batch is carried into
    the next (the partition's final conversation flushes at the end)."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if not len(pdf):
            continue
        last_conv = pdf["conv_id"].iloc[-1]
        tail_mask = pdf["conv_id"].to_numpy() == last_conv
        carry = pdf[tail_mask]
        body = pdf[~tail_mask]
        if len(body):
            yield _extract_block(body)
    if carry is not None and len(carry):
        yield _extract_block(carry)


def extract_triples(transcripts: DataFrame) -> DataFrame:
    """transcripts → raw triples, dispatched on input size.

    Two implementations with identical semantics (equivalence asserted by
    tests/test_extract.py::test_sql_equals_pandas on the synth corpus plus
    adversarial strings):

    - ``extract_triples_sql``: pure JVM built-ins — regexp_extract_all +
      split-parts cumsum for spans, one window for the cross-turn rule,
      one explode.  Whole-stage codegen end to end; no Python worker, so
      each task is ONE runnable thread (the pandas path keeps two: python
      worker + JVM Arrow feeder), which is what capped measured scaling
      at 8→32 cores on a single host (BENCH/BASELINE.md round 2).
    - ``extract_triples_pandas``: the mapInPandas path.

    The dispatch is the same adaptive pattern as connected_components'
    driver/distributed split: a bounded limit-count probe (stops scanning
    at threshold+1 rows, so its cost does not grow with the corpus) picks
    pandas under ``spark.kg.extract.autoThresholdTurns`` (default 2M
    turns) and sql above.  Measured basis (same host, fresh JVMs,
    best-of-3, local[32]): at 224k turns pandas extracts in 1.1s vs sql
    2.3s (the sql plan's extra shuffle+window stages are pure latency
    overhead on tiny inputs, and Python-worker reuse amortizes to
    nothing); at 60M turns sql wins 24.9s vs 33.3s AND scales 8→32 cores
    where the pandas path's 2-threads-per-task structure caps out (0.552
    → 0.693 measured pipeline efficiency, BENCH/BASELINE.md).
    """
    spark = transcripts.sparkSession
    thr = int(spark.conf.get("spark.kg.extract.autoThresholdTurns", "2000000"))
    if _turns_at_most(transcripts, thr):
        return extract_triples_pandas(transcripts)
    return extract_triples_sql(transcripts)


def _turns_at_most(transcripts: DataFrame, thr: int) -> bool:
    """Bounded row-count probe for the auto dispatch — see kg.probes
    (parquet-footer / local-relation fast paths, limit+count fallback)."""
    from kg.probes import rows_at_most

    return rows_at_most(transcripts, thr)


def extract_triples_sql(transcripts: DataFrame) -> DataFrame:
    """Pure-JVM extraction: the same rules R1-R3 (incl. char spans) as the
    pandas path, expressed entirely in Catalyst built-ins.

    Shape — explode-first, the same structure as the DuckDB oracle
    (__spark_entry__.py `mentions`/`r1`/`r2`/`r3` CTEs):

      scan → zip(surfs, parts) + posexplode (MAP-SIDE) →
      exchange on conv_id over mention rows →
      span cumsums (window over (conv, turn) ordered by k) →
      drop blank surfaces → lead/lag windows for R1/R2 → one explode of
      the ≤3 rule outputs per mention.

    ONE exchange and ONE sort (conv, turn, k — shared by all three
    window specs; hash(conv_id) satisfies every spec's clustering).  The
    regexp/split/explode run BEFORE the exchange, on the scan stage, so
    the shuffle carries short mention rows (surface + two lengths + the
    precomputed R3 object), not the raw text — ~2.5× fewer shuffle
    bytes, which is what saturated the single socket's memory bandwidth
    at full host width (measured: text-shuffling variant scaled 84s→56s
    from 8→32 cores; see BENCH/BASELINE.md round 3).  Every expression
    is a plain projection over exploded rows — whole-stage codegen end
    to end, no higher-order-function lambdas (Spark evaluates those
    interpreted, measured ~5× slower than this form at 224k turns), and
    each regexp/split runs exactly once per turn (an earlier array-valued
    formulation let CollapseProject inline the mention array into every
    consumer — 4 regexp evaluations per row).

    Span arithmetic (validated against re.finditer by the round-2 DuckDB
    oracle): for 1-based mention k,
    span = Σ len(parts[1..k]) + Σ len(surfs[1..k-1]) + 4·(k-1), where
    parts = text split on the mention pattern and 4 = len('[[' + ']]').
    Blank surfaces are dropped AFTER span computation (offsets count
    them), matching MENTION_RE.finditer + the strip() filter.
    """
    n = transcripts.sparkSession.sparkContext.defaultParallelism
    pat = MENTION_PAT_JAVA
    txt = F.coalesce(F.col("text"), F.lit(""))
    # R3's object is derivable per-turn — fold role+tool into it here so
    # the shuffle row carries ONE short nullable string instead of two
    is_tool = (
        (F.col("role") == "tool") & F.col("tool").isNotNull() & (F.col("tool") != "")
    )
    t = transcripts.select(
        "conv_id",
        "turn_idx",
        F.when(is_tool, F.concat(F.lit(TOOL_SURFACE_PREFIX), F.col("tool")))
        .alias("_tool_obj"),
        F.regexp_extract_all(txt, F.lit(pat), 1).alias("_surfs"),
        F.split(txt, MENTION_SPLIT_JAVA).alias("_parts"),
    )
    # one row per mention occurrence k (1-based), blanks still included:
    # _m.s = surface k, _m.p = the plain-text part BEFORE mention k.
    # All of the above runs map-side on the scan; the explicit conv_id
    # repartition BELOW is the single exchange, and it moves mention
    # rows, not text.
    m = t.select(
        "conv_id", "turn_idx", "_tool_obj",
        F.posexplode(
            F.arrays_zip(
                F.col("_surfs").alias("s"),
                F.slice("_parts", 1, F.size("_surfs")).alias("p"),
            )
        ).alias("_k0", "_m"),
    ).select(
        "conv_id", "turn_idx", "_tool_obj",
        (F.col("_k0") + 1).alias("k"),
        F.col("_m.s").alias("surface"),
        F.length("_m.p").alias("_plen"),
        F.length("_m.s").alias("_slen"),
    ).repartition(n, "conv_id")
    # span = cumsum(plen)[..k] + cumsum(slen + 4)[..k-1]  (blanks count)
    w_span = (
        Window.partitionBy("conv_id", "turn_idx")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = m.select(
        "conv_id", "turn_idx", "_tool_obj", "k", "surface",
        (
            F.sum("_plen").over(w_span)
            + F.sum(F.col("_slen") + 4).over(w_span)
            - (F.col("_slen") + 4)
        ).cast("int").alias("span_start"),
    ).where(F.col("surface").rlike(NONBLANK_RE))
    # R1/R2 context over the NON-BLANK mentions (matches the regex filter):
    # same (conv, turn, k) sort order for every spec → no extra sort
    w_turn = Window.partitionBy("conv_id", "turn_idx").orderBy("k")
    w_conv = Window.partitionBy("conv_id").orderBy("turn_idx", "k")
    m = m.select(
        "*",
        F.lead("surface").over(w_turn).alias("_next_in_turn"),
        F.lag("surface").over(w_turn).alias("_prev_in_turn"),
        F.lag(F.struct("turn_idx", "span_start", "surface")).over(w_conv).alias("_prev"),
    )

    def _triple(ti: Column, span: Column, subj: Column, pred: str, obj: Column) -> Column:
        return F.struct(
            ti.cast("int").alias("turn_idx"),
            span.cast("int").alias("span_start"),
            subj.alias("subj_surface"),
            F.lit(pred).alias("pred"),
            obj.alias("obj_surface"),
        )

    prev = F.col("_prev")
    r1 = F.when(
        F.col("_next_in_turn").isNotNull(),
        _triple(F.col("turn_idx"), F.col("span_start"), F.col("surface"),
                PRED_CO_OCCURS, F.col("_next_in_turn")),
    )
    # first non-blank mention of its turn ⇔ no in-turn predecessor
    r2 = F.when(
        F.col("_prev_in_turn").isNull() & prev.isNotNull(),
        _triple(prev["turn_idx"], prev["span_start"], prev["surface"],
                PRED_FOLLOWED_BY, F.col("surface")),
    )
    r3 = F.when(
        F.col("_tool_obj").isNotNull(),
        _triple(F.col("turn_idx"), F.col("span_start"), F.col("surface"),
                PRED_PRODUCED_BY, F.col("_tool_obj")),
    )
    # explode + null-filter instead of filter(array(...), lambda): array
    # HOFs evaluate interpreted, while Generate + Filter stay inside
    # whole-stage codegen
    out = m.select(
        "conv_id",
        F.explode(F.array(r1, r2, r3)).alias("_t"),
    ).where(F.col("_t").isNotNull())
    return out.select(
        "conv_id",
        F.col("_t.turn_idx").alias("turn_idx"),
        F.col("_t.span_start").alias("span_start"),
        F.col("_t.subj_surface").alias("subj_surface"),
        F.col("_t.pred").alias("pred"),
        F.col("_t.obj_surface").alias("obj_surface"),
    )


def extract_triples_pandas(transcripts: DataFrame) -> DataFrame:
    """transcripts → raw triples over surface forms (Arrow-vectorized).

    One hash shuffle on conv_id co-locates each conversation, sorted by
    turn_idx within the partition; mapInPandas then streams whole Arrow
    batches (~10^4 rows) through the extractor — versus
    groupBy().applyInPandas, this cuts per-conversation pandas overhead
    ~100× (one pandas frame per batch, not per 8-turn conversation),
    measured 16s → ~4s on 224k turns at local[32].  At 10^12 turns the
    same single exchange holds (conv_id is high-cardinality ⇒ no skew at
    the group level); mega-conversations are bounded by Arrow
    maxRecordsPerBatch + the carry logic (triples look back one turn, so
    a split conversation is stitched exactly).
    """
    n = transcripts.sparkSession.sparkContext.defaultParallelism
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    return (
        transcripts.select(*cols)  # column pruning before the shuffle
        .repartition(n, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .mapInPandas(_extract_batches, schema=RAW_TRIPLES_SCHEMA)
    )


__all__ = [
    "extract_triples",
    "extract_triples_sql",
    "extract_triples_pandas",
    "extract_conversation",
    "MENTION_RE",
    "PRED_CO_OCCURS",
    "PRED_FOLLOWED_BY",
    "PRED_PRODUCED_BY",
    "TOOL_SURFACE_PREFIX",
]
