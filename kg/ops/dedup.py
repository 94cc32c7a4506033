"""Deduplication operators over a document corpus.

All four flavors stay entirely in JVM-side built-ins (whole-stage
codegen; no Python in the hot path):

- exact:          md5 content hash → groupBy (one shuffle, map-combined)
- minhash + LSH:  word-3-shingles → per-band min(md5) signature →
                  band-bucket self-join → candidate pairs
- simhash:        32-bit parity fingerprint from token md5 hex digits
- n-gram Jaccard: blocked shingle self-join → |∩| / |∪|

Scale notes (10^8+ docs): the shingle arrays are computed per-row with
array expressions (no explode until the join that needs it); Jaccard
candidates come from the MinHash band buckets by default (a metadata
block key can be corpus-sized ⇒ quadratic); LSH buckets themselves are
capped at max_bucket_size docs (a 10^6-doc boilerplate bucket is a
10^12-pair self-join) with the dropped buckets auditable via
lsh_oversized_buckets; the exact-dedup groupBy is a single hash shuffle
on a 128-bit key (uniform, no skew).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

N_BANDS = 4
SHINGLE_K = 3


def words(text: Column) -> Column:
    """lower → split on an explicit ASCII-whitespace run → drop empties
    (matches the DuckDB oracle's list_filter(string_split_regex(...));
    the class is spelled out in both engines — ADVICE r4)."""
    from kg.extract import ASCII_WS_RE

    return F.filter(F.split(F.lower(text), ASCII_WS_RE), lambda w: w != "")


def shingles_of(w: Column, k: int = SHINGLE_K) -> Column:
    """Word k-shingles from a WORDS COLUMN (1-based element_at, mirroring
    DuckDB 1-based list indexing so the oracle SQL is a transliteration).

    Takes a materialized column, not the raw text: Catalyst does NOT
    common-subexpression-eliminate inside higher-order functions, so
    inlining words(text) here would re-split the text once per shingle
    element — O(len²) per row (observed 75s vs <1s at sf0.1)."""
    return F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + j) for j in range(k)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(text: Column, k: int = SHINGLE_K) -> Column:
    """Convenience wrapper for tests/small inputs — see shingles_of for
    the hot-path version that avoids re-splitting per element."""
    return shingles_of(words(text), k)


def _fan_out(docs: DataFrame) -> DataFrame:
    """Repartition to full parallelism ONLY when the input is
    under-parallelized (VERDICT r5 item 3 / guide §2.4): a handful of big
    local parquet files yields 1-3 scan tasks and serializes the CPU-bound
    shingle/token map, so the exchange pays for itself — but at 100 TB the
    scan already has ≥ cores splits and the same exchange is a pure
    full-corpus shuffle of raw text.

    The partition probe is only safe (planning-only, no job) when the
    plan below has no exchange; with an upstream exchange in the plan,
    ``df.rdd`` under AQE would EXECUTE those shuffle stages just to count
    partitions, so we skip the repartition instead (the upstream exchange
    already distributed the data across the shuffle partitions)."""
    spark = docs.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        if "Exchange" in docs._jdf.queryExecution().sparkPlan().toString():
            return docs
        n_in = docs.rdd.getNumPartitions()
    except Exception:
        return docs.repartition(target)
    return docs.repartition(target) if n_in < target else docs


def with_shingles(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """docs + materialized `sh` column, fanned out across cores when the
    scan under-parallelizes (see _fan_out)."""
    return (
        _fan_out(docs)
        .withColumn("w", words(F.col("text")))
        .withColumn("sh", shingles_of(F.col("w"), k))
        .drop("w")
    )


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """(content_hash, keeper_doc_id, n_dups) per distinct content.

    The groupBy key travels as the 16-BYTE unhex'd digest and is
    re-hexed only in the output projection (VERDICT r4 item 4): the
    hex string is 32 chars — exactly double the bytes — through the
    one exchange this operator performs, and unlike the rejected
    surrogate-edge encoding the narrowing is free (no dictionary, no
    decode join; lower(hex(unhex(md5))) == md5 bit-for-bit)."""
    return (
        docs.select(
            "doc_id",
            F.unhex(F.md5(F.col("text").cast("binary"))).alias("ch"),
        )
        .groupBy("ch")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_dups"),
        )
        .select(
            F.lower(F.hex("ch")).alias("content_hash"),
            "keeper_doc_id",
            "n_dups",
        )
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Documents with exact duplicates removed (keep min doc_id)."""
    keep = exact_dedup_groups(docs).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi")


def _row_min(b: int, j: int, rows_per_band: int) -> Column:
    """Row-minhash j of band b: min over shingles of md5(i|shingle) for
    the globally-indexed hash function i = b·r + j (so the (b, 1) legacy
    config hashes with prefix 'b|' — byte-identical to the round-1
    single-row signature).

    NB: the transform lambda must take exactly ONE parameter — a two-arg
    lambda would receive the array index as its second arg."""
    prefix = f"{b * rows_per_band + j}|"
    return F.array_min(
        F.transform(
            F.col("sh"),
            lambda s: F.md5(F.concat(F.lit(prefix), s).cast("binary")),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    n_bands: int = N_BANDS,
    rows_per_band: int = 1,
    impl: str | None = None,
) -> DataFrame:
    """(doc_id, mh0..mh{n_bands-1}): banded minhash signatures.

    Real b×r banding (VERDICT r3 item 3): band signature = md5 of the r
    concatenated row-minima, so two docs share a band bucket iff ALL r
    row-minhashes agree — P(candidate) = 1 − (1 − s^r)^b, an s-curve
    with a threshold knee near (1/b)^(1/r).  With r=1 the curve is
    1 − (1−s)^b — near-linear, so low-similarity pairs flood the
    candidate set and only the exact-Jaccard verify saves precision (at
    full |∩|-counting cost per candidate); r=1 is kept as the legacy
    default for the existing oracle entries, (8, 4)-style configs are
    the production shape (knee ≈ 0.6).

    Two implementations, identical output (asserted in tests):

    - ``agg`` (default, r6): explode_outer the shingles, compute all
      b·r md5s as PLAIN projections (whole-stage codegen), then one
      map-combined groupBy(doc_id) min.  Spark evaluates lambda bodies
      inside higher-order functions INTERPRETED, so the old transform/
      array_min form paid interpreted md5 × b·r per shingle — measured
      ~8× slower at sf1.0 (guide §1.2 "per-task work").  The explode
      keeps a doc's shingle rows inside their map partition, so the
      partial min collapses each doc to ONE row per aggregation column
      before the exchange — the shuffle carries |docs|·b·r hex strings,
      not the shingle stream.  explode_outer (not explode) keeps
      zero-shingle docs as a NULL row ⇒ NULL in every band, matching
      list_aggregate/min over an empty list in the DuckDB oracle.
    - ``hof`` (legacy): the array-expression form — no explode, no
      shuffle at all; kept for the A/B and for map-only contexts where
      an extra exchange is unacceptable.

    Select via ``impl=`` or ``spark.kg.dedup.minhashImpl``.
    Assumes doc_id is unique (every dedup operator here does).
    """
    if impl is None:
        impl = docs.sparkSession.conf.get("spark.kg.dedup.minhashImpl", "agg")
    if impl == "hof":
        def _band_sig(b: int) -> Column:
            mins = [_row_min(b, j, rows_per_band) for j in range(rows_per_band)]
            if rows_per_band == 1:
                return mins[0].alias(f"mh{b}")
            return F.md5(F.concat(*mins).cast("binary")).alias(f"mh{b}")

        return with_shingles(docs).select(
            "doc_id", *[_band_sig(b) for b in range(n_bands)]
        )
    if impl != "agg":
        raise ValueError(f"unknown minhash impl {impl!r} (want 'agg' or 'hof')")
    nh = n_bands * rows_per_band
    ex = with_shingles(docs).select(
        "doc_id", F.explode_outer("sh").alias("_s")
    )
    hs = ex.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{i}|"), F.col("_s")).cast("binary")).alias(f"_h{i}")
            for i in range(nh)
        ],
    )
    mins = hs.groupBy("doc_id").agg(
        *[F.min(f"_h{i}").alias(f"_m{i}") for i in range(nh)]
    )

    def _band(b: int) -> Column:
        if rows_per_band == 1:
            return F.col(f"_m{b}").alias(f"mh{b}")
        return F.md5(
            F.concat(
                *[F.col(f"_m{b * rows_per_band + j}") for j in range(rows_per_band)]
            ).cast("binary")
        ).alias(f"mh{b}")

    return mins.select("doc_id", *[_band(b) for b in range(n_bands)])


DEFAULT_MAX_BUCKET = 10_000


def _lsh_buckets(
    docs: DataFrame, n_bands: int = N_BANDS, rows_per_band: int = 1
) -> DataFrame:
    """(doc_id, band, mh) bucket membership rows.

    mh is the 16-BYTE unhex'd band digest, not the 32-char hex string:
    every downstream exchange (the bucket self-join, the oversized-
    bucket count) keys on it, so the narrowing halves the hottest
    dedup shuffle's key bytes map-side, for free (VERDICT r4 item 4).
    The hex order and the byte order agree (lowercase fixed-width hex),
    so min/join semantics are unchanged; signatures stay hex at the
    minhash_signatures surface (a contract output)."""
    sig = minhash_signatures(docs, n_bands, rows_per_band)
    return (
        sig.select(
            "doc_id",
            F.explode(
                F.array(*[
                    F.struct(F.lit(b).alias("band"), F.col(f"mh{b}").alias("mh"))
                    for b in range(n_bands)
                ])
            ).alias("bk"),
        )
        .select("doc_id", "bk.band", F.unhex("bk.mh").alias("mh"))
        .where(F.col("mh").isNotNull())
    )


def lsh_oversized_buckets(
    docs: DataFrame,
    n_bands: int = N_BANDS,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    rows_per_band: int = 1,
) -> DataFrame:
    """(band, mh, n_docs) for buckets ABOVE the pair-explosion cap — the
    buckets minhash_lsh_pairs drops.  Materialize this alongside the pairs
    for a drop-count audit (the cap must never be silent)."""
    return (
        _lsh_buckets(docs, n_bands, rows_per_band)
        .groupBy("band", "mh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_bucket_size)
        .select("band", F.lower(F.hex("mh")).alias("mh"), "n_docs")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n_bands: int = N_BANDS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    rows_per_band: int = 1,
) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing any band bucket.

    band-bucket join is the LSH trick: at 10^8 docs the self-join is on
    (band, minhash) — high-cardinality uniform keys, shuffle-friendly.

    Hot-bucket cap: one bucket of 10^6 identical boilerplate docs is a
    10^12-row self-join — quadratic blowup from a single key.  Buckets
    above max_bucket_size are excluded via a map-combined count + a
    broadcast anti-join (the oversized set is ≤ |docs|·bands/cap rows by
    construction, so it always broadcasts).  Such buckets are exact-dup
    territory anyway — run exact_dedup first, and audit the drops with
    lsh_oversized_buckets.  max_bucket_size=None disables the cap.
    """
    # persist: the bucket relation is consumed up to 3× (the oversized-
    # bucket count and BOTH sides of the self-join), and the signature
    # pipeline above it is the expensive part — without the pin the plan
    # recomputes the full minhash per reference (4 parquet scans and 4
    # signature passes in the r5 plan; 1 after).  Within-query reuse
    # only: every bench/oracle invocation still computes from parquet.
    buckets = _lsh_buckets(docs, n_bands, rows_per_band).persist()
    if max_bucket_size is not None:
        oversized = (
            buckets.groupBy("band", "mh")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .where(F.col("n_docs") > max_bucket_size)
            .select("band", "mh")
        )
        buckets = buckets.join(F.broadcast(oversized), ["band", "mh"], "left_anti")
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.mh") == F.col("b.mh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def simhash32(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit parity simhash.

    bit_j(token) = parity of the j-th hex digit of md5(token); the doc
    fingerprint sets bit j iff Σ_tokens (±1) > 0.  One explode + one
    map-combined groupBy; the 32 sums ride a single aggregation.
    """
    # explode_outer + null filter: plain explode lets
    # InferFiltersFromGenerate clone the words() split into a filter that
    # can sink below the fan-out exchange (evaluated at scan parallelism)
    toks = (
        _fan_out(docs)
        .select("doc_id", F.explode_outer(words(F.col("text"))).alias("tok"))
        .where(F.col("tok").isNotNull())
        .withColumn("h", F.md5(F.col("tok").cast("binary")))
    )
    digit = lambda j: (  # noqa: E731
        F.instr(F.lit("0123456789abcdef"), F.substring("h", j + 1, 1)) - 1
    )
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.when(digit(j) % 2 == 1, 1).otherwise(-1)).alias(f"b{j}")
            for j in range(32)
        ]
    )
    fp = None
    for j in range(32):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sums.select("doc_id", fp.cast("long").alias("simhash"))


def near_dup_clusters(
    docs: DataFrame,
    threshold: float = 0.05,
    n_bands: int = N_BANDS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    rows_per_band: int = 1,
) -> DataFrame:
    """(doc_id, cluster_id, keeper_doc_id): transitive near-duplicate
    clusters with one elected representative per cluster.

    The end-to-end dedup the pair operators feed: verified Jaccard pairs
    (LSH-blocked, so bounded at any corpus size) are treated as edges of
    an undirected graph; connected components merge chains A~B~C even
    when A,C never co-occur in a bucket; the keeper is the longest
    document (n_chars desc, doc_id asc tiebreak) — "keep the most
    complete copy", the usual training-data policy.

    Scale shape: pairs are LSH-bounded; CC reuses kg.canonicalize
    (driver union-find under 100k edges — dup graphs are tiny relative
    to the corpus — else the O(log n) star fixpoint); the keeper
    election runs over clustered docs only, as a groupBy cluster_id of
    min(struct(-n_chars, doc_id)) joined back to the cluster's docs.
    Docs in no pair are their own singleton cluster and keeper: a left
    anti-join against the CC mapping finds them, so they never enter
    the CC or the election.
    """
    from kg.canonicalize import connected_components

    # persist: connected_components consumes the pair stream TWICE (the
    # small-graph limit-count probe, then the union-find collect or the
    # fixpoint's symmetrize) — without the pin the whole LSH+Jaccard
    # chain recomputes per action (measured: the r5 build at sf1.0 ran
    # the chain 2× per invocation).
    pairs = ngram_jaccard_pairs(
        docs, threshold, None, n_bands, max_bucket_size, rows_per_band
    ).persist()
    # CC canonical_id is the LEXICOGRAPHIC min node; zero-pad so that
    # equals the numeric min doc_id (and the oracle's plain min()).
    # 20 chars: max int64 is 19 digits — Spark lpad TRUNCATES strings
    # longer than len, so a 12-char pad would silently collapse distinct
    # 13+-digit doc_ids into one CC node (ADVICE r3).
    pad = lambda c: F.lpad(F.col(c).cast("string"), 20, "0")  # noqa: E731
    # eager persist: the mapping now has TWO consumers (the clustered
    # inner join and the singleton anti join); in the distributed-CC
    # regime an unpinned mapping re-runs the reps aggregation per
    # consumer (measured 2× the election cost at the x10 scale), and the
    # count doubles as the cache fill.  Dup-graph-sized — bounded.
    mapping = connected_components(
        pairs.select(pad("doc_a").alias("src"), pad("doc_b").alias("dst"))
    ).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("canonical_id").cast("long").alias("cluster_id"),
    ).persist()
    mapping.count()
    # keeper = longest doc, ties to min doc_id.  r6 (VERDICT r5 #2 fix
    # class, second iteration): the old form ran a cluster-partitioned
    # window over EVERY doc — one unsplittable task per boilerplate
    # mega-cluster, and all singleton docs dragged through the exchange
    # for nothing.  A doc in no pair is its own keeper by definition, so
    # the election now runs only over the CLUSTERED docs (dup-graph-
    # sized, tiny vs the corpus) as min(struct(-n_chars, doc_id)) with
    # map-side partial aggregation + an AQE-skew-splittable join-back;
    # singletons take a broadcast anti-join against the mapping and a
    # pure projection.  Same rows as the window form by construction.
    clustered = docs.select("doc_id", "n_chars").join(mapping, "doc_id")
    keepers = clustered.groupBy("cluster_id").agg(
        F.min(F.struct((-F.col("n_chars")).alias("_neg"), F.col("doc_id"))).alias("_k")
    ).select("cluster_id", F.col("_k.doc_id").alias("keeper_doc_id"))
    out_clustered = clustered.join(keepers, "cluster_id").select(
        "doc_id", "cluster_id", "keeper_doc_id"
    )
    singles = docs.select("doc_id").join(mapping, "doc_id", "left_anti").select(
        "doc_id",
        F.col("doc_id").alias("cluster_id"),
        F.col("doc_id").alias("keeper_doc_id"),
    )
    return out_clustered.unionByName(singles)


def near_dup_dedup(
    docs: DataFrame,
    threshold: float = 0.05,
    n_bands: int = N_BANDS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    rows_per_band: int = 1,
) -> DataFrame:
    """The corpus with near-duplicate clusters collapsed to their keeper."""
    keep = (
        near_dup_clusters(docs, threshold, n_bands, max_bucket_size, rows_per_band)
        .where(F.col("doc_id") == F.col("keeper_doc_id"))
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi")


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.05,
    block_cols: tuple[str, ...] | None = None,
    n_bands: int = N_BANDS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    rows_per_band: int = 1,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): exact word-3-shingle Jaccard over blocked
    candidate pairs.

    DEFAULT blocking (block_cols=None) is the MinHash-LSH band bucket —
    candidate pairs come from minhash_lsh_pairs (bounded per bucket), then
    each candidate's |∩| is computed exactly as
    size(array_intersect(set_a, set_b)) over the per-doc DISTINCT shingle
    SETS, and |∪| = na + nb − |∩|.  r6 restructure (same rows, oracle-
    verified): the r5 form exploded shingles and counted |∩| with a
    two-join groupBy, which (a) emitted |cand|·|sh/doc| intermediate rows
    (~80M at sf1.0 — an 876s-CPU stage) and (b) tripped
    InferFiltersFromGenerate into cloning the interpreted shingle
    transform into a filter BELOW the fan-out exchange, i.e. evaluated at
    raw-scan parallelism (thread dump: Filter[transform/concat_ws]
    feeding the repartition sort, 2 tasks × 78s).  The set form has no
    shingle explode at all: sets are built map-side (array_distinct) and
    each candidate pair costs one O(na+nb) intersect.  Bucket membership
    bounds the pair count at any corpus size; a metadata block like
    (lang, source) does NOT (one block can be corpus-sized ⇒ quadratic),
    so that path survives only as an explicit opt-in for small,
    genuinely-partitioned corpora.
    """
    if block_cols is None:
        # per-doc distinct shingle sets, map-only; persisted because both
        # pair endpoints join against it (and the pair table is LSH-
        # bounded, so the join attaches sets to candidate rows only)
        shs = (
            with_shingles(docs)
            .select("doc_id", F.array_distinct("sh").alias("shs"))
            .withColumn("n_sh", F.size("shs"))
            .persist()
        )
        # LSH candidates share the band-argmin shingle (all r row-argmin
        # shingles when rows_per_band > 1), so the inner joins below can
        # never drop a candidate (n_common ≥ 1).
        cand = minhash_lsh_pairs(docs, n_bands, max_bucket_size, rows_per_band)
        return (
            cand.join(
                shs.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("shs").alias("_sa"),
                    F.col("n_sh").alias("na"),
                ),
                "doc_a",
            )
            .join(
                shs.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("shs").alias("_sb"),
                    F.col("n_sh").alias("nb"),
                ),
                "doc_b",
            )
            .withColumn("n_common", F.size(F.array_intersect("_sa", "_sb")))
            .select(
                "doc_a",
                "doc_b",
                F.round(
                    F.col("n_common")
                    / (F.col("na") + F.col("nb") - F.col("n_common")),
                    6,
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
    # explicit metadata-block path (opt-in): exploded-shingle equi-join.
    # explode_outer + null filter (NOT plain explode):
    # InferFiltersFromGenerate would otherwise clone the shingle transform
    # into a pre-exchange filter evaluated at scan parallelism.
    sh = (
        with_shingles(docs)
        .select(
            "doc_id", *block_cols, F.explode_outer("sh").alias("shingle")
        )
        .where(F.col("shingle").isNotNull())
        .distinct()
        .persist()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    common = (
        a.join(b, cond)
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
