"""Deduplication operators designed for 100 TB corpora.

Strategy ladder (cheapest first):

1. :func:`exact_dedup` — hash-groupBy on content fingerprint; one shuffle.
2. :func:`ngram_jaccard_pairs` — EXACT Jaccard via an inverted-index
   self-join on shared shingles (never all-pairs: only documents sharing
   a shingle meet), with a document-frequency cap that drops
   stop-shingles — the classic skew killer: a shingle appearing in k docs
   contributes k² candidate pairs, so frequent shingles both destroy the
   join and carry no signal.
3. :func:`minhash_signatures` + :func:`minhash_lsh_pairs` — MinHash/LSH:
   per-document signature computed INSIDE a single projection with
   higher-order functions (no shuffle), then band-bucket join so only
   probable duplicates meet; candidates verified with exact Jaccard.
4. :func:`simhash` + :func:`simhash_near_dup_pairs` — 64-bit SimHash with
   chunk-bucketed Hamming candidate generation.
5. :func:`embedding_near_dup_pairs` — cosine near-dup over embeddings via
   random-hyperplane bucketing (see similarity.py for the primitives).

All hashes are MD5-derived so every step is reproducible in an ANSI-SQL
oracle (DuckDB) — the verifiability/speed trade is deliberate; swap in
``F.xxhash64`` for production speed.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from thoth_spark.operators.text import fingerprint


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep the first row (smallest ``order_col``) of every duplicate
    group. One shuffle on the key; deterministic survivor choice (unlike
    ``dropDuplicates``, whose survivor is partition-order dependent —
    determinism matters for reproducible training corpora)."""
    w = W.partitionBy(*key_cols).orderBy(F.col(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_text_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup on the normalized-text fingerprint."""
    return exact_dedup(
        df.withColumn("__fp", fingerprint(F.col(text_col))), ["__fp"], id_col
    ).drop("__fp")


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard via inverted-index join
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
    log_dropped: bool = False,
) -> DataFrame:
    """All pairs with Jaccard(word-n-gram sets) ≥ threshold.

    Inverted index: explode distinct shingles, self-join on shingle so
    only co-shingled documents pair up, count shared shingles, then
    ``|A∩B| / (|A|+|B|-|A∩B|)``. ``max_shingle_df`` drops shingles that
    occur in more than that many documents — the cap defaults to a
    finite 1000 because a single stop-shingle appearing in k documents
    contributes k² candidate pairs: with the opt-in default of round 1 a
    common phrase at 1B docs produced a job-killing join. Pass ``None``
    explicitly for exact small-corpus semantics. Note the cap changes
    RESULTS for pairs that relied on capped shingles (their intersection
    shrinks); that is the documented trade — capped shingles carry no
    discriminative signal. ``log_dropped=True`` runs one extra small
    aggregate to report how many distinct shingles the cap removed.
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    # the shingle frame feeds three consumers (sizes + both join legs) —
    # checkpoint it lazily so the tokenize+shingle pass runs once
    shingled = shingle_sets(df, id_col, text_col, n).localCheckpoint(eager=False)
    sizes = shingled.select("id", F.size("sh").alias("sz"))
    inv = shingled.select("id", F.explode("sh").alias("shingle"))
    if max_shingle_df is not None:
        if log_dropped:
            import logging

            dropped = (
                inv.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("__df"))
                .where(F.col("__df") > max_shingle_df)
                .count()
            )
            logging.getLogger("thoth_spark.dedup").info(
                "ngram_jaccard_pairs: dropped %d distinct shingles with "
                "document frequency > %d",
                dropped,
                max_shingle_df,
            )
        inv = cap_shingle_df(inv, max_shingle_df, key="shingle")

    a = inv.alias("a")
    b = inv.alias("b")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    max_shingle_df: int | None = None,
    broadcast_max_rows: int = 2_000_000,
) -> DataFrame:
    """Fuzzy eval-set decontamination: every TRAIN document whose word-
    n-gram Jaccard against ANY benchmark document reaches ``threshold``,
    with the highest matching similarity — the cross-corpus sibling of
    :func:`ngram_jaccard_pairs`, and the fuzzy complement of
    :func:`thoth_spark.operators.text.contamination_check` (which counts
    verbatim shingle overlap, so a lightly paraphrased eval leak slips
    it; a Jaccard gate does not).

    Exact, not LSH: candidates come from the shingle equi-join, which
    has NO false negatives — a pair sharing zero shingles has Jaccard 0.
    Scale shape: the benchmark is eval-set-sized, so its inverted index
    broadcasts and the train corpus streams through one explode + one
    partial-agg ``groupBy`` — never train × benchmark rows, and no
    corpus-side self-join at all. A boilerplate shingle costs
    (its train df) × (its bench df) candidate rows — bounded by the
    bench df; ``max_shingle_df`` caps the BENCH index for adversarial
    benchmarks (same documented results-trade as the capped Jaccard
    family).

    The broadcast is size-guarded: the bench inverted index is counted
    once (one cheap job over the eval-set-sized side, reusing its
    checkpoint), and past ``broadcast_max_rows`` (~2M (shingle, doc)
    rows ≈ low hundreds of MB serialized — past any sane eval set) the
    hint is dropped so Spark falls back to a plain shuffle join instead
    of a driver/executor broadcast OOM. Results are identical either
    way; only the physical join strategy changes. The guard makes
    construction EAGER (since r14): building the plan runs one Spark
    job (the bench-index count + its checkpoint materialization) even
    if the result is never executed — callers building plans purely
    speculatively should know they pay that count. The per-doc size
    frame ``b_sz`` (exactly one row per benchmark doc) is guarded by
    its OWN count against the same bound, so it keeps its broadcast
    hint when the index alone is oversized (the common big-eval-set
    shape) but degrades with everything else on a degenerate
    corpus-scale bench side.

    Returns ``(id, max_jaccard)`` for contaminated train documents;
    anti-join the result to drop them, or keep it as the audit trail.
    """
    bench_id_col = bench_id_col or id_col
    bench_text_col = bench_text_col or text_col
    t_sh = shingle_sets(train, id_col, text_col, n).localCheckpoint(eager=False)
    b_sh = shingle_sets(bench, bench_id_col, bench_text_col, n).localCheckpoint(
        eager=False
    )
    b_inv = b_sh.select(
        F.col("id").alias("bid"), F.explode("sh").alias("shingle")
    )
    if max_shingle_df is not None:
        b_inv = cap_shingle_df(b_inv, max_shingle_df, key="shingle")
    b_sz = b_sh.select(F.col("id").alias("bid"), F.size("sh").alias("sz_b"))
    t_inv = t_sh.select("id", F.explode("sh").alias("shingle"))
    # size-guard the broadcast: one count over the eval-set-sized bench
    # index picks the join strategy (an eager job at construction time —
    # the price of the guard); an oversized "benchmark" degrades to a
    # shuffle join instead of a broadcast OOM. The (possibly df-capped)
    # index is checkpointed FIRST so the count and the join share one
    # materialization instead of running the cap window twice.
    b_inv = b_inv.localCheckpoint(eager=False)
    small_bench = b_inv.count() <= broadcast_max_rows
    maybe_bc = F.broadcast if small_bench else (lambda d: d)
    # b_sz (one row per bench DOC) is usually far narrower than the
    # index, so it keeps its broadcast hint even when the per-(shingle,
    # doc) index trips the guard — BUT it is bounded by its OWN count,
    # not assumed safe: a degenerate corpus-scale "benchmark" of
    # near-empty docs has a tiny index (few shingles) and 50M size
    # rows. The count is cheap — b_sh's checkpoint was just
    # materialized by the b_inv count above.
    small_bench_docs = b_sh.count() <= broadcast_max_rows
    maybe_bc_sz = F.broadcast if small_bench_docs else (lambda d: d)
    inter = (
        t_inv.join(maybe_bc(b_inv), on="shingle")
        .groupBy("id", "bid")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    scored = (
        inter.join(t_sh.select("id", F.size("sh").alias("sz_t")), "id")
        .join(maybe_bc_sz(b_sz), "bid")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_t") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return scored.groupBy("id").agg(
        F.round(F.max("jaccard"), 6).alias("max_jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def cap_shingle_df(inv: DataFrame, max_df: int, key: str = "s") -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df`` from an
    exploded ``(id, shingle)`` frame — via a drop-list LEFT join, never a
    window over the shingle key: the over-cap list is tiny (it IS the
    stop-shingle set) and broadcasts, while a ``count().over(
    partitionBy(shingle))`` would funnel every instance of a hot
    boilerplate shingle through one window task. Input rows are one per
    (doc, distinct shingle), so ``count(*)`` per shingle equals its
    document frequency."""
    drop = (
        inv.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") > int(max_df))
        .select(key, F.lit(True).alias("__hot"))
    )
    return inv.join(drop, key, "left").where(F.col("__hot").isNull()).drop("__hot")


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word-n-gram sets per document: ``(id, sh array<string>)``;
    documents with fewer than ``n`` tokens produce no row. Shingling is
    the shared (and priciest) text pass of the fuzzy-dedup family —
    compute it once, ``.cache()`` it, and feed signatures AND
    verification from the same frame.

    Physical shape (each step measured ~10× on the slow alternative):

    - tokenization runs BEFORE the ``repartition(id)`` exchange, so after
      the barrier ``__toks`` is a materialized attribute — inlining the
      split+regexp chain past the exchange makes Catalyst re-evaluate it
      inside the n-gram ``transform`` lambda for EVERY gram position;
    - the short-document filter is on ``size(__toks)`` (equivalent to
      "shingle set empty", since distinct-of-ngrams is empty iff tokens
      < n) — filtering on ``size(sh)`` instead gets pushed below the
      projection and evaluates the whole n-gram array twice;
    - the downstream signature ``groupBy(id)`` reuses the hash
      partitioning (no second exchange), so the repartition costs no
      extra shuffle while spreading per-document work across all cores —
      a single-file input would otherwise run the map stage in one task.
    """
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            # one-regex tokenize (see text.tokens): split on \s+
            # directly — token-array-identical to collapse-then-split
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("__toks"),
        )
        .where(F.size("__toks") >= n)
        .repartition("id")
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice("__toks", i, n)),
    )
    return toks.select("id", F.array_distinct(grams).alias("sh"))


def jaccard_sets(a, b):
    """Exact Jaccard of two DISTINCT-element arrays, computed as
    ``|A∩B| / (|A| + |B| − |A∩B|)`` — identical math to
    ``size(array_intersect)/size(array_union)`` on de-duplicated arrays
    (the union size is exactly ``|A|+|B|−|A∩B|``, and the final double
    division sees the same integers), but it builds ONE per-pair hash
    set instead of two: ``array_union`` re-hashes both arrays per
    candidate pair, and the verify join evaluates this on every LSH
    candidate — the single hottest expression of the MinHash family.
    The repeated ``array_intersect`` subtree is evaluated once at
    runtime (deterministic → whole-stage-codegen subexpression
    elimination). Same form the prefix-filter family already uses
    (:func:`jaccard_prefix_pairs`)."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


#: Modulus for the Carter-Wegman MinHash family (2^31 - 1, prime).
MINHASH_PRIME = 2147483647


def minhash_coeffs(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic ``(a, b)`` coefficients for the universal-hash family
    ``h_i(x) = (a_i * x + b_i) mod MINHASH_PRIME``. Bounded below 2^30 so
    ``a * x`` with a 32-bit base hash stays under 2^62 — no overflow in
    Spark longs OR an ANSI engine (DuckDB errors on BIGINT overflow,
    which would break oracle replay)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 30))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    n: int = 3,
    shingles: DataFrame | None = None,
    seed: int = 7,
    max_shingle_df: int | None = None,
    inverted: DataFrame | None = None,
    include_sets: bool = False,
) -> DataFrame:
    """Per-document MinHash signature as ``array<bigint>``.

    ``include_sets=True`` adds the document's (possibly capped) shingle
    set as ``sh`` — computed in the SAME ``groupBy(id)`` as the 32 hash
    minima, so a sign-then-verify pipeline gets its verification arrays
    for free instead of running a second corpus-wide shuffle on the
    same key (the r8 capped-minhash fusion).

    Hash family: ONE md5 per shingle reduced to a 32-bit base hash
    ``x = int(md5(s)[:8], 16)``, then ``num_hashes`` universal hashes
    ``(a_i*x + b_i) mod p`` (the datasketch-style Carter-Wegman trick).
    One digest per shingle instead of one per (shingle, seed) matters:
    JVM md5 allocates a MessageDigest per call, and 32× digests measured
    ~6 s vs ~1 s for digest-once + arithmetic on a 5k-doc corpus — at
    100 TB the digest would dominate the whole job. The arithmetic stays
    in whole-stage codegen and is exactly replayable in ANSI SQL.

    Shape: shingles exploded ONCE, all hashes reduced by ``min`` in a
    single groupBy(id) — one shuffle, keyed by document id (which reuses
    ``shingle_sets``'s partitioning). Documents with zero shingles
    produce no rows. (A nested higher-order-function formulation
    re-shingles per seed and falls out of codegen — measured ~100×
    slower.)
    """
    if inverted is not None:
        # an already-exploded ``(id, s)`` distinct-shingle frame (e.g. the
        # output of :func:`cap_shingle_df`): skips re-collecting sets just
        # to explode them again — one pipeline stage less when the caller
        # also needs the inverted layout
        inv = inverted
    else:
        # checkpoint self-computed sets BEFORE exploding: explode inlined
        # over the n-gram transform/array_distinct expression chain
        # re-evaluates it against the raw text (measured 3.8 s vs 0.5 s
        # checkpoint-then-explode on the sf0.1 corpus); caller-provided
        # shingle frames are expected to be cached/checkpointed already
        sh = (
            shingles
            if shingles is not None
            else shingle_sets(df, id_col, text_col, n).localCheckpoint(eager=False)
        )
        inv = sh.select("id", F.explode("sh").alias("s"))
    if max_shingle_df is not None:
        # Boilerplate shingles shared corpus-wide inflate every pairwise
        # Jaccard (a stop-shingle in k docs pushes ~k²·P(band) candidate
        # pairs through LSH — measured in tests/test_skew.py: 807k pairs
        # on a 1.5k-doc boilerplate corpus vs <300 with the cap). Capped
        # shingles carry no discriminative signal; dropping them leaves
        # candidates ∝ true-duplicate density. Same trade as
        # ngram_jaccard_pairs' cap, same drop-list mechanics.
        inv = cap_shingle_df(inv, max_shingle_df, key="s")
    x = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long")
    inv = inv.select("id", F.col("s"), x.alias("x"))
    mins = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % MINHASH_PRIME).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes, seed))
    ]
    aggs = list(mins)
    outs = ["id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")]
    if include_sets:
        aggs.append(F.collect_set("s").alias("sh"))
        outs.append(F.col("sh"))
    return inv.groupBy("id").agg(*aggs).select(*outs)


def minhash_bands(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Band the signatures: ``(id, band, bh)`` with band hash = md5 of
    the concatenated signature slice. This frame IS the persistable LSH
    index — write it once per corpus (partitioned by ``band``), then
    incremental batches join against it
    (:func:`minhash_lsh_pairs_incremental`) without re-processing the
    indexed corpus."""
    return signatures.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.transform(
                                F.slice(
                                    F.col("sig"), b * rows_per_band + 1, rows_per_band
                                ),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh")


def minhash_lsh_pairs(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """LSH candidate pairs: documents agreeing on all rows of ≥1 band.

    Band hash = md5 of the concatenated signature slice; the groupBy on
    (band, band_hash) co-locates only probable duplicates — candidate
    count scales with true-duplicate density, not corpus size². Buckets
    are capped implicitly by the band width; returns distinct
    (id_a, id_b) with id_a < id_b.

    The banded frame feeds both sides of the self-join and is lazily
    local-checkpointed so the signature pipeline executes once, not
    twice.
    """
    banded = minhash_bands(signatures, bands, rows_per_band).localCheckpoint(
        eager=False
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band", "bh"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs_incremental(
    new_bands: DataFrame, index_bands: DataFrame
) -> DataFrame:
    """Candidate pairs for an INCREMENTAL batch against an existing LSH
    index (both sides ``(id, band, bh)`` from :func:`minhash_bands`):
    every pair with at least one NEW document — new×indexed and
    new×new — and never indexed×indexed (already found when the index
    was built). This is the production shape for growing corpora: adding
    1 TB to a 100 TB corpus joins the new batch's bands against the
    stored index instead of re-processing the corpus; join volume ∝
    new-batch size × duplicate density.

    Equivalence: over the union corpus, ``(index pairs) ∪ (incremental
    pairs)`` equals a full :func:`minhash_lsh_pairs` run — asserted in
    tests. Returns distinct (id_a, id_b), id_a < id_b.
    """
    new_b = new_bands.localCheckpoint(eager=False)
    both = index_bands.unionByName(new_b)
    a = new_b.alias("a")
    b = both.alias("b")
    return (
        a.join(b, on=["band", "bh"])
        .where(F.col("a.id") != F.col("b.id"))
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    rows_per_band: int = 4,
    n: int = 3,
) -> DataFrame:
    """Near-dup dedup: LSH candidates → exact-Jaccard verification →
    drop every doc that has a retained similar doc with a smaller id.

    (Greedy min-id survivor per similarity component approximated by
    one pass: a doc survives iff no similar doc has a smaller id —
    standard at-scale approximation avoiding iterative connected
    components; plug GraphFrames in for exact components if needed.)
    """
    sh = shingle_sets(df, id_col, text_col, n).cache()
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, n, shingles=sh)
    candidates = minhash_lsh_pairs(sigs, bands, rows_per_band)
    # verify candidates with exact jaccard on the same cached shingle sets
    verified = (
        candidates.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("jaccard", jaccard_sets("sh_a", "sh_b"))
        .where(F.col("jaccard") >= threshold)
    )
    losers = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens, returned as two 32-bit
    halves ``(sim_hi, sim_lo)`` (avoids signed-64 overflow headaches and
    keeps the oracle SQL portable).

    Token hash = first 16 hex chars of md5(token); bit j votes ±1 weighted
    by the token's occurrence count; the sign of each bit-sum forms the
    fingerprint. Explode + one groupBy(id) with 64 conditional sums — a
    single shuffle keyed by document id.
    """
    toks = F.split(F.lower(F.trim(F.col("__txt"))), r"\s+")
    # repartition by id first: the per-token hashing + 64 partial sums then
    # run across all cores, and groupBy(id) reuses the partitioning
    exploded = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt")).repartition(
        "id"
    ).select(F.col("id"), F.explode(toks).alias("tok")).select(
        "id",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("h_hi"),
        F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long").alias("h_lo"),
    )
    # sum the BIT directly instead of a ±1 vote: vote = Σ(2·bit − 1)
    # = 2·Σbit − n, and vote > 0 ⟺ 2·Σbit > n — exact integer
    # arithmetic, identical fingerprints, but each of the 64 aggregate
    # expressions drops its when/otherwise branch (one shift+mask+sum
    # per bit) and the token count is shared across all 64 bits.
    sums = [
        F.sum(F.shiftright(F.col(half), i).bitwiseAND(F.lit(1))).alias(f"{half}_b{i}")
        for half in ("h_hi", "h_lo")
        for i in range(32)
    ]
    agged = exploded.groupBy("id").agg(F.count(F.lit(1)).alias("__n"), *sums)
    hi = None
    lo = None
    for i in range(32):
        hi_bit = F.when(
            F.col(f"h_hi_b{i}") * 2 > F.col("__n"), F.lit(2**i)
        ).otherwise(F.lit(0))
        lo_bit = F.when(
            F.col(f"h_lo_b{i}") * 2 > F.col("__n"), F.lit(2**i)
        ).otherwise(F.lit(0))
        hi = hi_bit if hi is None else hi + hi_bit
        lo = lo_bit if lo is None else lo + lo_bit
    return agged.select("id", hi.cast("long").alias("sim_hi"), lo.cast("long").alias("sim_lo"))


def _simhash_block_value(start: int, end: int) -> Column:
    """Bits ``[start, end)`` of the 64-bit fingerprint as a small long.

    Global bit i < 32 lives in ``sim_lo`` at position i; bit i ≥ 32 lives
    in ``sim_hi`` at position i-32 — pure shift/mask arithmetic, stays in
    whole-stage codegen, never overflows (block values are < 2^16)."""
    parts = []
    lo_bits = max(0, min(end, 32) - start)
    if lo_bits > 0:
        parts.append(
            F.shiftright(F.col("sim_lo"), start).bitwiseAND(F.lit((1 << lo_bits) - 1))
        )
    hi_start = max(start, 32) - 32
    hi_bits = max(0, end - max(start, 32))
    if hi_bits > 0:
        hi_val = F.shiftright(F.col("sim_hi"), hi_start).bitwiseAND(
            F.lit((1 << hi_bits) - 1)
        )
        parts.append(hi_val * (1 << lo_bits) if lo_bits else hi_val)
    out = parts[0]
    for p in parts[1:]:
        out = out + p
    return out.cast("long")


def simhash_chunks(
    hashes: DataFrame, max_hamming: int = 3, blocks: int = 6
) -> DataFrame:
    """The pigeonhole block-combination keys for a fingerprint frame:
    ``(id, sim_hi, sim_lo, ci, cv)`` — one row per C(blocks,
    blocks−max_hamming) combination per document. Like
    :func:`minhash_bands`, this frame IS the persistable near-dup index
    (partition by ``(ci, cv)``); incremental batches join against it via
    :func:`simhash_pairs_incremental`. Requires ``max_hamming >= 1``
    (distance 0 uses the plain fingerprint equi-join)."""
    from itertools import combinations
    from math import comb

    if max_hamming < 1:
        raise ValueError(f"max_hamming must be >= 1 for chunk keys, got {max_hamming}")
    if blocks <= max_hamming or blocks > 64:
        raise ValueError(f"need max_hamming < blocks <= 64, got blocks={blocks}")
    n_combos = comb(blocks, blocks - max_hamming)
    if n_combos > 256:
        raise ValueError(
            f"C({blocks}, {blocks - max_hamming}) = {n_combos} combination "
            "tables is an excessive fan-out; lower `blocks` toward "
            f"max_hamming+1 (= {max_hamming + 1}) — fewer, narrower keys."
        )
    # block i covers bits [bounds[i], bounds[i+1]) of the 64-bit hash
    sizes = [64 // blocks + (1 if i < 64 % blocks else 0) for i in range(blocks)]
    bounds = [0]
    for s in sizes:
        bounds.append(bounds[-1] + s)
    block_vals = [
        _simhash_block_value(bounds[i], bounds[i + 1]) for i in range(blocks)
    ]

    combo_structs = []
    for ci, combo in enumerate(combinations(range(blocks), blocks - max_hamming)):
        # pack the combination's block values into one long key:
        # shift-accumulate by each block's width (sum of widths <= 64-d)
        key = block_vals[combo[0]]
        for bi in combo[1:]:
            key = key * (1 << sizes[bi]) + block_vals[bi]
        combo_structs.append(
            F.struct(F.lit(ci).alias("ci"), key.alias("cv"))
        )
    return hashes.select(
        "id",
        "sim_hi",
        "sim_lo",
        F.explode(F.array(*combo_structs)).alias("c"),
    ).select("id", "sim_hi", "sim_lo", "c.ci", "c.cv")


def _hamming_cols() -> Column:
    return F.bit_count(
        F.col("a.sim_hi").bitwiseXOR(F.col("b.sim_hi"))
    ) + F.bit_count(F.col("a.sim_lo").bitwiseXOR(F.col("b.sim_lo")))


def simhash_pairs_incremental(
    new_chunks: DataFrame, index_chunks: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs for an INCREMENTAL batch against a stored SimHash
    chunk index (both sides from :func:`simhash_chunks` with the SAME
    (max_hamming, blocks)): every verified pair with at least one new
    document — new×indexed and new×new, never indexed×indexed. Same
    contract as :func:`minhash_lsh_pairs_incremental`: (index-build
    pairs) ∪ (incremental pairs) equals a full run over the union."""
    new_c = new_chunks.localCheckpoint(eager=False)
    both = index_chunks.unionByName(new_c)
    a = new_c.alias("a")
    b = both.alias("b")
    return (
        a.join(b, on=["ci", "cv"])
        .where(F.col("a.id") != F.col("b.id"))
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            _hamming_cols().alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_near_dup_pairs(
    hashes: DataFrame, max_hamming: int = 3, blocks: int = 6
) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` of each other.

    Candidate generation (Manku/Jain/Sarma block-permutation scheme,
    "Detecting Near-Duplicates for Web Crawling", WWW'07 — public): split
    the 64 bits into ``blocks`` blocks; a pair within distance d touches
    at most d blocks, so it agrees EXACTLY on some combination of
    ``blocks - d`` blocks (pigeonhole). Each document emits one row per
    C(blocks, blocks-d) combination keyed by (combo_id, packed block
    values); an equi-join on that key finds every candidate.
    Verification: exact ``bit_count(xor)``.

    Why not the simpler d+1-chunks-of-16-bits scheme of round 1: its
    16-bit bucket space (65,536 values) gives expected candidates
    O(n²/2¹⁶) — ~10¹³ pairs at 1B documents. With blocks=6, d=3 the key
    packs 3 blocks ≈ 32 bits, so bucket space is ~4×10⁹ and expected
    candidates O(n²/2³²) — ~2×10⁸ at 1B docs, shuffle-bounded, at the
    cost of a 20× (vs 4×) row fan-out of the tiny (id, key) frame.

    ``blocks`` must exceed ``max_hamming`` (the pigeonhole guarantee
    otherwise silently loses recall — round 1 accepted max_hamming > 3
    and missed pairs) and cannot exceed 64.

    The fingerprint frame feeds BOTH sides of the self-join, so it is
    lazily local-checkpointed first — otherwise the whole upstream
    tokenize+aggregate pipeline executes twice (measured ~40% of query
    wall; at 100 TB the duplicated scan would dominate).
    """
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if blocks <= max_hamming:
        raise ValueError(
            f"blocks ({blocks}) must exceed max_hamming ({max_hamming}): the "
            "pigeonhole candidate scheme guarantees full recall only when a "
            "pair within the distance must share at least one full block "
            "combination."
        )
    if blocks > 64:
        raise ValueError(f"blocks must be <= 64, got {blocks}")
    hashes = hashes.localCheckpoint(eager=False)
    if max_hamming == 0:
        # distance 0 = identical fingerprints: plain equi-join on both
        # halves (packing all 64 bits into one signed long would overflow)
        a0 = hashes.alias("a")
        b0 = hashes.alias("b")
        return (
            a0.join(b0, on=["sim_hi", "sim_lo"])
            .where(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.lit(0).cast("integer").alias("hamming"),
            )
            .distinct()
        )
    chunks = simhash_chunks(hashes, max_hamming, blocks)
    a = chunks.alias("a")
    b = chunks.alias("b")
    dist = F.bit_count(
        F.col("a.sim_hi").bitwiseXOR(F.col("b.sim_hi"))
    ) + F.bit_count(F.col("a.sim_lo").bitwiseXOR(F.col("b.sim_lo")))
    return (
        a.join(b, on=["ci", "cv"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dist.alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Connected components (duplicate-cluster assignment)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int | None = None,
    stats: dict | None = None,
    jump: bool = True,
) -> DataFrame:
    """Duplicate clusters from similarity pairs: ``(id, component)`` where
    component = the smallest id reachable through the pair graph.

    Min-label propagation WITH POINTER JUMPING: every round each node
    takes the min of its own label, its neighbors' labels, and its
    label's label (path compression — sound because a label is always a
    node known reachable from the holder, so the label's label is
    reachable too). The jump makes the reach double per round, so a
    pathological PATH-GRAPH chain — the shape plain propagation needs
    O(diameter) rounds for, which at a 100 TB corpus's near-dup chains
    can exceed any fixed iteration cap — converges in O(log diameter)
    rounds; duplicate cliques still converge in 2 rounds
    (tests/test_skew.py::test_components_giant_clique_and_long_chain
    pins both shapes under the DEFAULT cap with early exit). Two
    shuffles per round; each round is ``localCheckpoint``ed to truncate
    the growing plan lineage — without it, iteration i re-executes all
    i-1 predecessors. Early exit on a fixpoint round; ``max_iterations``
    bounds the worst case. Pass ``stats`` to receive
    ``{"rounds": n, "converged": bool}`` for observability.

    ``jump=False`` drops the pointer-jump join (one shuffle per round
    instead of two) — the right setting for workloads KNOWN to produce
    shallow clusters, e.g. near-identical duplicate cliques from a
    high-threshold pair stage, where plain propagation already
    converges in 2-3 rounds and the jump join is pure overhead (the
    measured r10 dd_qual_surv cost); identical output either way, just
    a different round count (property-tested against union-find).

    Iteration budget and the convergence contract (r11 advice: a
    jump=False deep chain could silently exhaust a cap sized for the
    doubling path and return WRONG components): ``max_iterations``
    defaults to 15 with the jump (2^15 reach dwarfs any real diameter)
    and 50 without (plain propagation needs diameter rounds — 50 covers
    the shallow-cluster workloads jump=False is for, with margin). On
    cap exhaustion the function now RAISES unless the caller passed
    ``stats`` (explicitly observing convergence — then it logs a
    warning and returns, letting monitoring callers decide)."""
    if max_iterations is None:
        max_iterations = 15 if jump else 50
    edges = (
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("t"))
        .union(pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("t")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    rounds, converged = 0, False
    for _ in range(max_iterations):
        rounds += 1
        neighbor_min = (
            edges.join(labels, edges.t == labels.id)
            .groupBy("s")
            .agg(F.min("component").alias("nc"))
        )
        # carry the pre-round label through the step as ``__old`` so the
        # fixpoint check below is a filter over the ALREADY-MATERIALIZED
        # checkpoint — the previous shape re-joined new labels against
        # old labels per round (two exchanges + a join job just to ask
        # "did anything change"), which at 2-3 rounds per call was a
        # measurable slice of every components consumer's wall
        stepped = (
            labels.select("id", F.col("component").alias("__old"))
            .join(neighbor_min, F.col("id") == neighbor_min.s, "left")
            .select(
                "id",
                F.least(
                    F.col("__old"), F.coalesce(F.col("nc"), F.col("__old"))
                ).alias("component"),
                "__old",
            )
        )
        if jump:
            # pointer jump: component <- label(component). Every component
            # value is a node id present in `labels` (labels only ever hold
            # reachable node ids), so the left join is total; coalesce
            # guards the self-label rows all the same.
            jmp = stepped.select(
                F.col("id").alias("__jid"), F.col("component").alias("__jc")
            )
            stepped = stepped.join(
                jmp, stepped["component"] == jmp["__jid"], "left"
            ).select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("__jc"), F.col("component"))
                ).alias("component"),
                "__old",
            )
        new_labels = stepped.localCheckpoint()
        changed = (
            new_labels.where(F.col("component") != F.col("__old"))
            .limit(1)
            .count()
        )
        labels = new_labels.select("id", "component")
        if changed == 0:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
        if not converged:
            logging.getLogger(__name__).warning(
                "connected_components hit max_iterations=%d without a "
                "fixpoint round; labels may span multiple true components",
                max_iterations,
            )
    elif not converged:
        raise RuntimeError(
            f"connected_components did not converge within "
            f"max_iterations={max_iterations} (jump={jump}); raise the "
            "bound (plain propagation needs graph-diameter rounds; the "
            "pointer-jump path needs log2(diameter)) or pass stats= to "
            "observe and accept partial labels"
        )
    return labels


def quality_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    quality_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int | None = None,
    jump: bool = True,
) -> DataFrame:
    """Quality-aware dedup survivor selection: per duplicate CLUSTER
    (connected component of the similarity-pair graph), keep the member
    with the highest quality score (ties → smallest id); singletons
    survive unchanged. The policy a production corpus actually wants —
    when five near-copies of an article exist, keep the cleanest one,
    not the one with the smallest crawl id (:func:`minhash_dedup`'s
    min-id rule is the right DETERMINISM baseline, this is the right
    CURATION rule).

    Returns every surviving row of ``df`` plus its ``component`` label.

    Scale shape: the winner per cluster is a ``max_by`` over
    ``(round(quality, 6), -id)`` — a partial-aggregable groupBy, so a
    degenerate giant cluster (corpus-wide boilerplate) combines map-side
    instead of funneling through one window task. Quality is ROUNDED to
    6 places before comparison so the winner is stable across engines
    (the same rounding every quality oracle in this repo uses);
    survivors come back via a semi join on the id — two shuffles total
    beyond the component propagation."""
    comps = connected_components(pairs, id_a, id_b, max_iterations, jump=jump)
    labeled = (
        df.join(comps, df[id_col] == comps["id"], "left")
        .withColumn("component", F.coalesce(F.col("component"), df[id_col]))
        .drop(comps["id"])  # by Column — id_col may itself be named "id"
    )
    qr = F.round(F.col(quality_col), 6)
    # min_by over (-quality, id): -quality ascending == quality
    # descending, and the id tie-break compares the id DIRECTLY — so the
    # rule works for string ids too (negating the id, the obvious
    # max_by formulation, only works for numeric keys)
    winners = labeled.groupBy("component").agg(
        F.min_by(
            F.col(id_col),
            F.struct((-qr).alias("nq"), F.col(id_col).alias("i")),
        ).alias(id_col)
    )
    return labeled.join(winners.select(id_col), id_col, "left_semi")


# ---------------------------------------------------------------------------
# Prefix-filtered EXACT similarity joins (AllPairs / PPJoin family)
# ---------------------------------------------------------------------------


def ranked_tokens(sets: DataFrame, id_col: str = "id", set_col: str = "sh") -> DataFrame:
    """Explode shingle sets into ``(id, s, pos, sz)`` with tokens ranked
    per document by ASCENDING global document frequency (ties broken by
    token text, so the order is a deterministic TOTAL order shared by
    every document — the precondition of the prefix-filter theorem).

    The df ranking is what makes prefix filtering effective: a
    document's prefix is its RAREST tokens, so candidate generation
    joins on rare postings and hot boilerplate tokens never pair
    anything (they sort to the suffix). The per-document ``row_number``
    window is bounded by document size — partitioned on id, never a
    global sort."""
    inv = sets.select(
        F.col(id_col).alias("id"),
        F.size(set_col).alias("sz"),
        F.explode(set_col).alias("s"),
    )
    dfreq = inv.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
    w = W.partitionBy("id").orderBy("__df", "s")
    return (
        inv.join(dfreq, "s")
        .withColumn("pos", F.row_number().over(w))
        .select("id", "s", "pos", "sz")
    )


def jaccard_prefix_candidates(sets: DataFrame, threshold: float) -> DataFrame:
    """Candidate ``(id_a, id_b)`` pairs of the prefix-filtered Jaccard
    join over a ``(id, sh)`` shingle-set frame: prefix self-join + length
    filter + PPJoin positional filter (see :func:`jaccard_prefix_pairs`
    for the theory). Exposed separately so the candidate volume — THE
    scale metric of this family — is directly measurable."""
    t = float(threshold)
    ranked = ranked_tokens(sets)
    # prefix length |s| - ceil(t*|s|) + 1; the 1e-9 nudge keeps float
    # noise in t*|s| (e.g. 0.8*35 -> 28.000000000000004) from rounding
    # the ceiling UP and illegally shrinking the prefix.
    prefix = ranked.where(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9)) + 1
    )
    meetings = (
        prefix.alias("a")
        .join(prefix.alias("b"), "s")
        .where(
            (F.col("a.id") < F.col("b.id"))
            # length filter: t*|B| <= |A| and t*|A| <= |B|
            & (F.lit(t) * F.col("b.sz") <= F.col("a.sz") + F.lit(1e-9))
            & (F.lit(t) * F.col("a.sz") <= F.col("b.sz") + F.lit(1e-9))
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("__sza"),
            F.col("b.sz").alias("__szb"),
            F.struct(F.col("a.pos").alias("pa"), F.col("b.pos").alias("pb")).alias("__m"),
        )
    )
    # positional filter at the first shared token (min position pair —
    # the same token is first-shared on both sides under the total order)
    first = meetings.groupBy("id_a", "id_b", "__sza", "__szb").agg(
        F.min("__m").alias("__m")
    )
    min_overlap = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("__sza") + F.col("__szb")) - F.lit(1e-9)
    )
    upper = F.lit(1) + F.least(
        F.col("__sza") - F.col("__m.pa"), F.col("__szb") - F.col("__m.pb")
    )
    return first.where(upper >= min_overlap).select("id_a", "id_b")


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs with Jaccard(word-n-gram sets) >= threshold — EXACT, via
    AllPairs/PPJoin-style prefix filtering (Bayardo et al., WWW'07;
    Chaudhuri et al., ICDE'06).

    Unlike :func:`ngram_jaccard_pairs` (full inverted index, where a
    stop-shingle in k docs contributes k^2 candidates and the finite
    ``max_shingle_df`` default trades exactness for survival), prefix
    filtering is the scale path WITHOUT an approximation: each document
    indexes only its ``|s| - ceil(t*|s|) + 1`` globally-rarest tokens
    (any qualifying pair shares >= t*|s| tokens, so at least one shared
    token lands in both prefixes under the shared total order), plus the
    length filter ``t*|B| <= |A|`` and PPJoin's POSITIONAL filter. Hot
    boilerplate tokens sort to the suffix and rarely enter a prefix; when
    document structure forces them in anyway (short docs that are mostly
    boilerplate), the positional filter kills the clique: at the FIRST
    shared token (positions ``pa``, ``pb`` under the total order) the
    overlap can't exceed ``1 + min(|A|-pa, |B|-pb)``, and a qualifying
    pair needs overlap ``>= ceil(t/(1+t) * (|A|+|B|))`` — boilerplate
    meetings happen deep in both orderings, so the bound fails and the
    pair is pruned without ever fetching the full sets. (Sound because a
    qualifying pair's first shared token always lies inside both
    prefixes — the prefix theorem — so the minimum-position meeting we
    observe IS the first shared token.) Survivors are verified with
    ``array_intersect`` on the full sets, so results are exactly the
    threshold-t Jaccard join.

    Returns ``(id_a, id_b, jaccard)`` with id_a < id_b.
    """
    sets = shingle_sets(df, id_col, text_col, n).localCheckpoint()
    cand = jaccard_prefix_candidates(sets, threshold)
    t = float(threshold)
    sa = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("__sha"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("__shb"))
    inter = F.size(F.array_intersect("__sha", "__shb"))
    jac = inter / (F.size("__sha") + F.size("__shb") - inter)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__jac", jac)
        .where(F.col("__jac") >= F.lit(t))
        .select("id_a", "id_b", F.round("__jac", 6).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_token_df: int | None = 1000,
) -> DataFrame:
    """Asymmetric near-containment pairs: ``|A∩B| / |A| >= threshold`` —
    document A's shingles are (nearly) a subset of B's. Jaccard misses
    these when |B| >> |A| (a wire story quoted inside a long article has
    tiny Jaccard but containment ~1), so subsumption dedup needs its own
    operator; keep the LARGER side as the survivor.

    Prefix filter on the CONTAINED side only: ``I >= t*|A|`` means A's
    ``|A| - ceil(t*|A|) + 1`` rarest tokens must hit B, but B gets no
    prefix bound (it can be arbitrarily large), so the B side is a full
    inverted index — ``max_token_df`` caps its hot postings exactly like
    :func:`ngram_jaccard_pairs` (same documented exactness trade; pass
    ``None`` for exact semantics). The containment score itself is always
    computed on the FULL sets.

    The PPJoin positional filter stays sound under a finite cap — it
    never prunes a pair that cap-only semantics would keep. Proof: the
    token order is GLOBAL ascending-df (ties by token text), and capped
    tokens satisfy df > cap >= df(every surviving token), so within any
    document every surviving shared token strictly precedes every
    capped shared token. Hence the minimum observed meeting IS the true
    first shared token whenever at least one shared token survives the
    cap; and when none survive, the pair generates no candidate at all
    regardless of the positional filter (the documented cap trade).
    Property-tested in ``test_containment_capped_equals_cap_only``.

    Returns ``(id_a, id_b, containment)`` where id_a is contained in
    id_b (a pair of mutually-containing distinct docs appears twice,
    once per direction).

    Physical strategy (r8 skew program, measured on the sf0.1 corpus):

    - **Exact path** (``max_token_df=None``): fused inverted-index count —
      explode both sides, equi-join on the shingle with the size filter
      in the join condition, and ``groupBy(pair).count()`` IS the
      intersection size, so the containment score falls out with no
      candidate/verify split, no wide-array shuffle, and no checkpoint
      barrier. On a diffuse-overlap corpus (sf0.1: every shingle df~9-25,
      no hot tokens for a prefix to exclude) the prefix+verify pipeline
      materialized 301k candidate pairs for 512 true pairs and then
      shuffled two full shingle arrays per candidate; the fused count
      moves ~3M NARROW rows through one partial-aggregated shuffle
      instead. Exact containment is inherently Σdf² — quadratic in hot
      tokens — which is why production runs the capped path below.
    - **Capped path** (finite ``max_token_df``): prefix-filtered
      candidate generation (:func:`containment_candidates`) + full-set
      array verify. The cap bounds every posting list, so candidate
      volume is ∝ true-pair density even on boilerplate-clique corpora
      (property: tests/test_skew.py::
      test_containment_boilerplate_candidate_bound), and the verify join
      fetches arrays for a candidate set that small.
    """
    t = float(threshold)
    if max_token_df is None:
        # localCheckpoint so the self-join's two legs read materialized
        # shingle sets instead of re-tokenizing the corpus per leg —
        # measured 2.5x end-to-end at sf0.1 (4.9s -> 1.95s)
        sets = shingle_sets(df, id_col, text_col, n).localCheckpoint()
        inv = sets.select(
            F.col("id"), F.size("sh").alias("sz"), F.explode("sh").alias("s")
        )
        pairs = (
            inv.alias("a")
            .join(inv.alias("b"), "s")
            .where(
                (F.col("a.id") != F.col("b.id"))
                # |A∩B| <= |B|, so containment >= t forces t*|A| <= |B|
                & (F.lit(t) * F.col("a.sz") <= F.col("b.sz") + F.lit(1e-9))
            )
            .groupBy(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.sz").alias("__sza"),
            )
            .agg(F.count(F.lit(1)).alias("__inter"))
        )
        contain = F.col("__inter") / F.col("__sza")
        return pairs.where(contain >= F.lit(t)).select(
            "id_a", "id_b", F.round(contain, 6).alias("containment")
        )
    sets = shingle_sets(df, id_col, text_col, n).localCheckpoint()
    cand = containment_candidates(sets, t, max_token_df)
    sa = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("__sha"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("__shb"))
    contain = F.size(F.array_intersect("__sha", "__shb")) / F.size("__sha")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__cont", contain)
        .where(F.col("__cont") >= F.lit(t))
        .select("id_a", "id_b", F.round("__cont", 6).alias("containment"))
    )


def containment_candidates(
    sets: DataFrame, threshold: float, max_token_df: int
) -> DataFrame:
    """Candidate ``(id_a, id_b)`` pairs of the capped containment join —
    exposed separately (like :func:`jaccard_prefix_candidates`) so the
    candidate volume, THE scale metric of this family, is directly
    measurable by the skew tests.

    Prefix filter on the CONTAINED side, df cap on the container-side
    inverted index, and the PPJoin positional filter applied TWICE:
    per-meeting inside the join condition (pruning meetings before the
    shuffle into the min-aggregation) and again at the minimum meeting.
    The per-meeting form is sound because the token order is a global
    TOTAL order (ascending df, ties by text): for the tokens two
    documents share, ordering by position-in-A equals ordering by
    position-in-B, so the minimum meeting maximizes the positional upper
    bound ``1 + min(|A|-pa, |B|-pb)`` — if any meeting passes, the
    minimum meeting passes, and it is retained unchanged. Both filters
    stay sound under the finite cap: capped tokens have df > cap >= df
    of every surviving token, so they sort strictly AFTER all surviving
    tokens and the observed minimum meeting is the true first shared
    token whenever any shared token survives (the documented cap trade;
    property-tested in ``test_containment_capped_equals_cap_only``)."""
    t = float(threshold)
    ranked = ranked_tokens(sets)
    prefix = ranked.where(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9)) + 1
    )
    full = cap_shingle_df(ranked.select("id", "s", "pos", "sz"), max_token_df)
    min_overlap = F.ceil(F.lit(t) * F.col("a.sz") - F.lit(1e-9))
    meeting_bound = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
    )
    meetings = (
        prefix.alias("a")
        .join(full.alias("b"), "s")
        .where(
            (F.col("a.id") != F.col("b.id"))
            # |A∩B| <= |B|, so containment >= t forces t*|A| <= |B|
            & (F.lit(t) * F.col("a.sz") <= F.col("b.sz") + F.lit(1e-9))
            # per-meeting positional filter (see docstring soundness)
            & (meeting_bound >= min_overlap)
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("__sza"),
            F.col("b.sz").alias("__szb"),
            F.struct(F.col("a.pos").alias("pa"), F.col("b.pos").alias("pb")).alias("__m"),
        )
    )
    first = meetings.groupBy("id_a", "id_b", "__sza", "__szb").agg(
        F.min("__m").alias("__m")
    )
    min_overlap_g = F.ceil(F.lit(t) * F.col("__sza") - F.lit(1e-9))
    upper = F.lit(1) + F.least(
        F.col("__sza") - F.col("__m.pa"), F.col("__szb") - F.col("__m.pb")
    )
    return first.where(upper >= min_overlap_g).select("id_a", "id_b")


def containment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_token_df: int | None = 1000,
    broadcast_threshold: int | None = 4_000_000,
    input_rows: int | None = None,
) -> DataFrame:
    """Drop documents (nearly) contained in another document — keep the
    containers: the subsumption-dedup policy (wire stories quoted inside
    longer articles, quoted-reply chains, snippet pages).

    Survivor rule, deterministic like :func:`exact_dedup`'s: a one-way
    contained document is dropped; a MUTUALLY-containing pair
    (near-identical docs, both directions in the pair list) keeps the
    smaller id.

    The drop-list is DUPLICATE-DENSITY-sized, not corpus-sized, so at
    typical dup densities it broadcasts (one map-side anti-join, no
    corpus shuffle). But a high-dup-density 100 TB corpus — e.g. 20%
    contained docs over 10B rows = 2B drop ids — would exceed what the
    driver can hold, so the removal probes the drop-list's actual row
    count (cheap: the list is localCheckpointed, and the anti-join
    needs it materialized anyway) and falls back to a plain shuffled
    anti-join above ``broadcast_threshold`` rows (default 4M ids ≈
    tens of MB serialized; size to driver/executor memory).
    ``broadcast_threshold=None`` skips the probe and always broadcasts
    (the pre-round-10 behavior); ``0`` forces the shuffle path.

    ``input_rows``: callers that KNOW the corpus size (a catalog count,
    parquet metadata) pass it here; since the drop list only ever holds
    ids of ``df``, ``input_rows <= broadcast_threshold`` proves the
    broadcast is safe WITHOUT the count probe — the r10 verdict's
    probe-skip knob for inputs below the threshold by construction."""
    pairs = containment_pairs(
        df, id_col, text_col, n, threshold, max_token_df
    ).localCheckpoint()
    mutual = pairs.join(
        pairs.select(
            F.col("id_a").alias("id_b"), F.col("id_b").alias("id_a")
        ),
        ["id_a", "id_b"],
    ).select("id_a", "id_b")
    one_way_drops = pairs.join(mutual, ["id_a", "id_b"], "left_anti").select(
        F.col("id_a").alias("__drop")
    )
    mutual_drops = mutual.where(F.col("id_a") > F.col("id_b")).select(
        F.col("id_a").alias("__drop")
    )
    drop = one_way_drops.union(mutual_drops).distinct()
    probe_needed = broadcast_threshold is not None and (
        input_rows is None or input_rows > broadcast_threshold
    )
    if probe_needed:
        # checkpoint: the drop list feeds the count probe AND the
        # anti-join — without it the mutual/one-way joins over `pairs`
        # run twice. Skipped when no probe runs: the anti-join is then
        # the only consumer and the checkpointed `pairs` already bounds
        # recompute to the two cheap drop-side joins.
        drop = drop.localCheckpoint()
    if not probe_needed or drop.count() <= broadcast_threshold:
        drop = F.broadcast(drop)
    return df.join(drop, df[id_col] == F.col("__drop"), "left_anti")


def c4_span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 3,
) -> DataFrame:
    """C4's exact span deduplication (Raffel et al. 2020 §2.2: "we
    discarded all but one of any three-sentence span occurring more
    than once in the data set") — the OTHER half of the C4 recipe next
    to :func:`thoth_spark.operators.text.c4_rules`, and the
    sentence-grained sibling of :func:`passage_dedup`'s token-run
    removal (which drops EVERY occurrence; C4 keeps the first).

    Sentences are the terminal-punctuation proxy used across the C4
    family (a ``[.!?]`` followed by whitespace ends a sentence — no
    NLTK dependency, replayable in SQL). Every ``span`` consecutive
    sentences form a span; the GLOBALLY first occurrence of each
    duplicated span (smallest ``(id, position)``, a total order, so
    the keeper is deterministic under any partitioning) survives and
    every later occurrence has those sentences removed. Overlapping
    duplicate spans union their removals — which bounds the "first
    occurrence survives" guarantee: when a LATER occurrence overlaps
    the keeper span itself (a doc of repeated identical sentences,
    e.g. ``"a. a. a. a."`` — keeper at pos 1, duplicate at pos 2),
    the duplicate's removal strips sentences the keeper span shares,
    so only the non-overlapped prefix of the kept span survives. What
    is guaranteed: the keeper's own positions are never removed BY
    ITS OWN span group, and a span's first occurrence is never
    removed when no other duplicated span overlaps it. Docs with
    fewer than ``span`` sentences pass through untouched.

    Returns ``(id, text, n_sentences, n_removed)`` with ``text``
    rebuilt from the surviving sentences (single-space joined).

    Scale shape: the wire carries span IDENTITIES, not span text —
    each span enters the global aggregate as ``xxhash64`` of its
    sentence window (the repetition-pass trade: a 64-bit collision
    merges two spans at ~2⁻⁶⁴ per pair; the DuckDB oracle keeps
    grouping the strings and stays value-identical), so the dedup
    shuffle is O(#sentences) 16-byte rows, never corpus bytes. One
    ``groupBy(hash)`` with a ``min(struct(id, pos))`` partial agg
    finds every keeper (no window over the corpus), one equi-join
    marks later occurrences, and the rebuild is a per-doc
    ``groupBy(id)`` collecting removed positions back onto the
    one-row-per-doc sentence frame."""
    if span < 1:
        raise ValueError(f"span must be >= 1; got {span}")
    sents = _c4_sentence_frame(df, id_col, text_col).localCheckpoint(
        eager=False
    )
    spans = _c4_span_hashes(sents, span)
    keepers = spans.groupBy("h").agg(
        F.min(F.struct("id", "pos")).alias("first"),
        F.count(F.lit(1)).alias("occ"),
    )
    dup_occurrences = (
        spans.join(keepers.where(F.col("occ") > 1), on="h")
        .where(
            (F.col("id") != F.col("first.id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .select("id", "pos")
    )
    return _c4_rebuild(sents, dup_occurrences, text_col, span)


def _c4_sentence_frame(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """``(id, __sents)`` — one row per document with its sentence array.

    Sentence split: insert a sentinel after terminal punct + space —
    RE2 (DuckDB) has no lookbehind, so the same replace-then-split
    expression replays exactly in the oracle."""
    sent_arr = F.split(
        F.regexp_replace(F.trim(F.col(text_col)), r"([.!?])\s+", "$1\x01"),
        "\x01",
    )
    return df.select(F.col(id_col).alias("id"), sent_arr.alias("__sents"))


def _c4_span_hashes(sents: DataFrame, span: int) -> DataFrame:
    """``(id, pos, h)`` — the xxhash64 identity of every ``span``-sentence
    window (1-based start position). Docs with fewer than ``span``
    sentences contribute no rows. Span IDENTITIES, not span text, are
    what crosses every downstream shuffle."""
    n_sent = F.size("__sents")
    return sents.select(
        "id",
        F.explode(
            F.when(
                n_sent >= span,
                F.transform(
                    F.sequence(F.lit(1), n_sent - (span - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.xxhash64(
                            F.concat_ws("\x01", F.slice("__sents", i, span))
                        ).alias("h"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<pos:int,h:bigint>>"))
        ).alias("s"),
    ).select("id", "s.pos", "s.h")


def _c4_rebuild(
    sents: DataFrame, dup_occurrences: DataFrame, text_col: str, span: int
) -> DataFrame:
    """Rebuild ``(id, text, n_sentences, n_removed)`` from the removal
    occurrences ``(id, pos)``: explode each duplicate span to its
    ``span`` sentence positions, union overlaps per doc, and filter the
    one-row-per-doc sentence frame."""
    removed = (
        dup_occurrences.select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (span - 1))
            ).alias("ri"),
        )
        .groupBy("id")
        .agg(F.array_sort(F.collect_set("ri")).alias("__rm"))
    )
    return (
        sents.join(removed, on="id", how="left")
        .select(
            "id",
            F.array_join(
                F.filter(
                    F.transform(
                        F.sequence(F.lit(1), F.size("__sents")),
                        lambda i: F.when(
                            ~F.coalesce(
                                F.array_contains("__rm", i), F.lit(False)
                            ),
                            F.element_at("__sents", i),
                        ),
                    ),
                    lambda s: s.isNotNull(),
                ),
                " ",
            ).alias(text_col),
            F.size("__sents").cast("int").alias("n_sentences"),
            F.coalesce(F.size("__rm"), F.lit(0)).cast("int").alias(
                "n_removed"
            ),
        )
    )


def build_span_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 3,
    n_buckets: int = 64,
) -> None:
    """Materialize the persisted keep-first span-hash index — the state
    store that upgrades :func:`c4_span_dedup` from one-shot batch to a
    GROWING corpus (the span twin of the MinHash band index behind
    :func:`minhash_lsh_pairs_incremental` and of
    ``similarity.build_ivf_index``'s nightly-ingest layout):

    - ``<path>/spans`` — ``(h, id, pos)``, the FIRST occurrence of every
      span hash seen so far, written ``partitionBy("bucket")`` with
      ``bucket = pmod(h, n_buckets)`` so an incremental batch lists and
      scans only the hash buckets it actually touches;
    - ``<path>/meta`` — ``(span, n_buckets, spans_schema)``: the query
      side must hash the same window width, prune on the same fan-out,
      and read a possibly file-less spans directory with an explicit
      schema (a fresh/empty index has no part files to infer from).

    Index rows are span IDENTITIES (one 16-byte ``(h, pos)`` + the doc
    id per DISTINCT span), so index size is O(#distinct spans), never
    corpus bytes. Rows additionally carry their writer's batch tag as
    the outer ``bid`` partition (``"seed"`` here) — what makes a
    retried streaming trigger idempotent, see
    :func:`c4_span_dedup_incremental`. Seed it from an already-emitted
    corpus — the ORIGINAL span stream, exactly the bookkeeping
    :func:`c4_span_dedup` computes its keepers from — or from
    ``df.limit(0)`` for an empty index that the streaming sink fills
    from the first micro-batch. Size ``n_buckets`` to the cluster
    (thousands at 100 TB: the per-append file count is ≤ n_buckets and
    the pruning grain is 1/n_buckets of the index)."""
    if span < 1:
        raise ValueError(f"span must be >= 1; got {span}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1; got {n_buckets}")
    spark = df.sparkSession
    sents = _c4_sentence_frame(df, id_col, text_col)
    firsts = _c4_span_hashes(sents, span).groupBy("h").agg(
        F.min(F.struct("id", "pos")).alias("first")
    )
    rows = firsts.select(
        "h",
        F.col("first.id").alias("id"),
        F.col("first.pos").alias("pos"),
        F.lit("seed").alias("bid"),
        F.pmod("h", F.lit(n_buckets)).cast("int").alias("bucket"),
    )
    # one writer task per bucket: without this, every shuffle partition
    # of the groupBy holds a mix of buckets and the dynamic-partition
    # write fans out to O(tasks × buckets) tiny files
    rows.repartition(n_buckets, "bucket").write.mode("overwrite").partitionBy(
        "bid", "bucket"
    ).parquet(f"{path}/spans")
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in rows.schema.fields
    )
    spark.createDataFrame(
        [(span, n_buckets, ddl)],
        "span int, n_buckets int, spans_schema string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def c4_span_dedup_incremental(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_tag: int | str | None = None,
) -> DataFrame:
    """Keep-first C4 span dedup for an INCREMENTAL batch against the
    persisted :func:`build_span_index` at ``path`` — the production
    shape for a growing corpus: crawl N+1 dedups against every span
    already ingested without re-reading the corpus, exactly like
    :func:`minhash_lsh_pairs_incremental` for the LSH family. A batch
    occurrence is removed iff its span hash is already in the index
    (the keeper was emitted in an earlier batch) or an earlier
    ``(id, pos)`` occurrence exists within the batch itself; the
    batch's NEW first occurrences are then appended to the index
    (O(batch) dynamic-partition write, only touched buckets).

    Returns the batch in :func:`c4_span_dedup`'s output schema
    ``(id, text, n_sentences, n_removed)``. The per-hash index verdict
    is checkpoint-pinned BEFORE the append, so the returned frame can
    never observe the index rows its own batch just added, however
    late it is evaluated.

    ``batch_tag`` makes a RETRIED batch idempotent — the standard
    ``foreachBatch``-with-``batch_id`` recipe: appended rows land in
    the ``bid=<tag>`` partition via dynamic partition OVERWRITE (a
    rerun replaces its own prior attempt's rows instead of stacking),
    and the probe excludes ``bid = <tag>`` (partition-pruned), so a
    rerun can never mistake its first attempt's appends for earlier
    corpus and strip its own keepers. Tags must be unique per LOGICAL
    batch (Structured Streaming's ``batch_id`` is; the streaming sink
    passes it). With ``batch_tag=None`` rows land in ``bid=u`` with
    plain append — fine for one-shot nightly ingest, no retry
    protection.

    Keeper semantics across batches is ARRIVAL order — the first
    occurrence ever SEEN survives, which is the only causal choice
    when earlier batches are already emitted. It coincides with the
    batch operator's global ``(id, pos)`` keeper whenever batches are
    processed in ascending id order, so ``union(incremental outputs)``
    equals one :func:`c4_span_dedup` run over the union corpus
    (asserted in tests); out-of-order arrival keeps the same
    output-text semantics but elects the arrival-first keeper. Doc ids
    must be unique across batches (re-ingesting a doc id dedups it
    against its own earlier spans).

    Scale shape: the index is read EXACTLY ONCE per batch — batch span
    hashes (16-byte identities) join the ``pmod(h, n_buckets)``
    buckets the batch touches (the touched-bucket list is a driver
    collect bounded by ``n_buckets``), and the pinned per-hash verdict
    frame then feeds both the removal join and the append's new-firsts
    filter — so probe volume is O(batch spans + touched index
    fraction) and the append writes one file per touched bucket.
    Compact with :func:`span_index_compact` after sustained
    micro-batch ingest."""
    spark = batch.sparkSession
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    span, n_buckets = int(meta["span"]), int(meta["n_buckets"])
    tag = "u" if batch_tag is None else str(batch_tag)
    sents = _c4_sentence_frame(batch, id_col, text_col).localCheckpoint(
        eager=False
    )
    spans = (
        _c4_span_hashes(sents, span)
        .withColumn("bucket", F.pmod("h", F.lit(n_buckets)).cast("int"))
        .localCheckpoint(eager=False)
    )
    # ≤ n_buckets values by construction — a driver-bounded collect
    touched = [r[0] for r in spans.select("bucket").distinct().collect()]
    if not touched:
        # no doc in the batch reaches `span` sentences: nothing to
        # probe, nothing to append, every doc passes through untouched
        empty = spans.select("id", "pos")
        return _c4_rebuild(sents, empty, text_col, span)
    probe_filter = F.col("bucket").isin(touched)
    if batch_tag is not None:
        # retry idempotence: never probe this tag's own prior attempt
        # (untagged batches all share bid=u and MUST see each other)
        probe_filter = probe_filter & (F.col("bid") != tag)
    idx = (
        spark.read.schema(meta["spans_schema"])
        .parquet(f"{path}/spans")
        .where(probe_filter)
        .select("h", F.lit(True).alias("__in_idx"))
    )
    # ONE index scan per batch: the per-hash verdict (batch-first
    # occurrence + already-indexed flag) is one row per distinct batch
    # hash, eagerly pinned — the removal join and the append both
    # derive from it, and the pin doubles as the no-self-observation
    # barrier for the append below
    flagged = (
        spans.groupBy("h")
        .agg(F.min(F.struct("id", "pos")).alias("first"))
        .join(idx, "h", "left")
        .localCheckpoint()
    )
    dup_occurrences = (
        spans.join(flagged, "h")
        .where(
            F.col("__in_idx").isNotNull()
            | (F.col("id") != F.col("first.id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .select("id", "pos")
    )
    (
        flagged.where(F.col("__in_idx").isNull())
        .select(
            "h",
            F.col("first.id").alias("id"),
            F.col("first.pos").alias("pos"),
            F.lit(tag).alias("bid"),
            F.pmod("h", F.lit(n_buckets)).cast("int").alias("bucket"),
        )
        .repartition(len(touched), "bucket")
        .write.mode("overwrite" if batch_tag is not None else "append")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bid", "bucket")
        .parquet(f"{path}/spans")
    )
    return _c4_rebuild(sents, dup_occurrences, text_col, span)


def span_index_compact(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact a :func:`build_span_index` ``spans`` table after sustained
    incremental/streaming ingest — each append leaves one file per
    touched bucket, so after thousands of micro-batches the file count,
    not the data, dominates listing cost. Delegates to the IVF cell
    compactor (same rewrite + atomic-rename swap, same caveats), reading
    with the stored DDL so a fresh file-less index compacts as a no-op,
    and COLLAPSING every per-batch retry-isolation partition into one
    ``bid=c`` epoch — without the collapse the ``bid`` level would pin
    one leaf directory per trigger forever and file count would grow
    with trigger count no matter how often you compact. Probe results
    are untouched (probes read all bids).

    Operational caveat the collapse adds to the usual rename-swap one:
    run it only with no trigger in flight and the stream's last batch
    COMMITTED to its checkpoint (stop the stream, compact, restart) —
    a retry of a batch whose tag was already collapsed would find its
    own first attempt's spans under ``bid=c`` and dedup against
    itself. Committed batches are never re-run, so a clean stop makes
    this unreachable. Returns ``{files_before, files_after, bytes}``."""
    from thoth_spark.operators.similarity import ivf_index_compact

    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    return ivf_index_compact(
        spark,
        path,
        target_file_bytes,
        table="spans",
        part_col=["bid", "bucket"],
        schema=meta["spans_schema"],
        transform=lambda d: d.withColumn("bid", F.lit("c")),
    )
