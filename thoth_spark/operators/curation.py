"""Corpus-curation operators beyond per-document filtering: line-level
dedup, sequence packing, corpus mixing, and deterministic training-order
shuffling — the steps between "clean documents" and "training batches".

Everything here is deterministic and engine-replayable (md5-keyed like
:mod:`thoth_spark.operators.sampling`), because a training corpus that
cannot be reproduced bit-for-bit cannot be audited. The only Python-path
code is the greedy bin-packing loop in :func:`pack_sequences`, which is
inherently sequential per shard and runs as one Arrow-batched
``applyInPandas`` group per shard — every other operator is pure JVM
column expressions and survives a 100 TB scan.

Scale design notes per operator:

- :func:`line_dedup` — ``keep='first'``: two shuffles (one window keyed
  by ``line_hash`` electing the surviving copy with O(1) row_number
  state, one ``groupBy(doc)`` to reassemble). ``keep='none'``: per-line
  doc-frequency via ``groupBy(lh).agg(count_distinct)`` (two-phase
  partial aggregation absorbs hot boilerplate lines map-side), filtered
  to the over-``max_df`` DROP-LIST and left-joined back on ``lh`` —
  never a window over ``lh`` (single-task hot-key buffering), and never
  a join against the corpus-sized full frequency table (which would
  re-concentrate a hot line's 10^8 instances into one join task; the
  drop-list is tiny and broadcast/AQE-friendly). Shuffle volume ∝
  corpus lines, never lines².
- :func:`pack_sequences` — one shuffle to the packing shards; each shard
  packs independently, so parallelism = ``n_shards`` (size it to the
  cluster, e.g. 10k shards at 100 TB). Per-shard state is O(1).
- :func:`mix_corpora` — one tiny per-source count aggregate collected to
  the driver (#sources rows), then a map-side hash filter; no shuffle of
  the data itself.
- :func:`training_order` — one shuffle keyed by the target shard; the
  within-shard sort rides the shuffle's sort-merge machinery.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from thoth_spark.operators.sampling import HASH_BUCKETS, _bucket
from thoth_spark.operators.text import tokens as text_tokens
from thoth_spark.session import drop_zip_finders


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    keep: str = "first",
    max_df: int | None = None,
) -> DataFrame:
    """Corpus-level line deduplication (the CCNet pre-processing step):
    split every document on ``sep``, and for each distinct line keep only
    its first occurrence — the copy in the smallest ``(id, position)``
    (``keep='first'``) — or drop the line from ALL documents once it
    appears in more than ``max_df`` documents (``keep='none'``, the
    boilerplate-removal variant; requires ``max_df``).

    Returns ``(id, text_deduped, n_lines, n_kept)`` with surviving lines
    rejoined by ``sep`` in their original order. Lines are compared on
    a 64-bit hash of their trimmed content (xxhash64 — the same identity
    width the span/window dedups use on the wire), so incidental
    surrounding whitespace does not defeat the dedup but interior
    spacing differences do (reference semantics: exact line match).
    """
    if keep not in ("first", "none"):
        raise ValueError("keep must be 'first' or 'none'")
    if keep == "none" and max_df is None:
        raise ValueError("keep='none' requires max_df")

    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias("pos", "line"),
    ).withColumn("lh", F.xxhash64(F.trim(F.col("line"))))

    if keep == "first":
        # One window pass over the line hash decides survival per line
        # instance — exactly one shuffle keyed by lh, no join back.
        # row_number keeps O(1) running state per partition, so even a
        # boilerplate line in 10^8 documents streams through one task
        # without buffering.
        survives = F.row_number().over(W.partitionBy("lh").orderBy("id", "pos")) == 1
        flagged = lines.withColumn("keep", survives)
    else:
        # Per-line document frequency as a real two-phase aggregate, NOT
        # a window: a window collect_set over lh would buffer every
        # instance of a hot boilerplate line (plus its distinct-id set)
        # inside a single task, while count_distinct plans as two
        # hash-aggregate phases — dedup on (lh, id) then count per lh —
        # with map-side partials absorbing the hot key. Joining the FULL
        # frequency table back would re-concentrate a hot boilerplate
        # line (10^8 instances of one lh) into a single join task, so the
        # join's right side is only the DROP-LIST — lines whose df
        # exceeds max_df, typically a tiny fraction of distinct lines —
        # left-joined on lh with keep = "not on the drop-list". That
        # usually brings the right side under broadcast/AQE-split range;
        # the hot key's instances then never leave their scan partitions.
        drop_list = (
            lines.groupBy("lh")
            .agg(F.count_distinct("id").alias("__line_df"))
            .where(F.col("__line_df") > F.lit(int(max_df)))
            .select("lh", F.lit(True).alias("__dropped"))
        )
        flagged = (
            lines.join(drop_list, "lh", "left")
            .withColumn("keep", F.col("__dropped").isNull())
            .drop("__dropped")
        )

    kept_structs = F.array_sort(
        F.collect_list(F.when(F.col("keep"), F.struct("pos", "line")))
    )
    return flagged.groupBy("id").agg(
        F.array_join(
            F.transform(kept_structs, lambda s: s["line"]), sep
        ).alias("text_deduped"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
    )


def duplicated_passage_starts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Start positions (0-based token index) of every duplicated passage
    window: length-``window`` token runs whose exact content appears at
    least ``min_count`` times corpus-wide (across documents OR repeated
    inside one document). Returns ``(id, pos)``.

    This is the window-quantized form of exact-substring training-data
    dedup (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL'22 — public): the suffix-array formulation finds every
    duplicated substring ≥ L tokens; quantizing to stride-1 windows of
    exactly L tokens finds the same duplicated regions (any duplicated
    run ≥ L tokens contains ≥ 1 duplicated window; runs < L are below
    the dedup threshold by definition) and maps onto two hash shuffles
    instead of a distributed suffix array.

    Scale shape: one explode to (doc, pos, window-hash) — corpus tokens ×
    1 rows, each carrying a 32-hex hash, not the window text — then a
    two-phase ``groupBy(wh)`` count (map-side partials absorb hot
    boilerplate windows) and a shuffle join of the instance frame against
    the duplicated-hash set. Never all-pairs: candidate volume is linear
    in corpus tokens regardless of duplicate density.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    return _passage_starts(
        _tokenized(df, id_col, text_col), window, min_count
    ).select("id", "pos")


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, __toks)`` lazily checkpointed: the passage pipeline has
    three consumers of the tokenized corpus (window hashing, per-token
    positions, per-doc sizes) — the checkpoint barrier makes the corpus
    SCAN + tokenization run once instead of once per consumer (at 100 TB
    the re-scans, not the joins, would dominate)."""
    return df.select(
        F.col(id_col).alias("id"), text_tokens(F.col(text_col)).alias("__toks")
    ).localCheckpoint(eager=False)


def _passage_starts(toks_df: DataFrame, window: int, min_count: int) -> DataFrame:
    # Window identity = xxhash64 over the slice of per-token xxhash64s:
    # the token-hash array is computed once per document (its own
    # projection below the Generate, so it cannot be inlined per
    # position), and each window then hashes ``window`` longs instead of
    # building the window's text (concat_ws) and md5-ing it — the window
    # hashing was 80% of passage_dedup's task time, and it runs TWICE
    # (count side + broadcast-join probe side). 64-bit identities are
    # the house convention for dedup wire rows (c4 span dedup, simhash).
    hashed = toks_df.where(F.size("__toks") >= window).select(
        "id", F.transform("__toks", lambda t: F.xxhash64(t)).alias("__th")
    )
    wins = hashed.select(
        "id",
        F.posexplode(
            F.sequence(F.lit(1), F.size("__th") - (window - 1))
        ).alias("pos", "__i"),
        "__th",
    ).select(
        "id", "pos", F.xxhash64(F.slice("__th", F.col("__i"), window)).alias("wh")
    )
    dup = (
        wins.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .where(F.col("__cnt") >= int(min_count))
        .select("wh")
    )
    return wins.join(dup, "wh")


def passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring passage dedup: remove every token covered by a
    duplicated length-``window`` token run (see
    :func:`duplicated_passage_starts`) from ALL of its occurrences, and
    reassemble each document from its surviving tokens. The standard
    LLM-corpus step for memorization/repetition control — unlike
    document-level near-dup (MinHash/SimHash) it removes duplicated
    REGIONS inside otherwise-unique documents (licence headers, quoted
    boilerplate, templated paragraphs).

    Note this drops the duplicated text everywhere (no surviving copy) —
    Lee et al.'s ExactSubstr semantics, which measured no quality loss
    from removing all copies; use :func:`line_dedup` ``keep='first'``
    when a canonical copy must survive.

    Returns ``(id, text_deduped, n_tokens, n_kept)`` for every input
    document (documents shorter than ``window`` tokens pass through
    unchanged).

    Scale shape beyond the window-finding pass: duplicated window STARTS
    (∝ duplicated-text volume, not × window) are the only rows shuffled
    to the per-doc side — the ×``window`` expansion to covered positions
    and their dedup happen inside a per-document array, and the
    surviving tokens are re-derived from the document's own token array
    by position (``array_except`` + ``element_at``), so the corpus's
    tokens are never exploded into per-token rows, shuffled, or
    re-grouped. One narrow ``groupBy(id)`` over the starts plus one join
    of doc-level rows replaces the former explode → distinct →
    ``repartition(id)`` → anti-join → ``collect_list`` regroup. No step
    buffers a whole document's hot key in one task except the
    per-document arrays themselves (bounded by document length).
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    toks_df = _tokenized(df, id_col, text_col)
    starts = _passage_starts(toks_df, window, min_count)
    cov = starts.groupBy("id").agg(
        F.array_distinct(
            F.flatten(
                F.collect_list(
                    F.sequence(F.col("pos"), F.col("pos") + (window - 1))
                )
            )
        ).alias("__cov")
    )
    joined = toks_df.join(cov, "id", "left")
    pos_seq = F.when(
        F.size("__toks") > 0, F.sequence(F.lit(0), F.size("__toks") - 1)
    ).otherwise(F.array().cast("array<int>"))
    kept_pos = F.when(
        F.col("__cov").isNotNull(), F.array_except(pos_seq, F.col("__cov"))
    ).otherwise(pos_seq)
    return joined.select(
        "id",
        F.array_join(
            F.transform(
                kept_pos, lambda p: F.element_at(F.col("__toks"), p + F.lit(1))
            ),
            " ",
        ).alias("text_deduped"),
        F.size("__toks").cast("long").alias("n_tokens"),
        F.size(kept_pos).cast("long").alias("n_kept"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    budget: int = 2048,
    n_shards: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Greedy sequence packing: assign documents to fixed-token-budget
    bins (training context windows), first-fit in deterministic order —
    the step that turns a curated corpus into dense training examples.

    Documents are hash-distributed over ``n_shards`` independent packing
    shards (pack quality is statistically identical to a global pack, and
    each shard packs in parallel — the global greedy order would be a
    single sequential scan of the whole corpus). Within a shard,
    documents are taken in ``id`` order and appended to the current bin
    until the next document would overflow ``budget``, which closes the
    bin; a document larger than ``budget`` occupies a bin alone. The
    running state is one (bin, fill) pair per shard, so the Arrow batch
    loop is O(rows) with O(1) memory.

    Returns ``(id, n_tokens, shard, bin_idx, bin_pos)``.
    """
    if budget <= 0 or n_shards <= 0:
        raise ValueError("budget and n_shards must be positive")

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(n_tokens_col).cast("long").alias("n_tokens"),
        (_bucket(F.col(id_col), seed) % n_shards).cast("int").alias("shard"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_finders()
        pdf = pdf.sort_values("id").reset_index(drop=True)
        bins, poss = [], []
        bin_idx, fill, pos = 0, 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if fill > 0 and fill + n > budget:
                bin_idx, fill, pos = bin_idx + 1, 0, 0
            bins.append(bin_idx)
            poss.append(pos)
            fill += n
            pos += 1
        pdf["bin_idx"] = pd.Series(bins, dtype="int64")
        pdf["bin_pos"] = pd.Series(poss, dtype="int64")
        return pdf

    return base.groupBy("shard").applyInPandas(
        _pack, "id long, n_tokens long, shard int, bin_idx long, bin_pos long"
    )


def mix_corpora(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 42,
    counts: dict[str, int] | None = None,
) -> DataFrame:
    """Down-sample sources so the output mixture matches target
    ``weights`` while keeping ALL of the scarcest source (relative to its
    weight) — the standard corpus-mixing step before training.

    For each source ``s`` with ``count_s`` rows and weight ``w_s``, the
    keep rate is ``rate_s = C * w_s / count_s`` with
    ``C = min_s(count_s / w_s)`` — the binding source keeps rate 1.0 and
    every other source is deterministically hash-sampled down so expected
    output proportions equal the weights. Sources absent from
    ``weights`` are dropped (rate 0).

    The per-source counts are a tiny aggregate collected to the driver
    (#sources rows); the sampling itself is a map-side hash filter — the
    data never shuffles. Deterministic in (data, weights, seed).

    Returns the sampled rows with an extra ``mix_rate`` column (the
    applied keep rate, for lineage).
    """
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be a non-empty dict of positive numbers")

    # ``counts`` lets a caller that already aggregated per-source counts
    # (temperature_mix derives its weights from them) skip the recount —
    # otherwise the counting pass, a full corpus scan, would run twice.
    if counts is None:
        counts = {
            r["s"]: r["c"]
            for r in df.where(F.col(source_col).isin(list(weights)))
            .groupBy(F.col(source_col).alias("s"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
    missing = [s for s in weights if s not in counts]
    if missing:
        raise ValueError(f"sources absent from the data: {sorted(missing)}")
    scale = min(counts[s] / weights[s] for s in weights)
    # Integer bucket thresholds so the survival predicate is exact and
    # replayable: a row survives iff bucket < floor(rate * HASH_BUCKETS).
    thresholds = {
        s: int(scale * weights[s] / counts[s] * HASH_BUCKETS) for s in weights
    }
    thr_col = F.create_map(
        *[F.lit(x) for kv in thresholds.items() for x in kv]
    )[F.col(source_col)]
    rate_col = F.create_map(
        *[
            F.lit(x)
            for s in weights
            for x in (s, float(thresholds[s]) / HASH_BUCKETS)
        ]
    )[F.col(source_col)]
    return (
        df.where(F.col(source_col).isin(list(weights)))
        .where(_bucket(F.col(key_col), seed) < thr_col)
        .withColumn("mix_rate", rate_col)
    )


def temperature_mix(
    df: DataFrame,
    source_col: str = "source",
    key_col: str = "doc_id",
    alpha: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Temperature-based corpus rebalancing: down-sample so output
    proportions follow ``count_s ** alpha`` renormalized — the
    multilingual/multi-source mixing rule of the XLM-R / mT5 / LLaMA
    recipes. ``alpha=1`` keeps natural proportions (no-op), ``alpha=0``
    equalizes every source, and the usual 0.3–0.7 range up-weights
    scarce sources without flattening the head entirely.

    Implementation: the target weights are the observed per-source
    counts raised to ``alpha`` (one tiny aggregate), then the
    :func:`mix_corpora` keep-all-of-the-binding-source rate math and
    map-side hash filter apply unchanged — deterministic in
    (data, alpha, seed), one scan, no shuffle."""
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be in [0, 1]")
    counts = {
        r["s"]: r["c"]
        for r in df.where(F.col(source_col).isNotNull())
        .groupBy(F.col(source_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    if not counts:
        raise ValueError("empty input (or every source is NULL)")
    weights = {s: float(c) ** alpha for s, c in counts.items()}
    # NULL-source rows are dropped (mix_corpora's isin filter can never
    # keep them anyway — real crawls carry null lang/source routinely,
    # and a rebalancing pass must not die on them); counts are threaded
    # through so the corpus is scanned once, not recounted.
    return mix_corpora(
        df,
        weights,
        source_col=source_col,
        key_col=key_col,
        seed=seed,
        counts=counts,
    )


def training_order(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Deterministic global shuffle into training shards: each row gets a
    pseudo-random but reproducible ``(shard, shard_pos)`` — the write
    order for sharded training files. Unlike ``df.orderBy(rand())`` this
    is a pure function of the data (stable across reruns, retries, and
    cluster layouts) and never needs a single global sort: one shuffle
    keyed by shard, with the within-shard sort riding the shuffle.

    Shard and order both derive from the same md5 bucket stream (ties
    broken by id), so any engine replays the exact order.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    b = _bucket(F.col(id_col), seed)
    w = W.partitionBy("shard").orderBy("__b", id_col)
    return (
        df.withColumn("__b", b)
        .withColumn("shard", (F.col("__b") % n_shards).cast("int"))
        .withColumn("shard_pos", F.row_number().over(w) - 1)
        .drop("__b")
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Snapshot diff between two corpus versions: one row per document id
    with status ``added`` / ``removed`` / ``changed`` / ``unchanged``
    (content compared by the canonical md5 fingerprint, so whitespace
    and case churn don't count as changes).

    The audit primitive for incremental pipelines: before reprocessing a
    refreshed crawl, diff it against the previous snapshot and run the
    expensive stages (dedup, classify, embed) on ``added`` + ``changed``
    only. Physical shape: each side reduces to (id, fingerprint) map-side
    — 32 bytes/doc, not the text — then ONE full-outer sort-merge join
    keyed by id; shuffle volume ∝ #docs, independent of document size."""
    from thoth_spark.operators.text import fingerprint

    o = old.select(
        F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("__old_fp")
    )
    n = new.select(
        F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("__new_fp")
    )
    joined = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("__old_fp").isNull(), F.lit("added"))
        .when(F.col("__new_fp").isNull(), F.lit("removed"))
        .when(F.col("__old_fp") == F.col("__new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select("id", status.alias("status"))


def c4_pipeline(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_words: int = 3,
    min_sentences: int = 5,
    span: int = 3,
) -> DataFrame:
    """The complete C4 recipe (Raffel et al. 2020 §2.2) composed end to
    end — the two halves that shipped separately
    (:func:`thoth_spark.operators.text.c4_rules` line/page gates and
    :func:`thoth_spark.operators.dedup.c4_span_dedup` keep-first span
    dedup) as ONE waterfall, the C4 sibling of the Gopher-first
    ``curate_documents_pipeline`` showcase: gate first, so the
    corpus-wide span aggregate only ever hashes surviving pages' KEPT
    lines — at 100 TB the gate is a scan-speed column pass and
    typically removes most of the span shuffle before it exists.

    Returns one row per SURVIVING page in :func:`c4_span_dedup`'s
    schema ``(id, text, n_sentences, n_removed)``, where ``text`` is
    the gated page's kept lines with duplicated spans removed
    (``n_sentences`` counts the gated page's sentences BEFORE span
    removal). Rejected pages are dropped — ``c4_rules`` itself keeps
    them inspectable; a composed pipeline's contract is the clean
    corpus. Callers can apply a post-dedup sentence floor as
    ``n_sentences - n_removed >= k`` — noting this counts SPLIT
    sentences (terminal punct + whitespace, the span grain), a
    deliberately different measure from the gate's raw punct-count
    proxy (which also counts ``3.14``'s dot and punct at line ends
    with no following text), so ``k`` is a floor on surviving span
    material, not a re-run of the gate's own ``min_sentences``."""
    from thoth_spark.operators.dedup import c4_span_dedup
    from thoth_spark.operators.text import c4_rules

    gated = (
        c4_rules(df, id_col, text_col, min_line_words, min_sentences)
        .where(F.col("pass_c4"))
        .select(F.col(id_col), F.col("kept_text").alias(text_col))
    )
    return c4_span_dedup(gated, id_col, text_col, span)
