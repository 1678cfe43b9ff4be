"""Keyword retrieval over a document corpus: BM25 scoring and top-k.

The reference engine has no search operator; this fills the gap a
training-data pipeline hits constantly — "pull the k most relevant
documents for this probe query" (eval-set curation, targeted corpus
audits, contamination triage). Scoring is Lucene-style BM25:

    idf(t)      = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    score(d, q) = sum_t idf(t) * tf * (k1 + 1)
                            / (tf + k1 * (1 - b + b * dl/avgdl))

Scale shape (the part that matters at 100 TB):

- The query side is TINY (a handful of terms, or a small query table).
  It is broadcast; the corpus is never shuffled on anything except the
  (doc, term) pairs that actually match a query term — the explode is
  filtered BEFORE the aggregation, so a 31-term query against a 100 TB
  corpus shuffles only the matching postings, not the corpus.
- Per-term document frequencies come from the already-filtered postings
  (one row per (doc, term)), so the df aggregate is |q| rows — no
  corpus-wide vocabulary build.
- Corpus scalars (N, avgdl) are a single tiny aggregate, broadcast.
- Top-k is `orderBy(...).limit(k)` — Spark plans TakeOrderedAndProject
  (per-partition partial top-k merged on the driver), NOT a global sort.

Everything is built-in column expressions (no UDFs), and every float in
the contract is rounded so the pipeline replays bit-identically in an
ANSI-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thoth_spark.operators import text


def term_postings(
    df: DataFrame, id_col: str, text_col: str, terms: list[str]
) -> DataFrame:
    """(id, term, tf, dl) for ONLY the requested terms.

    The filter sits directly on the exploded token stream, so the shuffle
    that feeds the tf aggregation carries matching tokens only — the
    corpus-scale guarantee of the whole retrieval path."""
    toks = text.tokens(F.col(text_col))
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("dl"),
        F.explode(toks).alias("term"),
    ).where(F.col("term").isin(list(terms)))
    return exploded.groupBy("id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-words query under BM25.

    Returns (id, n_terms_matched, score) with ``score`` rounded to 6
    decimals (FP-portability: unordered double summation differs by ulps
    across engines; 6-decimal rounding absorbs it — same convention as
    the perplexity scorer). Ties break on the rounded score, then id,
    so the selected set is engine-stable."""
    postings = term_postings(df, id_col, text_col, terms)
    # corpus scalars: one tiny aggregate, broadcast into every posting row
    stats = df.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(text.tokens(F.col(text_col)))).alias("avgdl"),
    )
    # per-term document frequency from the filtered postings: <= |terms| rows
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    per_doc = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_terms_matched"),
        F.round(F.sum("contrib"), 6).alias("score"),
    )
    # TakeOrderedAndProject: per-partition partial top-k, no global sort
    return per_doc.orderBy(F.desc("score"), F.asc("id")).limit(k)


#: bound on the DISTINCT query terms bm25_topk_multi collects to prune
#: the corpus-side explode — the same fail-loud contract as the ANN
#: serves' MAX_QUERY_BATCH (similarity.py): past this, the "query table"
#: is corpus-shaped and a per-term broadcast join is the wrong tool.
MAX_QUERY_TERMS = 100_000

#: bound on the (query_id, term) ROWS broadcast into the postings join —
#: the frame's size scales with query rows, not distinct terms, so a
#: million low-vocabulary queries can pass the term guard while being
#: too big to broadcast. Past this the hint is dropped (shuffle join,
#: identical results) — the same degrade-not-OOM trade as
#: dedup.ngram_decontaminate's broadcast_max_rows.
MAX_QUERY_ROWS = 2_000_000


def bm25_topk_multi(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-query BM25 top-k for a TABLE of queries.

    ``queries`` is (query_id, term) — one row per query term; it must be
    small enough to broadcast (thousands of queries is fine). One corpus
    explode serves every query: postings join the broadcast query table
    on term, scores aggregate per (query_id, doc), and the top-k runs as
    one window partitioned by query_id — corpus work is shared across
    all queries instead of one scan per query.

    The documented broadcast contract is enforced on both axes: the
    DISTINCT query terms are collected to the driver (they prune the
    corpus explode), bounded by ``MAX_QUERY_TERMS`` — a term set wider
    than any query workload fails loudly instead of OOMing the driver —
    and the (query_id, term) frame itself, whose size scales with query
    ROWS rather than distinct terms, loses its broadcast HINT past
    ``MAX_QUERY_ROWS`` (identical results through a shuffle join; a
    million queries over a shared vocabulary still broadcasts)."""
    # ONE eager job guards both broadcast axes (r15 advice flagged the
    # second guard job): grouping the query side by term yields the
    # distinct-term list for the postings prune AND, as the sum of the
    # group counts, the exact (query_id, term) row count — so the rows
    # guard costs no extra job. The sum is only trusted when the limit
    # did not truncate, which is exactly the non-raising path.
    term_rows = (
        queries.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .limit(MAX_QUERY_TERMS + 1)
        .collect()
    )
    if len(term_rows) > MAX_QUERY_TERMS:
        raise ValueError(
            "bm25_topk_multi collects the DISTINCT query terms to the "
            f"driver (bounded broadcast contract, <= {MAX_QUERY_TERMS} "
            "terms); a query side this wide is corpus-shaped — score it "
            "as a document-to-document similarity join (ngram/minhash "
            "family) instead of per-term BM25."
        )
    all_terms = [r["term"] for r in term_rows]
    q_frame = queries.select("query_id", "term")
    small_queries = sum(r["n"] for r in term_rows) <= MAX_QUERY_ROWS
    maybe_bc = F.broadcast if small_queries else (lambda d: d)
    postings = term_postings(df, id_col, text_col, all_terms)
    stats = df.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(text.tokens(F.col(text_col)))).alias("avgdl"),
    )
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        postings.join(maybe_bc(q_frame), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    per_doc = scored.groupBy("query_id", "id").agg(
        F.count(F.lit(1)).alias("n_terms_matched"),
        F.round(F.sum("contrib"), 6).alias("score"),
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    )
    return per_doc.withColumn("rank", rk).where(F.col("rank") <= k)
