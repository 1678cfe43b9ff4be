"""Embedding similarity search over ``array<float>`` columns.

Operators, by family:

- exact top-k: :func:`brute_force_topk` (JVM fold, broadcast queries)
  and :func:`brute_force_topk_pandas` (numpy matmul per Arrow batch);
  :func:`quantized_topk` scans SQ8 codes and reranks exactly;
- hyperplane LSH: :func:`hyperplane_lsh_topk`,
  :func:`embedding_near_dup_pairs`, :func:`embedding_cross_neardup`,
  :func:`semantic_decontaminate`;
- IVF: :func:`ivf_topk`, the persisted layout :func:`build_ivf_index`
  (float or SQ8) with :func:`ivf_index_append`,
  :func:`ivf_index_compact`, the probe-batch serve
  :func:`ivf_query_index`, the join serve :func:`ivf_query_index_join`
  and :func:`knn_graph` on top of it;
- PQ / IVF-PQ: :func:`pq_encode`, :func:`pq_topk`, :func:`ivfpq_topk`,
  :func:`build_ivfpq_index`, :func:`ivfpq_index_append`,
  :func:`ivfpq_query_index`, :func:`ivfpq_query_index_join`;
- curation: :func:`semdedup`, :func:`knn_classify`.

Every operator scores through one implementation per concept, so two
operators that compute the same thing give the same values by
construction. Local cuts per batch or group followed by one global cut
are the two-level top-k of REPOSE (ICDE 2021).

Scoring kernels:

- :func:`_pair_cos` — the float pair score ``dot / (‖a‖·‖b‖)`` over
  norms computed once per side before the join (:func:`cosine` is its
  per-pair form); a zero norm scores NULL, ranked after every number,
  in the Spark and the numpy scorers alike;
- :func:`_nearest_cells` — the nearest centroid or codeword,
  ``argmin ‖c‖² − 2x·c`` with ties to the lower id: IVF cell
  assignment and probes (:func:`nearest_cells_udf`), PQ coding
  (:func:`_pq_codes`) and the k-means steps of the PQ trainers;
- :func:`_pq_encoder` — the one PQ encoder (global or residual codes);
  :func:`_adc_scan` — the one ADC scan (lookup table, code gather,
  local cut) of :func:`pq_topk` and the IVF-PQ collect serves;
- :func:`_sq8` — the SQ8 quantizer (``amax → scale → round → norm``),
  scored by :func:`_dequantized_cos`; :func:`_sq8_tail` is the
  approximate-then-rerank tail of every SQ8 scan;
- :func:`_fold_norms` / :func:`_fold_cos` — the numpy kernel that sums
  over dimensions in the JVM :func:`dot` fold's order, bit for bit
  (semdedup's verify and the cogrouped ``knn_graph`` scorer).

Serve tail:

- :func:`_rank_cut` — the per-query ``row_number`` cut, (score desc,
  neighbor id asc), for candidate pools and final results alike;
  :func:`_topk_result` adds the ``round(score, 6)`` output contract;
- :func:`_exact_rerank` — candidates re-scored with :func:`_pair_cos`
  against the original float corpus;
- :func:`_batch_topk` — the per-batch top-n emitter of the
  ``mapInPandas`` scorers, in :func:`_rank_cut`'s order, with
  :func:`_collect_query_batch` the one bounded collect of their query
  (or seed) batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from thoth_spark.operators.partitioning import spread_narrow
from thoth_spark.session import drop_zip_finders


def dot(a: Column, b: Column) -> Column:
    """Dot product of two double arrays — the aggregate-HOF fold.

    Deliberately NOT unrolled into a flat per-element arithmetic chain
    even where the vector length is statically known: an r16 experiment
    shipped ``dim``-unrolled dots (64-dim -> ~190 expression nodes per
    dot) across the ANN family and every touched query regressed
    1.5-2.8x on re-measurement (knn_graph 5.0s -> 14.0s, ivfpq
    2.5s -> 4.7s, decontaminate 2.2s -> 3.7s; reverting restored them).
    Same finding as the older :func:`hyperplane_signature` note — giant
    expression trees defeat codegen and fall back to interpreted
    evaluation of hundreds of nodes per row, while the fold stays one
    compact loop. Do not "optimize" this into explicit sums."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _pair_cos(a: Column, a_norm: Column, b: Column, b_norm: Column) -> Column:
    """The float pair score of every Spark-side scorer: ``dot(a, b)``
    over the product of the two norms, which callers compute once per
    side before the join (``a_norm`` = :func:`norm` of ``a``), so a
    candidate pair pays one fold, not three. A zero norm scores NULL
    (``try_divide``; plain ``/`` raises ``DIVIDE_BY_ZERO`` under ANSI).
    The numpy scorers' ``0/0`` NaN reaches Spark as NULL as well (Arrow
    masks NaN when a pandas UDF's output is converted), so in every
    operator a zero-norm pair ranks after every number."""
    return F.try_divide(dot(a, b), a_norm * b_norm)


def _qc_cos() -> Column:
    """:func:`_pair_cos` of the query/corpus column convention: ``qv``
    with norm ``qn`` against ``cv`` with norm ``cn``."""
    return _pair_cos(F.col("qv"), F.col("qn"), F.col("cv"), F.col("cn"))


def cosine(a: Column, b: Column) -> Column:
    """:func:`_pair_cos` with both norms computed per pair."""
    return _pair_cos(a, norm(a), b, norm(b))


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def _col_type(df: DataFrame, col: str) -> str:
    """Spark simpleString type of ``col`` — the mapInPandas paths emit
    id columns with the INPUT's id type instead of a hardcoded bigint
    (r10 advice: string / non-bigint id columns silently broke)."""
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}[col]


def _keyed_vectors(
    df: DataFrame, id_col: str, vec_col: str, id_as: str, vec_as: str
) -> DataFrame:
    """``(id_as, vec_as)`` rows of ``df``, the vector cast to doubles."""
    return df.select(F.col(id_col).alias(id_as), _as_double(F.col(vec_col)).alias(vec_as))


def _rank_cut(scored: DataFrame, score: str, n: int) -> DataFrame:
    """The per-query top-``n`` cut: ``rank`` is the ``row_number`` within
    each ``query_id`` ordered by (``score`` desc, ``neighbor_id`` asc),
    and rows past ``n`` drop. The order is total (ids are unique per
    query), so a local cut per batch or group followed by this cut over
    the union returns exactly the rows of one global cut."""
    w = W.partitionBy("query_id").orderBy(F.col(score).desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= n)


def _topk_result(scored: DataFrame, k: int, score: str = "cos_sim") -> DataFrame:
    """The output contract of every top-k operator:
    ``(query_id, neighbor_id, round(score, 6), rank)``."""
    return _rank_cut(scored, score, k).select(
        "query_id", "neighbor_id", F.round(score, 6).alias(score), "rank"
    )


def _exact_rerank(
    cands: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs re-scored with the exact float :func:`_pair_cos`:
    ``cands`` (``query_id``, ``neighbor_id`` and, when ``queries`` is
    None, the query vector ``qv`` and its norm ``qn``) join the float
    ``corpus`` by neighbor id; a ``(query_id, qv)`` frame passed as
    ``queries`` joins broadcast by query id. The join touches
    O(queries × pool) rows, never the whole corpus."""
    c = _keyed_vectors(corpus, id_col, vec_col, "neighbor_id", "cv")
    exact = cands.join(c.withColumn("cn", norm(F.col("cv"))), "neighbor_id")
    if queries is not None:
        qn = queries.withColumn("qn", norm(F.col("qv")))
        exact = exact.join(F.broadcast(qn), "query_id")
    return exact.withColumn("cos_sim", _qc_cos())


def _sq8_tail(
    approx: DataFrame, k: int, rerank: int | None, rerank_corpus: DataFrame | None,
    id_col: str, vec_col: str, queries: DataFrame | None = None,
) -> DataFrame:
    """The tail of every SQ8 scan over ``approx`` (candidate pairs
    scored ``approx_cos`` by :func:`_dequantized_cos`): without a
    ``rerank_corpus`` the approximation is the score; with one, the top
    ``rerank`` (default ``10·k``) candidates per query are re-scored by
    :func:`_exact_rerank` (with ``queries`` as there)."""
    if rerank_corpus is None:
        return approx.withColumn("cos_sim", F.col("approx_cos"))
    carried = ["qv", "qn"] if queries is None else []
    cands = _rank_cut(approx, "approx_cos", rerank or 10 * k).select(
        "neighbor_id", "query_id", *carried
    )
    return _exact_rerank(cands, rerank_corpus, id_col, vec_col, queries)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of every query against the corpus.

    The query side is broadcast (no shuffle of the corpus); cost is one
    full corpus scan per batch of queries — run queries in batches, not
    one at a time. Excludes self-matches on id. Returns
    (query_id, neighbor_id, cos_sim, rank).
    """
    q = _keyed_vectors(queries, id_col, vec_col, "query_id", "qv")
    c = _keyed_vectors(corpus, id_col, vec_col, "neighbor_id", "cv")
    scored = (
        c.withColumn("cn", norm(F.col("cv")))
        .crossJoin(F.broadcast(q.withColumn("qn", norm(F.col("qv")))))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", _qc_cos())
    )
    return _topk_result(scored, k)


def _sq8(vec: Column, cast: str, prefix: str = "") -> list[Column]:
    """The SQ8 quantizer of a double-array column: ``qvec`` (each
    component as ``round(x / scale)`` ∈ [-127, 127], cast to ``cast``),
    ``scale`` (max|x| / 127, or 1 for an all-zero vector) and the exact
    float ``vnorm``, each aliased with ``prefix``."""
    amax = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    return [
        F.transform(vec, lambda x: F.round(x / scale).cast(cast)).alias(f"{prefix}qvec"),
        scale.alias(f"{prefix}scale"),
        norm(vec).alias(f"{prefix}vnorm"),
    ]


def scalar_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """FAISS-SQ8-style per-vector int8 quantization: each component is
    rounded to ``round(x * 127 / max|x|)`` ∈ [-127, 127]; the per-vector
    ``scale`` (max|x|/127) and the EXACT float ``vnorm`` are kept so
    approximate dot products de-quantize without touching the floats.

    Why at 100 TB: a brute/IVF scan is memory-bandwidth-bound, and the
    quantized corpus is 4× smaller than float32 (8× vs double) — the
    scan reads a quarter of the bytes; exactness is recovered by
    re-ranking a small candidate pool (:func:`quantized_topk`). Pure
    column expressions (transform/aggregate) — no UDF, no shuffle."""
    return df.select(F.col(id_col), *_sq8(_as_double(F.col(vec_col)), "int"))


def _dequantized_cos() -> Column:
    """Approximate cosine from two SQ8 rows: integer dot product
    (components widened to int — byte×byte would overflow) de-quantized
    by the two per-vector scales, over the EXACT stored float norms.
    Expects columns ``qvec/scale/vnorm`` and ``q_qvec/q_scale/q_vnorm``.
    Fold form on purpose — see :func:`dot` (the unrolled variant
    regressed every SQ8 query 1.6-2x). A zero norm scores NULL, as in
    :func:`_pair_cos`."""
    idot = F.aggregate(
        F.zip_with(
            F.col("qvec"), F.col("q_qvec"), lambda x, y: x.cast("int") * y.cast("int")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.try_divide(
        idot.cast("double") * F.col("scale") * F.col("q_scale"),
        F.col("vnorm") * F.col("q_vnorm"),
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-result cosine top-k with a quantized first pass: scan the
    int8 corpus (4× less bandwidth than floats) for approximate scores,
    keep the top ``rerank`` (default ``10*k``) candidates per query, then
    re-rank ONLY those with exact float cosine. int8 quantization error
    on unit-scale embeddings is ~1e-2 on cosine, so a 10× candidate
    margin makes the final top-k equal brute force in practice (asserted
    against :func:`brute_force_topk` in tests; the driver oracle is the
    exact-SQL top-k). The exact-vector join touches candidates only —
    O(queries × rerank) rows, never the corpus."""
    qc = corpus.select(
        F.col(id_col).alias("neighbor_id"), *_sq8(_as_double(F.col(vec_col)), "int")
    )
    qq = queries.select(
        F.col(id_col).alias("query_id"), *_sq8(_as_double(F.col(vec_col)), "int", "q_")
    )
    approx = (
        qc.crossJoin(F.broadcast(qq))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("approx_cos", _dequantized_cos())
    )
    q = _keyed_vectors(queries, id_col, vec_col, "query_id", "qv")
    return _topk_result(_sq8_tail(approx, k, rerank, corpus, id_col, vec_col, q), k)


def _hyperplanes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed → reproducible plans
    across runs and engines)."""
    rng = np.random.RandomState(seed)
    return rng.randn(nbits, dim).tolist()


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id (int) from dot products with fixed hyperplanes —
    pure column expression; the planes ride along as ONE 2-D literal.

    Two deliberate shapes here:

    - The fold-based :func:`dot` (not an unrolled sum): a flat 64-term
      arithmetic chain (x24 signatures per row) was measured 4× SLOWER
      (20 s vs 4.5 s at sf0.1) — the giant tree blows codegen apart —
      while the lambda fold stays a compact interpreted loop.
    - ONE ``lit(planes)`` + an indexed ``transform`` fold, not a Python
      loop of per-plane ``array(lit, lit, …)`` terms: the loop form
      issued ~70 py4j round-trips per plane (64 literals + the when/dot
      wrappers), and DataFrame CONSTRUCTION — not execution — dominated
      the recall harness's wall (measured 4.8 s build vs 1.1 s run at
      sf0.1). Bit i weights its plane via ``shiftleft(1, i)`` on the
      transform index — same int arithmetic, same signature values."""
    # ONE py4j call for the whole plane matrix: classic-mode F.lit(list)
    # still issues one JVM call per element (measured: the 2×24-plane
    # construction alone was ~3 s of socket round-trips). A SQL literal
    # string parses in a single call; repr() is the shortest
    # round-trip rendering and string→double casts are correctly
    # rounded, so every coefficient lands bit-identical.
    planes_lit = F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in p)
            + ")"
            for p in planes
        )
        + ")"
    )
    return F.aggregate(
        F.transform(
            planes_lit,
            lambda p, i: F.when(
                dot(vec, p) > 0,
                # 2^i as an int (pow is exact for these exponents);
                # F.shiftleft only takes a Python-int bit count, not
                # the transform index column
                F.pow(F.lit(2.0), i).cast("int"),
            ).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda a, b: a + b,
    )


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 6,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    probe_flips: int = 1,
) -> DataFrame:
    """Approximate cosine top-k with multi-table hyperplane LSH: ``n_tables``
    independent sign-bucket tables (different hyperplane seeds), each probed
    at the query's bucket plus ≤ ``probe_flips``-bit neighbors. Candidate
    volume ∝ corpus × n_tables × probes / 2^nbits — tunable recall/cost,
    independent of corpus² (the brute-force blowup).

    SIZE ``nbits`` TO THE CORPUS: each probe keeps ~corpus/2^nbits
    candidates, so keep ``2^nbits`` within ~3 orders of magnitude of the
    corpus size (1B vectors → nbits ≥ 20). The small default suits the
    test fixtures only.

    Pass ``dim`` explicitly in production: the ``None`` fallback reads
    one corpus row to measure the vector length — correct, but it costs
    a (small) Spark job per operator construction."""
    if dim is None:
        dim = len(corpus.select(vec_col).limit(1).collect()[0][0])

    def _bucketed(df, idc, vc, nc, probe: bool):
        # the signature pass (n_tables aggregate-HOF dots per row) is
        # the side's per-row cost; spread a narrow scan first so the
        # checkpoint materializes at cluster parallelism (no-op at scale)
        base = spread_narrow(
            df.select(F.col(idc), _as_double(F.col(vec_col)).alias(vc)), idc
        )
        # ONE signature column per table behind the checkpoint, probe
        # buckets derived from the materialized column: inlining the
        # XOR-flip probes into the same projection used to duplicate
        # the whole (nbits × dim)-literal signature subtree per flip —
        # (1 + nbits) copies per table on the probe side, ~10k literal
        # nodes total, paid at ANALYSIS/codegen time on the driver
        # (wall far exceeded task time on this query). The XOR fan-out
        # over an attribute is a handful of integer ops.
        sig_cols = [
            hyperplane_signature(
                F.col(vc), _hyperplanes(dim, nbits, seed=42 + t)
            ).alias(f"__sig{t}")
            for t in range(n_tables)
        ]
        # the lazy checkpoint still materializes the signature pass
        # before the explode: Generate over an HOF-computed array drops
        # out of codegen (measured 4.3 s -> sub-second on the sf0.1
        # corpus side), and the probe fan-out must read sig as a
        # concrete column, not re-run the dot products per flip.
        staged = base.select(
            F.col(idc), F.col(vc), norm(F.col(vc)).alias(nc), *sig_cols
        ).localCheckpoint(eager=False)
        tables = []
        for t in range(n_tables):
            sig = F.col(f"__sig{t}")
            buckets = [sig]
            if probe and probe_flips >= 1:
                buckets += [sig.bitwiseXOR(F.lit(2**i)) for i in range(nbits)]
            tables += [b + F.lit(t * 2**nbits) for b in buckets]
        return staged.withColumn("bucket", F.explode(F.array(*tables))).select(
            F.col(idc), F.col(vc), F.col(nc), "bucket"
        )

    c = _bucketed(
        corpus.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id", "cv", "cn",
        probe=False,
    )
    q = _bucketed(
        queries.withColumnRenamed(id_col, "query_id"), "query_id", "qv", "qn", probe=True
    )

    candidates = (
        c.join(F.broadcast(q), on="bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "qv", "qn", "cv", "cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _topk_result(candidates.withColumn("cos_sim", _qc_cos()), k)


def coarse_centroids(
    corpus: DataFrame,
    vec_col: str,
    n_centroids: int,
    seed: int = 42,
    max_train: int = 65536,
) -> np.ndarray:
    """K-Means coarse centroids as an ``(n_centroids, dim)`` float64
    matrix, trained on a bounded sample (``max_train`` rows, cached and
    coalesced to a few partitions) with random init — the standard IVF
    recipe: quantizer quality needs ~hundreds of points per centroid,
    not the full corpus, and k-means|| init plus per-iteration jobs over
    thousands of corpus partitions would otherwise dominate (also the
    only part of any consumer that does NOT scale with corpus size, so
    keep it small and fast). Shared by :func:`ivf_topk` and
    :func:`semdedup`."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = (
        corpus.select(array_to_vector(_as_double(F.col(vec_col))).alias("features"))
        .limit(max_train)
        .coalesce(4)
        .cache()
    )
    km = KMeans(k=n_centroids, seed=seed, maxIter=10, initMode="random").fit(train)
    train.unpersist()
    return np.asarray(
        [[float(x) for x in c] for c in km.clusterCenters()], dtype=np.float64
    )


def _centroids(
    centroids: np.ndarray | None, corpus: DataFrame, vec_col: str, n_centroids: int,
    seed: int, max_train: int = 65536,
) -> np.ndarray:
    """The caller's ``centroids`` as a float64 matrix, or, when None,
    :func:`coarse_centroids` trained on ``corpus``."""
    if centroids is not None:
        return np.asarray(centroids, dtype=np.float64)
    return coarse_centroids(corpus, vec_col, n_centroids, seed, max_train)


def _nearest_cells(x: np.ndarray, cent_mat: np.ndarray, n: int) -> np.ndarray:
    """The ``n`` nearest centroid ids of each row of ``x`` as an
    ``(rows, n)`` int32 matrix — the one nearest-centroid kernel of the
    module: IVF cell assignment and probes, PQ codes and the k-means
    steps of the PQ trainers all call it. One BLAS matmul; argmin over
    ``||x||² − 2x·c + ||c||²`` (the ``||x||²`` term is rank-invariant
    and dropped). Ties break on the lower cid via stable argsort, so
    column 0 is numpy's first-minimum ``argmin``."""
    cent_sq = (cent_mat * cent_mat).sum(axis=1)  # ||c||² per centroid
    d = cent_sq - 2.0 * (x @ cent_mat.T)  # (rows, n_centroids)
    return np.argsort(d, axis=1, kind="stable")[:, :n].astype(np.int32)


def nearest_cells_udf(cent_mat: np.ndarray, n: int):
    """Arrow-batched :func:`_nearest_cells`: the centroid matrix ships
    once per task in the UDF closure (a few MB even at 65k centroids ×
    128 dims), so the PLAN stays O(1) in ``n_centroids`` — the round-4
    expression-literal form inlined every centroid into the expression
    tree, which breaks codegen past a few hundred centroids."""

    @pandas_udf(ArrayType(IntegerType()))
    def nearest_cells(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        drop_zip_finders()
        for vecs in it:
            yield pd.Series(list(_nearest_cells(np.stack(vecs.to_numpy()), cent_mat, n)))

    return nearest_cells


def _probed_queries(
    queries: DataFrame, id_col: str, vec_col: str, cent_mat: np.ndarray, nprobe: int
) -> DataFrame:
    """``(query_id, qv, qn, cell)``: one row per query and probed cell,
    the ``nprobe`` nearest by :func:`nearest_cells_udf`. The norm ``qn``
    is computed before the explode, once per query (a caller that drops
    it leaves it out of the plan)."""
    return (
        _keyed_vectors(queries, id_col, vec_col, "query_id", "qv")
        .withColumn("qn", norm(F.col("qv")))
        .withColumn("cell", F.explode(nearest_cells_udf(cent_mat, nprobe)(F.col("qv"))))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_train: int = 65536,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: K-Means coarse centroids
    (:func:`coarse_centroids`); corpus rows are assigned to their
    nearest centroid (this assignment is the natural storage
    partitioning key at scale — :func:`build_ivf_index` materializes
    it); each query scans only its ``nprobe`` nearest centroid cells.
    Pass ``centroids`` to reuse a trained quantizer."""
    cent_mat = _centroids(centroids, corpus, vec_col, n_centroids, seed, max_train)

    # the corpus side streams through the broadcast join and the per-pair
    # scoring at ITS OWN parallelism — spread a narrow scan first
    # (no-op at scale)
    c = spread_narrow(
        _keyed_vectors(corpus, id_col, vec_col, "neighbor_id", "cv"), "neighbor_id"
    ).withColumns(
        {
            "cn": norm(F.col("cv")),
            "cell": nearest_cells_udf(cent_mat, 1)(F.col("cv"))[0],
        }
    )
    q = _probed_queries(queries, id_col, vec_col, cent_mat, nprobe)
    scored = (
        c.join(F.broadcast(q), on="cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", _qc_cos())
    )
    return _topk_result(scored, k)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_train: int = 65536,
    centroids: np.ndarray | None = None,
    quantize: bool = False,
) -> np.ndarray:
    """Materialize the IVF layout: ``<path>/centroids`` (cid, vector —
    one tiny file) and ``<path>/cells`` — the corpus vectors written
    ``partitionBy("cell")``, i.e. ONE PARQUET DIRECTORY PER INVERTED
    LIST. This turns the cell assignment from a runtime join key into a
    STORAGE property: a query touching ``nprobe`` cells prunes every
    other partition at the file listing, so serving cost scales with
    ``nprobe/n_centroids`` of the corpus, not the corpus — the property
    that makes IVF an index rather than a re-scan at 100 TB. Returns
    the centroid matrix for immediate probing.

    ``quantize=True`` stores the FAISS-IVF+SQ8 layout instead: int8
    components (``array<tinyint>``) plus the per-vector ``scale`` and
    exact float ``vnorm`` — :func:`scalar_quantize`'s exact recipe —
    so each probed cell reads ~4-8× fewer bytes than the float layout
    (the probe is bandwidth-bound); exactness comes back at query time
    by re-ranking a small candidate pool against the original vectors
    (``rerank_corpus`` in :func:`ivf_query_index`)."""
    spark = corpus.sparkSession
    cent_mat = _centroids(centroids, corpus, vec_col, n_centroids, seed, max_train)
    sel = _keyed_vectors(corpus, id_col, vec_col, "vec_id", "v")
    # a narrow input (one local parquet split) would otherwise run the
    # assignment UDF AND the whole partitionBy write on one task; spread
    # the assignment, then re-key by cell so the layout keeps exactly
    # one writer (and so one file) per cell. Both exchanges vanish at
    # scale (spread_narrow no-ops past cluster parallelism, and the
    # cell re-key is gated on the same probe).
    spread = spread_narrow(sel, "vec_id")
    assigned = spread.withColumn("cell", nearest_cells_udf(cent_mat, 1)(F.col("v"))[0])
    if quantize:
        assigned = _sq8_cells(assigned)
    if spread is not sel:
        assigned = assigned.repartition(
            spark.sparkContext.defaultParallelism, F.col("cell")
        )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/cells")
    _write_centroids(spark, path, cent_mat)
    return cent_mat


#: fixed schemas of an index's model files: reading with them skips the
#: schema-inference job, and the writers below produce exactly them
_MODEL_SCHEMAS = {
    "centroids": "cid int, vector array<double>",
    "codebooks": "s int, c int, vector array<double>",
    "meta": "residual boolean, m_subspaces int, n_codes int",
}


def _write_model(spark, path: str, name: str, pdf: pd.DataFrame) -> None:
    """Write one model file of an index from a pandas frame: the Arrow
    path converts it on the driver, where a list of tuples would become
    a Python RDD (3-4 Python tasks per write)."""
    spark.createDataFrame(pdf, _MODEL_SCHEMAS[name]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{name}")


def _read_model(spark, path: str, name: str) -> list:
    """Rows of one model file of an index in key order, in one job: the
    fixed schema skips schema inference, and the tiny table sorts on the
    driver instead of in a range-partitioned ``orderBy``. Every model
    file's leading columns are a unique key, so tuple order is key
    order."""
    reader = spark.read.schema(_MODEL_SCHEMAS[name])
    return sorted(reader.parquet(f"{path}/{name}").collect())


def _write_centroids(spark, path: str, cent: np.ndarray) -> None:
    _write_model(
        spark,
        path,
        "centroids",
        pd.DataFrame({"cid": np.arange(len(cent), dtype=np.int32), "vector": list(cent)}),
    )


def _read_centroids(spark, path: str) -> np.ndarray:
    """The coarse quantizer of a persisted IVF or IVF-PQ index as an
    ``(n_centroids, dim)`` float64 matrix, row ``i`` = cid ``i``."""
    return np.asarray(
        [r["vector"] for r in _read_model(spark, path, "centroids")], dtype=np.float64
    )


def _sq8_cells(assigned: DataFrame) -> DataFrame:
    """FAISS-IVF+SQ8 cell rows from ``(vec_id, v, cell)``: the
    :func:`_sq8` recipe stored as bytes (lossless for [-127, 127])."""
    return assigned.select("vec_id", *_sq8(F.col("v"), "byte"), "cell")


def ivf_index_append(
    spark,
    path: str,
    new_rows: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental maintenance of a persisted :func:`build_ivf_index`
    layout: assign the new vectors with the STORED centroids (the
    coarse quantizer is FROZEN — the standard IVF maintenance recipe:
    appends ride the existing geometry, retraining happens only on
    measured drift, because moving a centroid invalidates every cell's
    membership) and APPEND to the cell partitions. Dynamic partition
    append touches only the cells that received vectors — an append of
    n rows costs O(n), never a corpus rewrite — and queries see the
    union on their next file listing, still partition-pruned. Detects
    the SQ8 layout from the stored schema and applies the identical
    transform. At 100 TB this is the difference between a nightly
    full-index rebuild and a per-batch O(batch) ingest."""
    cent = _read_centroids(spark, path)
    assigned = _keyed_vectors(new_rows, id_col, vec_col, "vec_id", "v").withColumn(
        "cell", nearest_cells_udf(cent, 1)(F.col("v"))[0]
    )
    if "qvec" in spark.read.parquet(f"{path}/cells").columns:
        assigned = _sq8_cells(assigned)
    assigned.write.mode("append").partitionBy("cell").parquet(f"{path}/cells")


def ivf_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_corpus: DataFrame | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Probe a persisted :func:`build_ivf_index` layout. The query
    batch is collected once, bounded by :data:`MAX_QUERY_BATCH` (the
    probe-batch contract), and each query is assigned its ``nprobe``
    nearest centroids on the driver with the kernel
    :func:`nearest_cells_udf` runs. The serve then reads ONLY those
    cell partitions (an explicit ``isin`` over the probed cell set —
    static partition pruning, visible as ``PartitionFilters`` in the
    scan). Every query-side frame is built from that one batch, so a
    non-deterministic ``queries`` frame is read once, and nothing is
    checkpointed or cached: the call leaves no block behind. On a
    float layout the result is identical to :func:`ivf_topk` run with
    the same centroids — pinned by
    ``tests/test_operators.py::test_ivf_index_roundtrip``.

    A ``quantize=True`` index is detected from its schema: the pruned
    scan scores the int8 rows (:func:`_dequantized_cos` — ~4-8× less
    read bandwidth). Pass ``rerank_corpus`` (the original float
    vectors) to recover exactness: the top ``rerank`` (default 10·k)
    approximate candidates per query are re-scored with exact float
    cosine — the candidate join touches O(queries × rerank) rows,
    never a cell. Without it, ranks and ``cos_sim`` are the
    de-quantized approximations.

    The query side is broadcast (probe-batch contract); for a
    DataFrame-sized query set use :func:`ivf_query_index_join`."""
    cent_mat = _read_centroids(spark, path)
    q_rows = _collect_query_batch(
        queries, (id_col, vec_col), "ivf_query_index", "ivf_query_index_join"
    )
    # the reshape gives an empty batch its (0, dim) shape
    q_mat = np.asarray([r[1] for r in q_rows], dtype=np.float64).reshape(
        len(q_rows), cent_mat.shape[1]
    )
    probes = _nearest_cells(q_mat, cent_mat, nprobe)  # (n_queries, nprobe)
    # one row per query row of the batch (the collected values of an
    # array<float> column are its exact doubles), exploded to one row
    # per (query, probed cell) as the assignment UDF's output was
    q_batch = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": [r[0] for r in q_rows], "qv": list(q_mat), "cells": list(probes)}
        ),
        f"query_id {_col_type(queries, id_col)}, qv array<double>, cells array<int>",
    )
    q = q_batch.withColumn("qn", norm(F.col("qv"))).select(
        "query_id", "qv", "qn", F.explode("cells").alias("cell")
    )
    probe_cells = sorted({int(c) for c in probes.ravel()})
    cells = spark.read.parquet(f"{path}/cells").where(F.col("cell").isin(probe_cells))

    if "qvec" in cells.columns:  # SQ8 layout
        qq = q_batch.select("query_id", *_sq8(F.col("qv"), "int", "q_"))
        approx = (
            cells.select(F.col("vec_id").alias("neighbor_id"), "qvec", "scale", "vnorm", "cell")
            .join(F.broadcast(q.select("query_id", "cell")), on="cell")
            .join(F.broadcast(qq), on="query_id")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("approx_cos", _dequantized_cos())
        )
        scored = _sq8_tail(
            approx, k, rerank, rerank_corpus, id_col, vec_col,
            q.select("query_id", "qv").distinct(),
        )
    else:
        scored = (
            cells.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("cv"),
                norm(F.col("v")).alias("cn"),
                "cell",
            )
            .join(F.broadcast(q), on="cell")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("cos_sim", _qc_cos())
        )
    return _topk_result(scored, k)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Pairs with cosine ≥ threshold, found via hyperplane buckets (plus
    1-bit-flip probes so near-identical vectors straddling one hyperplane
    still meet). Returns (id_a, id_b, cos_sim).

    Size ``nbits`` to the corpus (see :func:`hyperplane_lsh_topk`) and
    pass ``dim`` explicitly in production — the ``None`` fallback costs a
    one-row Spark job per call."""
    if dim is None:
        dim = len(df.select(vec_col).limit(1).collect()[0][0])
    planes = _hyperplanes(dim, nbits)
    # lazy checkpoint: materializes the aggregate-HOF signature ONCE for
    # both join legs (previously each leg re-evaluated it, and the probe
    # leg's explode re-evaluated it per flip via projection collapse)
    base = spread_narrow(_keyed_vectors(df, id_col, vec_col, "id", "v"), "id").withColumns(
        # norm stored per ROW (rides the checkpoint) so the verify stage
        # pays one dot per candidate pair (_pair_cos)
        {
            "sig": hyperplane_signature(F.col("v"), planes),
            "vn": norm(F.col("v")),
        }
    ).localCheckpoint(eager=False)
    probes = [F.col("sig")] + [F.col("sig").bitwiseXOR(F.lit(2**i)) for i in range(nbits)]
    a = base.withColumn("bucket", F.explode(F.array(*probes))).alias("a")
    b = base.withColumnRenamed("sig", "bucket").alias("b")
    return (
        a.join(b, on="bucket")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                _pair_cos(F.col("a.v"), F.col("a.vn"), F.col("b.v"), F.col("b.vn")), 6
            ).alias("cos_sim"),
        )
        .distinct()
        .where(F.col("cos_sim") >= threshold)
    )


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int | None = None,
    seed: int = 42,
    max_train: int = 65536,
    centroids: np.ndarray | None = None,
    stats: dict | None = None,
    target_cluster_size: int = 2048,
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with K-Means, find
    near-duplicate pairs ONLY within each cluster (cosine >=
    ``threshold``), group them into duplicate clusters via connected
    components, and keep exactly one member per group — the one with
    the LOWEST cosine similarity to its cluster centroid (the paper's
    keep-the-outlier rule: of five semantic copies, retain the least
    prototypical, preserving diversity; ties on the rounded similarity
    go to the smallest id). Singletons survive unchanged. Returns
    ``(id, cluster, round(centroid_sim, 6), component)`` for survivors,
    ``component`` being the smallest id of the duplicate group.

    Shape: one Arrow pass assigns every row its cluster and centroid
    similarity, then ONE ``groupBy(cluster)`` pass does the rest per
    cluster — no global pair graph, no iterative component rounds.
    Every edge is cluster-local (pairs are only generated within a
    cluster, and bitwise-identical vectors share their cluster), so
    pairs → components → survivor run partition-local, the local-work
    shape of REPOSE (ICDE 2021). Per cluster:

    - exact duplicates (bitwise equal after the double cast, keyed by a
      128-bit md5 fingerprint — 64 bits would make a corpus-scale
      collision, a silent wrong merge, plausible) collapse to their
      min-id representative; only representatives keep a vector;
    - representative pairs ``id_a < id_b`` with cosine >= ``threshold``
      (or NaN: Spark orders NaN greatest, so a zero-norm vector pairs
      with everything in its cluster) are verified by a sequential-
      dimension fold, bit-identical to the JVM :func:`dot` fold, blocked
      at ``_COGROUP_Q_BLOCK`` × ``_COGROUP_C_BLOCK``;
    - union-find labels each group with its min id (the label
      :func:`thoth_spark.operators.dedup.connected_components` gives);
    - the survivor is the min of ``(round(centroid_sim, 6), id)`` —
      :func:`~thoth_spark.operators.dedup.quality_survivors`' rule with
      quality ``-centroid_sim`` (Spark's HALF_UP round is odd, so
      ``-round(-s, 6) == round(s, 6)``), rounded by Spark before the
      group and ordered as Spark orders doubles (NaN greatest,
      ``-0.0 == 0.0``).

    Memory: a task holds its cluster's DISTINCT-vector matrix, the
    per-row scalars (id, rounded similarity, fingerprint) and a bounded
    verify block — vectors stream in Arrow batches and copies drop
    theirs on arrival, so there is no group-sized copy of the vectors.
    The degenerate boilerplate corpus (millions of copies of one
    embedding in one cluster) therefore costs |distinct in cluster|²
    verify work plus a linear scan of the copies, not |cluster|²
    (pinned by tests/test_skew.py::test_semdedup_degenerate_identical_cluster_is_linear).

    Parallelism: the verify runs one cluster per group, so at most
    ``n_clusters`` tasks. With fewer clusters than cores the spare
    cores idle: unlike the per-(cluster, salt) split this pass
    replaced, a small cluster count is not salted out over the machine.
    ``n_clusters`` is thus THE knob and must grow with the corpus (the
    paper uses ~100k clusters at 1e8 docs; keep expected cluster size
    in the low thousands). Left ``None`` it is DERIVED from one cheap
    ``count()``: ``max(16, ceil(n_rows / target_cluster_size))``,
    clamped so the bounded training sample keeps >= 64 points per
    centroid (``max_train // 64``) — raise ``max_train`` together with
    the corpus for paper-scale cluster counts. The chosen value is
    reported in ``stats["n_clusters"]``. Centroid training is bounded
    at ``max_train`` sampled rows regardless of corpus size. Pass
    precomputed ``centroids`` to reuse a quantizer across snapshots
    (and for deterministic tests). Pass ``stats`` to receive
    ``{"n_rows", "n_distinct_vectors", "n_rep_pairs"}``, counted inside
    the pass at the price of running it once more; with ``stats=None``
    nothing is cached or checkpointed."""
    if n_clusters is None and centroids is None:
        n_rows = df.count()
        n_clusters = int(
            max(16, min(-(-n_rows // target_cluster_size), max_train // 64))
        )
    if stats is not None and centroids is None:
        stats["n_clusters"] = n_clusters
    cent_mat = _centroids(centroids, df, vec_col, n_clusters, seed, max_train)
    cent_norm = np.sqrt((cent_mat * cent_mat).sum(axis=1))

    # ONE fused Arrow pass for (cluster, centroid_sim): the split form —
    # nearest_cells_udf then a second scalar UDF for the cosine — crossed
    # the Python boundary twice per corpus row (two ArrowEvalPython
    # stages; the 4-task corpus pass was semdedup's single largest stage
    # in the r16 profile). The argmin is nearest_cells_udf's kernel
    # (:func:`_nearest_cells`, ties to the lower cid), and the cosine
    # re-derives ``(x·c_sel)`` with the same elementwise-multiply-then-
    # sum (NOT the matmul column — summation order differs in the last
    # ulp), so both outputs are bit-identical to the split form.
    @pandas_udf("struct<cluster:int,centroid_sim:double>")
    def _assign_and_sim(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for vecs in it:
            x = np.stack(vecs.to_numpy())  # (batch, dim)
            c32 = _nearest_cells(x, cent_mat, 1)[:, 0]
            c = c32.astype(np.int64)
            num = (x * cent_mat[c]).sum(axis=1)
            den = np.sqrt((x * x).sum(axis=1)) * cent_norm[c]
            yield pd.DataFrame({"cluster": c32, "centroid_sim": num / den})

    base = (
        # the assignment pass + fingerprint are the corpus-wide per-row
        # cost; raise a narrow scan to core parallelism before them
        # (no-op at scale — see partitioning.spread_narrow)
        spread_narrow(_keyed_vectors(df, id_col, vec_col, "id", "v"), "id")
        .withColumn("__as", _assign_and_sim(F.col("v")))
        .select(
            "id",
            "v",
            F.col("__as.cluster").alias("cluster"),
            F.round("__as.centroid_sim", 6).alias("centroid_sim"),
            F.md5(
                F.concat_ws(",", F.transform(F.col("v"), lambda x: x.cast("string")))
            ).alias("__vh"),
        )
    )
    id_type = _col_type(df, id_col)
    schema = f"id {id_type}, cluster int, centroid_sim double, component {id_type}"
    counters = ["n_rows", "n_distinct_vectors", "n_rep_pairs"]
    if stats is not None:
        schema += "".join(f", {c} long" for c in counters)

    def per_cluster(
        key: tuple, batches: Iterator[pd.DataFrame]
    ) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        ids, csim, vh, rep_v = [], [], [], {}
        for pdf in batches:
            ids.append(pdf["id"].to_numpy())
            csim.append(pdf["centroid_sim"].to_numpy())
            vh.append(pdf["__vh"].to_numpy())
            for h, v in zip(pdf["__vh"], pdf["v"]):
                if h not in rep_v:  # copies are bitwise equal: keep one
                    # an owned copy: ``v`` is a view that would pin the
                    # whole Arrow batch
                    rep_v[h] = np.array(v, dtype=np.float64)
        ids = np.concatenate(ids)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        csim = np.concatenate(csim)[order]
        # factorized in id order, a fingerprint's first row is its min-id
        # representative and representative index order is id order
        # (numpy compares strings by code point: Spark's UTF-8 byte order)
        codes, uniq = pd.factorize(np.concatenate(vh)[order])
        rep_ids = ids[np.unique(codes, return_index=True)[1]]
        ea, eb = _threshold_pairs(np.stack([rep_v[h] for h in uniq]), threshold)
        comp = _min_label_components(len(uniq), ea, eb)[codes]
        # survivor: min (rounded csim, id) per component — rows are in id
        # order and lexsort is stable; numpy sorts NaN last and ties
        # -0.0 with 0.0, as Spark orders doubles
        s = np.lexsort((csim, comp))
        win = s[np.r_[True, comp[s][1:] != comp[s][:-1]]]
        out = pd.DataFrame(
            {
                "id": ids[win],
                "cluster": np.full(len(win), key[0], dtype=np.int32),
                "centroid_sim": csim[win],
                "component": rep_ids[comp[win]],
            }
        )
        if stats is not None:
            # per-cluster counts ride the first survivor row (every
            # cluster group has one), zeros elsewhere
            for c, n in zip(counters, (len(ids), len(uniq), len(ea))):
                out[c] = np.r_[n, np.zeros(len(win) - 1, dtype=np.int64)]
        yield out

    out = base.groupBy("cluster").applyInPandas(per_cluster, schema=schema)
    if stats is not None:
        totals = out.agg(*[F.sum(c) for c in counters]).first()
        stats.update({c: int(n or 0) for c, n in zip(counters, totals)})
        out = out.select("id", "cluster", "centroid_sim", "component")
    return out


def _fold_norms(X: np.ndarray) -> np.ndarray:
    """Row norms of ``X`` summed over dimensions in order from a zero
    accumulator: the JVM :func:`norm` fold, bit for bit."""
    sq = np.zeros(len(X))
    for i in range(X.shape[1]):
        sq += X[:, i] * X[:, i]
    return np.sqrt(sq)


def _fold_cos(
    A: np.ndarray, a_norm: np.ndarray, B: np.ndarray, b_norm: np.ndarray
) -> np.ndarray:
    """The ``(len(A), len(B))`` cosine block of two row sets with their
    :func:`_fold_norms`. Each dot accumulates SEQUENTIALLY ACROSS
    DIMENSIONS from a zero accumulator — the JVM :func:`dot` fold's
    left-associated IEEE addition order, bit for bit (a BLAS matmul's
    blocked summation differs in the last ulp) — so every element of a
    block equals the same element of the unblocked matrix, and callers
    can block both axes to bound their scratch."""
    acc = np.zeros((len(A), len(B)))
    for i in range(A.shape[1]):
        acc += np.outer(A[:, i], B[:, i])
    return acc / (a_norm[:, None] * b_norm[None, :])


def _threshold_pairs(R: np.ndarray, threshold: float) -> tuple:
    """Index pairs ``(i, j)``, ``i < j``, of the rows of ``R`` whose
    cosine is >= ``threshold`` or NaN (``NaN >= t`` holds in Spark's
    total order, which ranks NaN greatest), scored by :func:`_fold_cos`
    in ``_COGROUP_Q_BLOCK`` × ``_COGROUP_C_BLOCK`` blocks."""
    n = len(R)
    rn = _fold_norms(R)
    out_a, out_b = [np.zeros(0, dtype=np.int64)], [np.zeros(0, dtype=np.int64)]
    for s in range(0, n, _COGROUP_Q_BLOCK):
        s1 = min(s + _COGROUP_Q_BLOCK, n)
        # blocks wholly left of the diagonal hold no i < j pair
        for c0 in range(s, n, _COGROUP_C_BLOCK):
            c1 = min(c0 + _COGROUP_C_BLOCK, n)
            cos = _fold_cos(R[s:s1], rn[s:s1], R[c0:c1], rn[c0:c1])
            keep = (np.arange(s, s1)[:, None] < np.arange(c0, c1)[None, :]) & (
                (cos >= threshold) | np.isnan(cos)
            )
            r, c = np.nonzero(keep)
            out_a.append(r + s)
            out_b.append(c + c0)
    return np.concatenate(out_a), np.concatenate(out_b)


def _min_label_components(n: int, ea: np.ndarray, eb: np.ndarray) -> np.ndarray:
    """Label each of ``n`` nodes with the smallest node reachable through
    the edges ``(ea, eb)``. Vectorized union-find: every round hooks the
    larger root of each edge under the smaller, then pointer-jumps every
    node to its root; edges whose ends share a root drop out. Labels
    only ever move to smaller nodes of the same component, so a root is
    its component's minimum, and every round with a live edge removes a
    root."""
    lab = np.arange(n)
    while len(ea):
        la, lb = lab[ea], lab[eb]
        np.minimum.at(lab, np.maximum(la, lb), np.minimum(la, lb))
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped
        live = lab[ea] != lab[eb]
        ea, eb = ea[live], eb[live]
    return lab


#: the collect-based serves ship the query batch to every task in a UDF
#: closure — the probe-batch contract. Past this many queries the
#: closure/driver cost dominates and the join serves are the right tool
#: (r12 verdict watch item #2: a query TABLE pointed at a collect serve
#: became a silent driver bottleneck; now it fails loudly with the
#: distributed alternative named). The collects below are limit-capped,
#: so the driver never materializes more than the cap + 1 rows.
MAX_QUERY_BATCH = 100_000


def _collect_query_batch(
    queries: DataFrame, cols: tuple, caller: str, alternative: str
) -> list:
    """The ``cols`` of ``queries`` (id and vector first) collected to the
    driver, limit-capped: past :data:`MAX_QUERY_BATCH` rows it raises
    naming the distributed ``alternative``."""
    q_rows = queries.select(*cols).limit(MAX_QUERY_BATCH + 1).collect()
    if len(q_rows) > MAX_QUERY_BATCH:
        raise ValueError(
            f"{caller} collects the query set to the driver (bounded "
            f"probe-batch contract, <= {MAX_QUERY_BATCH} queries); for "
            f"DataFrame-sized query sets use {alternative}, which keeps "
            "queries distributed end-to-end."
        )
    return q_rows


def _batch_topk(
    ids: np.ndarray,
    sims: np.ndarray,
    q_ids: np.ndarray,
    n: int,
    score: str,
    allowed=None,
) -> pd.DataFrame:
    """The local cut of a ``mapInPandas`` scorer: for each query ``j``
    the top ``n`` rows of one batch in :func:`_rank_cut`'s order —
    ``sims[:, j]`` desc, NaN last (it reaches Spark as NULL, which the
    window ranks last), then id asc — self matches on id excluded, plus
    ``allowed(j)`` (a row mask) when given. Returns ``(query_id,
    neighbor_id, <score>)``; the global :func:`_rank_cut` over every
    batch's rows finishes the two-level top-k, and because both cuts
    use one total order it returns exactly the rows of one global
    cut, ties and zero norms included."""
    by_id = np.argsort(ids, kind="stable")
    out_q, out_n, out_s = [], [], []
    for j, qid in enumerate(q_ids):
        mask = ids != qid
        if allowed is not None:
            mask &= allowed(j)
        cand = by_id[mask[by_id]]  # candidate rows in id order
        top = cand[np.argsort(-sims[cand, j], kind="stable")[:n]]
        out_q += [qid] * len(top)
        out_n += list(ids[top])
        out_s += list(sims[top, j])
    return pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, score: out_s})


def brute_force_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k with the scoring inner loop in numpy (BLAS).

    Same result as :func:`brute_force_topk`; different physical strategy:
    the (small) query matrix is closed over and shipped to every task,
    each Arrow batch of corpus vectors scores against ALL queries in one
    ``batch @ Q.T`` matmul, and only each batch's per-query top-k rows
    are emitted — so the shuffle carries O(k × queries × batches) rows.
    At 100 TB this beats per-element JVM expression evaluation by the
    BLAS factor; prefer it once the corpus is large and queries are
    batched.
    """
    q_rows = _collect_query_batch(
        queries, (id_col, vec_col), "brute_force_topk_pandas",
        "brute_force_topk (broadcast join) or ivf_query_index_join",
    )
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype="float64")
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score(batches):
        drop_zip_finders()
        for pdf in batches:
            c = np.array(list(pdf[vec_col]), dtype="float64")
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            # (batch, n_queries)
            yield _batch_topk(pdf[id_col].to_numpy(), c @ q_mat.T, q_ids, k, "cos_sim")

    id_type = _col_type(corpus, id_col)
    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, schema=f"query_id {id_type}, neighbor_id {id_type}, cos_sim double"
    )
    return _topk_result(scored, k)


def knn_classify(
    labeled: DataFrame,
    unlabeled: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN label propagation: each unlabeled vector takes the majority
    label among its ``k`` nearest labeled seeds by cosine. The standard
    scale-out for "we hand-labeled a small seed set, label the corpus":
    the seed matrix is bounded (collected once, closed over), and the
    corpus side is ONE narrow Arrow-batched ``mapInPandas`` pass — each
    batch scores against all seeds in a single BLAS matmul and emits its
    own verdicts, so the plan has ZERO shuffles (plan-locked) and cost
    is one corpus scan regardless of corpus size.

    Deterministic and SQL-replayable by construction: neighbor order is
    (cos DESC, seed id ASC), vote tie-break is (votes DESC, label ASC).
    Self-matches on id are excluded (a seed that also appears unlabeled
    never votes for itself). Returns ``(id, pred_label, votes)``; the
    id and label columns keep their input types (string labels vote
    and tie-break lexicographically — r10 advice: the old int64
    coercion crashed on non-integer labels).

    The seed collect is bounded by :data:`MAX_QUERY_BATCH` (the same
    contract as the probe-batch ANN serves): a corpus-sized "labeled"
    side fails loudly with the distributed alternative named instead of
    OOMing the driver — past that size, label propagation should run
    through the join serves (:func:`ivf_query_index_join` for top-k
    neighbors as an equi-join, then a per-id majority vote), which keep
    both sides distributed.
    """
    seeds = _collect_query_batch(
        labeled, (id_col, vec_col, label_col), "knn_classify",
        "a join serve (ivf_query_index_join / knn_graph) and a per-id majority vote",
    )
    if not seeds:
        raise ValueError("labeled seed set is empty")
    s_ids = np.array([r[0] for r in seeds])
    s_lab = np.array([r[2] for r in seeds])
    s_mat = np.array([r[1] for r in seeds], dtype="float64")
    s_mat /= np.linalg.norm(s_mat, axis=1, keepdims=True)
    kk = min(k, len(seeds))
    id_type = _col_type(unlabeled, id_col)
    label_type = _col_type(labeled, label_col)

    def score(batches):
        drop_zip_finders()
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            c = np.array(list(pdf[vec_col]), dtype="float64")
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            sims = c @ s_mat.T  # (batch, n_seeds)
            preds, votes = [], []
            for i in range(len(ids)):
                row = sims[i]
                mask = s_ids != ids[i]
                # neighbor order (cos DESC, seed id ASC) — lexsort keys
                # are applied last-key-primary
                order = np.lexsort((s_ids[mask], -row[mask]))[:kk]
                labs, counts = np.unique(s_lab[mask][order], return_counts=True)
                # vote tie-break (votes DESC, label ASC): np.unique
                # returns labs ASC, so a stable sort on -counts keeps
                # the smallest label first among ties
                best = labs[np.argsort(-counts, kind="stable")[0]]
                preds.append(best)
                votes.append(int(counts[labs == best][0]))
            yield pd.DataFrame(
                {"id": ids, "pred_label": preds, "votes": votes}
            )

    return unlabeled.select(id_col, vec_col).mapInPandas(
        score, schema=f"id {id_type}, pred_label {label_type}, votes int"
    )


def embedding_cross_neardup(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.95,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Cross-corpus cosine near-dup pairs (left × right, never left ×
    left): hyperplane buckets with 1-bit-flip probes on the LEFT side
    only — the same recall guarantee as :func:`embedding_near_dup_pairs`
    for pairs straddling one hyperplane, at half the probe fan-out of
    running it on both sides. Returns ``(left_id, right_id, cos_sim)``.

    This is the semantic-decontamination primitive: left = training
    corpus, right = benchmark/eval set; candidate volume is bucketed
    (O(|L|·|R| / 2^nbits) expected), so the eval set never cross-joins
    the corpus."""
    if dim is None:
        dim = len(left.select(vec_col).limit(1).collect()[0][0])
    planes = _hyperplanes(dim, nbits)
    l = spread_narrow(
        _keyed_vectors(left, id_col, vec_col, "left_id", "lv"), "left_id"
    ).withColumns(
        {
            "sig": hyperplane_signature(F.col("lv"), planes),
            "ln": norm(F.col("lv")),
        }
    ).localCheckpoint(eager=False)
    r = spread_narrow(
        _keyed_vectors(right, id_col, vec_col, "right_id", "rv"), "right_id"
    ).withColumns(
        {
            "bucket": hyperplane_signature(F.col("rv"), planes),
            "rn": norm(F.col("rv")),
        }
    )
    probes = [F.col("sig")] + [
        F.col("sig").bitwiseXOR(F.lit(2**i)) for i in range(nbits)
    ]
    a = l.withColumn("bucket", F.explode(F.array(*probes)))
    return (
        a.join(r, on="bucket")
        .select(
            "left_id",
            "right_id",
            F.round(
                _pair_cos(F.col("lv"), F.col("ln"), F.col("rv"), F.col("rn")), 6
            ).alias("cos_sim"),
        )
        .distinct()
        .where(F.col("cos_sim") >= threshold)
    )


def semantic_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.95,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Drop training vectors semantically too close to ANY eval vector
    (cosine ≥ threshold) — embedding-level benchmark decontamination,
    the semantic sibling of the n-gram `contamination` check in
    ``text.py``. The flagged-id frame is tiny (≤ |train| ids, usually
    ≪) and anti-joined back; candidates come from the bucketed
    :func:`embedding_cross_neardup`, so the plan never cross-joins the
    corpus against the eval set."""
    flagged = (
        embedding_cross_neardup(
            train, eval_df, threshold, nbits, id_col, vec_col, dim
        )
        .select(F.col("left_id").alias(id_col))
        .distinct()
    )
    return train.join(flagged, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# Product quantization (PQ / ADC) — Jégou et al. 2011, the FAISS IndexPQ
# recipe: split the (L2-normalized) vector into m subspaces, quantize each
# subvector against a per-subspace codebook, score queries against the
# CODES via per-query lookup tables (asymmetric distance computation).
# ---------------------------------------------------------------------------


def _normalized_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def pq_codebooks_seeded(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_subspaces: int = 8,
    n_codes: int = 16,
) -> np.ndarray:
    """Deterministic PQ codebooks: the normalized subvectors of the
    ``n_codes`` smallest-id vectors (a bounded collect — the
    replayable-init trick of clustering.seed_centroids). Returns
    ``(m_subspaces, n_codes, dim/m_subspaces)`` float64. Not a quality
    codebook — the ACCOUNTABLE one; see :func:`train_pq_codebooks` for
    the production path."""
    rows = (
        corpus.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
        .orderBy("id")
        .limit(n_codes)
        .collect()
    )
    mat = _normalized_rows(np.asarray([r.v for r in rows], dtype=np.float64))
    dim = mat.shape[1]
    assert dim % m_subspaces == 0, (dim, m_subspaces)
    return mat.reshape(n_codes, m_subspaces, dim // m_subspaces).transpose(1, 0, 2)


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m_subspaces: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    max_train: int = 65536,
    iterations: int = 10,
) -> np.ndarray:
    """Production PQ codebooks: per-subspace Lloyd k-means on a bounded
    normalized sample, run driver-side in numpy (the sample is
    ``max_train × dim`` floats — tens of MB; codebook quality needs a
    sample, never the corpus, exactly like
    :func:`coarse_centroids`)."""
    sample = _normalized_rows(_sample_matrix(corpus, vec_col, max_train))
    return _codebooks_from_matrix(
        sample, m_subspaces, n_codes, np.random.default_rng(seed), iterations
    )


def _sample_matrix(corpus: DataFrame, vec_col: str, max_train: int) -> np.ndarray:
    """The first ``max_train`` vectors of ``corpus``, one bounded collect."""
    rows = corpus.select(_as_double(F.col(vec_col)).alias("v")).limit(max_train).collect()
    return np.asarray([r.v for r in rows], dtype=np.float64)


def _codebooks_from_matrix(
    sample: np.ndarray,
    m_subspaces: int,
    n_codes: int,
    rng: np.random.Generator,
    iterations: int,
) -> np.ndarray:
    """Per-subspace Lloyd on an already-prepared (n, dim) matrix —
    shared by the plain (normalized-vector) and residual trainers."""
    n, dim = sample.shape
    d_sub = dim // m_subspaces
    assert dim % m_subspaces == 0, (dim, m_subspaces)
    books = np.empty((m_subspaces, n_codes, d_sub))
    for s in range(m_subspaces):
        x = sample[:, s * d_sub : (s + 1) * d_sub]
        cent = x[rng.choice(n, size=min(n_codes, n), replace=False)]
        if len(cent) < n_codes:  # degenerate tiny sample: pad by repeat
            cent = np.resize(cent, (n_codes, d_sub))
        for _ in range(iterations):
            asg = _nearest_cells(x, cent, 1)[:, 0]
            for c in range(n_codes):
                member = x[asg == c]
                if len(member):
                    cent[c] = member.mean(axis=0)
        books[s] = cent
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode the corpus against PQ ``codebooks``: L2-normalize, per
    subspace take the L2-nearest codeword (ties → lower code, the
    stable-argsort rule every quantizer in this repo shares). Returns
    ``(id, codes array<int>)`` — the 4-byte-per-subspace compressed
    corpus you PERSIST; at 100 TB this table is ~dim·4/m of the float32
    original (64-dim → 8 codes = 32 bytes vs 256: 8×), and ANN scans
    read it instead of the floats. One Arrow-batched pass, codebook
    tensor in the closure, plan O(1) in n_codes."""
    # no coarse quantizer: every row is in cell 0 and nothing is subtracted
    encode = _pq_encoder(codebooks)
    return corpus.select(
        F.col(id_col).alias("id"),
        encode(_as_double(F.col(vec_col)), F.lit(0)).alias("codes"),
    )


def _pq_codes(x: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """``(rows, m)`` int32 PQ codes of the rows of ``x`` against the
    ``(m, n_codes, d_sub)`` codebooks ``cb``: per subspace the nearest
    codeword by :func:`_nearest_cells`, ties to the lower code."""
    subs = enumerate(np.split(x, len(cb), axis=1))
    return np.stack([_nearest_cells(xs, cb[s], 1)[:, 0] for s, xs in subs], axis=1)


def _pq_encoder(codebooks: np.ndarray, cent_hat: np.ndarray | None = None):
    """The one PQ encoder, an Arrow-batched ``(vector, cell) → codes``
    UDF: L2-normalize the vector, subtract the cell's normalized
    centroid ``cent_hat[cell]`` when ``cent_hat`` is given (IVF-PQ
    residual codes; the cell is ignored otherwise), and code the
    result with :func:`_pq_codes`. Each row is coded on its own, so an
    input row gives exactly one code row."""
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)

    @pandas_udf(ArrayType(IntegerType()))
    def encode(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        drop_zip_finders()
        for vecs, cells in it:
            x = _normalized_rows(np.stack(vecs.to_numpy()).astype(np.float64))
            if cent_hat is not None:
                x = x - cent_hat[cells.to_numpy().astype(np.int64)]
            yield pd.Series(list(_pq_codes(x, cb)))

    return encode


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    rerank_with: DataFrame | None = None,
    rerank_pool: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over a :func:`pq_encode`d corpus: per query build the
    m×n_codes lookup table ``LUT[s][c] = q̂_s · codebook_s[c]`` once,
    then every corpus CODE row scores as ``Σ_s LUT[s][codes[s]]`` — a
    numpy gather, no float vectors touched. One Arrow-batched
    ``mapInPandas`` pass emits only each batch's per-query top
    candidates, so the shuffle carries O(pool × queries × batches) rows
    (the brute_force_topk_pandas shape, on 8-byte codes instead of
    256-byte floats).

    Without ``rerank_with``: returns ``(query_id, neighbor_id,
    adc_score, rank)`` — the pure compressed-domain ranking. With
    ``rerank_with`` (the original float corpus): the global ADC top
    ``rerank_pool`` per query is re-scored EXACTLY (semi-join pulls
    just pool×queries float vectors) and the output matches
    :func:`brute_force_topk`'s ``(query_id, neighbor_id, cos_sim,
    rank)`` contract — at ``rerank_pool ≥ |corpus|`` it is bit-equal
    to brute force, the calibration point the hash gate pins."""
    q_rows = _collect_query_batch(
        queries, (id_col, vec_col), "pq_topk", "ivfpq_query_index_join"
    )
    pool = max(k, rerank_pool if rerank_with is not None else k)
    scored = _adc_scan(
        codes_df, q_rows, np.ascontiguousarray(codebooks, dtype=np.float64), pool,
        _col_type(codes_df, "id"),
    )
    if rerank_with is None:
        return _topk_result(scored, pool, "adc_score")
    return _adc_rerank(scored, pool, rerank_with, queries, k, id_col, vec_col)


def _adc_scan(
    codes_df: DataFrame,
    q_rows: list,
    cb: np.ndarray,
    pool: int,
    id_type: str,
    probed: np.ndarray | None = None,
    bias: np.ndarray | None = None,
) -> DataFrame:
    """The one ADC scan: the lookup table ``LUT[j, s, c] = q̂_j[s] ·
    cb[s][c]`` is built once per call from the collected ``(id,
    vector)`` query rows, then every Arrow batch of ``codes_df`` rows
    (``id``, ``codes`` and, for IVF-PQ, ``cell``) scores as ``Σ_s
    LUT[j, s, codes[s]]`` — a numpy gather, no float vector touched —
    and emits its :func:`_batch_topk` local top-``pool`` as
    ``(query_id, neighbor_id, adc_score)``. ``probed[j, cell]`` masks
    each query to its probed cells; ``bias[j, cell]`` (``q̂_j·ĉ_cell``)
    is added for residual codes."""
    m, _, d_sub = cb.shape
    q_ids = np.array([r[0] for r in q_rows])
    q_hat = _normalized_rows(np.array([r[1] for r in q_rows], dtype=np.float64))
    lut = np.einsum("jsd,scd->jsc", q_hat.reshape(len(q_ids), m, d_sub), cb)

    def score(batches):
        drop_zip_finders()
        for pdf in batches:
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (b, m)
            sims = lut[:, np.arange(m)[None, :], codes].sum(axis=2).T  # (b, nq)
            allowed = None
            if probed is not None:
                cells = pdf["cell"].to_numpy().astype(np.int64)
                if bias is not None:
                    sims = sims + bias[:, cells].T
                allowed = lambda j: probed[j, cells]  # noqa: E731
            yield _batch_topk(pdf["id"].to_numpy(), sims, q_ids, pool, "adc_score", allowed)

    return codes_df.mapInPandas(
        score, schema=f"query_id {id_type}, neighbor_id {id_type}, adc_score double"
    )


def _adc_rerank(
    scored: DataFrame, pool: int, rerank_corpus: DataFrame, queries: DataFrame, k: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """The global ADC top-``pool`` per query of :func:`_adc_scan`'s
    local cuts, re-scored exactly by :func:`_exact_rerank`."""
    cands = _rank_cut(scored, "adc_score", pool).select("query_id", "neighbor_id")
    q = _keyed_vectors(queries, id_col, vec_col, "query_id", "qv")
    return _topk_result(_exact_rerank(cands, rerank_corpus, id_col, vec_col, q), k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 4,
    m_subspaces: int = 8,
    n_codes: int = 16,
    rerank_pool: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    residual: bool = False,
    max_train: int = 65536,
) -> DataFrame:
    """IVF-PQ — the production ANN shape at 10⁹+ vectors (FAISS
    IndexIVFPQ): a coarse quantizer routes every vector
    to a cell, vectors are PQ-encoded (m bytes each), a query ADC-scans
    ONLY its ``nprobe`` nearest cells' codes, and the top
    ``rerank_pool`` candidates are re-scored exactly.

    Scale shape: the scan is one Arrow-batched ``mapInPandas`` pass
    over ``(cell, id, codes)`` that masks each batch to the rows whose
    cell is probed by each query — on a cell-partitioned persisted
    layout (``build_ivf_index``'s parquet recipe) the mask becomes
    partition PRUNING and the un-probed (1 − nprobe/n_centroids)
    fraction of the corpus is never read; the emitted shuffle carries
    O(pool × queries × batches) rows and the rerank semi-join touches
    pool×queries float vectors. At ``nprobe = n_centroids`` and
    ``rerank_pool ≥ |corpus|`` the output is bit-equal to
    :func:`brute_force_topk` — the calibration twin the hash gate pins
    (`similarity_topk_ivfpq_fullprobe`), exactly like the IVF and PQ
    components' own twins.

    ``residual=True`` is the full FAISS recipe: codes quantize
    ``x̂ − c_cell`` (trained on a bounded residual sample), and the ADC
    score decomposes as ``q̂·c_cell + Σ_s q̂_s·cb_s[code_s]`` — the
    cell bias is a (queries × cells) lookup added per batch. Residuals
    are much smaller than the vectors, so the same byte budget spends
    its precision on within-cell structure; the compressed-domain
    ranking inside a cell becomes informative where global codes
    collapse cell members onto one codeword
    (tests/test_operators.py::test_ivfpq_residual_beats_global_adc)."""
    cent = _centroids(centroids, corpus, vec_col, n_centroids, seed)
    cb = _ivfpq_codebooks(
        corpus, cent, m_subspaces, n_codes, seed, max_train, vec_col,
        residual, codebooks,
    )
    q_rows, probes = _ivfpq_batch(queries, id_col, vec_col, cent, nprobe, "ivfpq_topk")
    return _ivfpq_rank(
        _ivfpq_encode(corpus, cent, cb, residual, id_col, vec_col), corpus, queries,
        q_rows, probes, cent, cb, residual, k, rerank_pool, id_col, vec_col,
    )


def _ivfpq_codebooks(
    corpus: DataFrame,
    cent: np.ndarray,
    m_subspaces: int,
    n_codes: int,
    seed: int,
    max_train: int,
    vec_col: str,
    residual: bool,
    codebooks: np.ndarray | None,
) -> np.ndarray:
    """Resolve the PQ codebooks for an IVF-PQ build: caller-supplied, or
    trained on a bounded sample — of RESIDUALS (x̂ − ĉ_cell, the FAISS
    recipe) when ``residual``, of normalized vectors otherwise."""
    if codebooks is not None:
        return np.ascontiguousarray(codebooks, dtype=np.float64)
    raw = _sample_matrix(corpus, vec_col, max_train)
    x = _normalized_rows(raw)
    if residual:
        x = x - _normalized_rows(cent)[_nearest_cells(raw, cent, 1)[:, 0]]
    return _codebooks_from_matrix(x, m_subspaces, n_codes, np.random.default_rng(seed), 10)


def _ivfpq_encode(
    corpus: DataFrame,
    cent: np.ndarray,
    cb: np.ndarray,
    residual: bool,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """``(id, cell, codes)`` for an IVF-PQ corpus, one row per input
    row: cell ASSIGNMENT on the raw centroids (the rule the corpus path
    and ivf_topk share), codes from :func:`_pq_encoder` — global, or of
    the residual — residual math lives on the unit sphere: the ranking
    target is cosine, so vectors are normalized and the subtracted cell
    center must be too."""
    encode = _pq_encoder(cb, _normalized_rows(cent) if residual else None)
    return (
        _keyed_vectors(corpus, id_col, vec_col, "id", "v")
        .withColumn("cell", nearest_cells_udf(cent, 1)(F.col("v"))[0])
        .select("id", "cell", encode(F.col("v"), F.col("cell")).alias("codes"))
    )


def _ivfpq_batch(
    queries: DataFrame, id_col: str, vec_col: str, cent: np.ndarray, nprobe: int,
    caller: str,
) -> tuple[list, np.ndarray]:
    """The bounded query batch of an IVF-PQ collect serve (``caller``
    names the operator in the error) and each query's ``nprobe`` cells:
    :func:`_nearest_cells` over the NORMALIZED query. The index scan's
    partition filter and the scan's candidate mask both come from this
    one probe set: the rule is not scale-invariant in q, and an earlier
    version that pruned by RAW query vectors dropped cells the scan
    still expected for non-unit-norm queries."""
    q_rows = _collect_query_batch(
        queries, (id_col, vec_col), caller, "ivfpq_query_index_join"
    )
    q_hat = _normalized_rows(np.array([r[1] for r in q_rows], dtype=np.float64))
    return q_rows, _nearest_cells(q_hat, cent, nprobe)


def _ivfpq_rank(
    encoded: DataFrame,
    rerank_corpus: DataFrame,
    queries: DataFrame,
    q_rows: list,
    probes: np.ndarray,
    cent: np.ndarray,
    cb: np.ndarray,
    residual: bool,
    k: int,
    rerank_pool: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The IVF-PQ serving stage shared by the in-memory path
    (:func:`ivfpq_topk`) and the persisted index
    (:func:`ivfpq_query_index`): :func:`_adc_scan` over ``encoded``
    ``(id, cell, codes)`` rows, each query masked to its ``probes``
    (from :func:`_ivfpq_batch`, with the residual ``q̂·ĉ_cell`` bias),
    then :func:`_adc_rerank` against ``rerank_corpus``."""
    # probed[j, cid]: query j probes cell cid
    probed = np.zeros((len(q_rows), len(cent)), dtype=bool)
    probed[np.arange(len(q_rows))[:, None], probes] = True
    q_hat = _normalized_rows(np.array([r[1] for r in q_rows], dtype=np.float64))
    bias = (q_hat @ _normalized_rows(cent).T) if residual else None  # (nq, n_cells)
    pool = max(k, rerank_pool)
    scored = _adc_scan(
        encoded.select("id", "cell", "codes"), q_rows, cb, pool,
        _col_type(rerank_corpus, id_col), probed, bias,
    )
    return _adc_rerank(scored, pool, rerank_corpus, queries, k, id_col, vec_col)


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    m_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_train: int = 65536,
    residual: bool = False,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Materialize the IVF-PQ layout — the table an ANN deployment at
    10⁹+ vectors actually persists (FAISS IndexIVFPQ on disk):

    - ``<path>/cells`` — ``(id, codes array<int>)`` written
      ``partitionBy("cell")``: ONE PARQUET DIRECTORY PER INVERTED LIST,
      m 4-byte codes per vector instead of dim floats, so a probed
      query reads ``nprobe/n_centroids`` of the corpus AND only m ints
      per row of what it reads — the two compressions multiply;
    - ``<path>/centroids`` — the coarse quantizer (cid, vector);
    - ``<path>/codebooks`` — the PQ codebooks flattened to
      (s, c, vector) rows;
    - ``<path>/meta`` — (residual, m_subspaces, n_codes): the query
      side must score residual codes with the q̂·ĉ_cell bias, and a
      layout flag beats guessing from schema.

    Returns ``(centroid_matrix, codebooks)`` for immediate probing.
    Query with :func:`ivfpq_query_index`; at ``nprobe = n_centroids``
    and an unbounded rerank pool the roundtrip is bit-equal to
    :func:`brute_force_topk` (the hash-gated calibration twin
    ``similarity_topk_ivfpq_index_fullprobe``)."""
    spark = corpus.sparkSession
    cent = _centroids(centroids, corpus, vec_col, n_centroids, seed)
    cb = _ivfpq_codebooks(
        corpus, cent, m_subspaces, n_codes, seed, max_train, vec_col,
        residual, codebooks,
    )
    # spread a narrow input before the encode UDF, then re-key by cell
    # so the layout keeps one writer/file per cell — same local-only
    # treatment as build_ivf_index (both exchanges vanish at scale)
    enc_in = spread_narrow(corpus, id_col)
    encoded = _ivfpq_encode(enc_in, cent, cb, residual, id_col, vec_col)
    if enc_in is not corpus:
        encoded = encoded.repartition(
            spark.sparkContext.defaultParallelism, F.col("cell")
        )
    encoded.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/cells")
    _write_centroids(spark, path, cent)
    m, n_c, _ = cb.shape
    sub, code = np.divmod(np.arange(m * n_c, dtype=np.int32), np.int32(n_c))
    _write_model(
        spark,
        path,
        "codebooks",
        pd.DataFrame({"s": sub, "c": code, "vector": list(cb.reshape(m * n_c, -1))}),
    )
    _write_model(
        spark,
        path,
        "meta",
        pd.DataFrame(
            {
                "residual": [bool(residual)],
                "m_subspaces": np.int32([m]),
                "n_codes": np.int32([n_c]),
            }
        ),
    )
    return cent, cb


def _read_ivfpq_model(spark, path: str) -> tuple[np.ndarray, np.ndarray, bool]:
    """``(centroids, codebooks, residual)`` of a persisted
    :func:`build_ivfpq_index` layout, one job per model file."""
    meta = _read_model(spark, path, "meta")[0]
    cb = np.asarray(
        [r["vector"] for r in _read_model(spark, path, "codebooks")], dtype=np.float64
    ).reshape(meta["m_subspaces"], meta["n_codes"], -1)
    return _read_centroids(spark, path), cb, bool(meta["residual"])


def ivfpq_index_append(
    spark,
    path: str,
    new_rows: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental maintenance of a persisted :func:`build_ivfpq_index`
    layout — the PQ twin of :func:`ivf_index_append` (r13: the IVF
    float/SQ8 index had O(batch) nightly ingest, the PQ index did not):
    encode the new vectors with the STORED quantizers (coarse centroids
    AND codebooks are frozen — retraining either invalidates every
    stored code; rebuild on measured drift instead, see
    examples/ann_serving.py stage 5) via the same :func:`_ivfpq_encode`
    rule the builder used — including the residual flag from the meta
    table — and dynamic-partition-append only the touched cells. An
    append of n rows costs O(n) regardless of index size; both the
    collect and join serves see the union at their next file listing,
    still partition-pruned."""
    cent, cb, residual = _read_ivfpq_model(spark, path)
    _ivfpq_encode(
        new_rows, cent, cb, residual, id_col, vec_col
    ).write.mode("append").partitionBy("cell").parquet(f"{path}/cells")


def ivf_index_compact(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    table: str = "cells",
    part_col: str | list[str] = "cell",
    schema: str | None = None,
    transform=None,
) -> dict:
    """Compact the ``cells`` table of a persisted IVF / IVF-PQ index
    (r13): continuous ingest (:func:`ivf_index_append` /
    :func:`ivfpq_index_append`, or the streaming
    ``index_ingest_foreach_batch`` sink) appends one parquet file per
    touched cell per batch — after thousands of micro-batches the file
    count, not the data, dominates listing and open/seek cost. This
    rewrites the cell table to ~``target_file_bytes`` files (one file
    per cell minimum — the cell directory is the pruning unit) and
    swaps it in with filesystem renames (atomic per rename on HDFS and
    local FS; a reader between the two renames must retry, the standard
    OPTIMIZE caveat outside a table format). Quantizers, layout, and
    serve results are untouched — pinned by
    ``test_ivf_index_compact_preserves_serves``. Returns
    ``{files_before, files_after, bytes}``.

    ``table``/``part_col``/``schema``/``transform`` generalize the
    rewrite to any partitioned-append layout of the same shape (r16:
    the span-hash index's ``spans`` table — ``(bid, bucket)``-
    partitioned — compacts through ``dedup.span_index_compact``, which
    passes the stored DDL so even a file-less fresh index compacts as
    a no-op instead of failing schema inference, plus a transform that
    collapses retry-isolation partitions the rewrite may fold)."""
    import math

    part_cols = [part_col] if isinstance(part_col, str) else list(part_col)
    cells_src = f"{path}/{table}"
    reader = spark.read.schema(schema) if schema else spark.read
    df = reader.parquet(cells_src)
    files_before = len(df.inputFiles())
    if files_before == 0:
        # nothing to rewrite — and the rename dance below would fail on
        # a tmp dir a zero-row partitioned write never creates
        return {"files_before": 0, "files_after": 0, "bytes": 0}
    if transform is not None:
        df = transform(df)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(cells_src).getFileSystem(conf)
    total = fs.getContentSummary(hpath(cells_src)).getLength()
    n = max(1, math.ceil(total / target_file_bytes))
    tmp, old = f"{path}/{table}_compacting", f"{path}/{table}_old"
    for stale in (tmp, old):  # leftovers from a crashed prior compact
        fs.delete(hpath(stale), True)
    df.repartition(n, *[F.col(c) for c in part_cols]).write.mode(
        "overwrite"
    ).partitionBy(*part_cols).parquet(tmp)
    if not fs.rename(hpath(cells_src), hpath(old)):
        raise IOError(f"compact: could not move {cells_src} aside")
    if not fs.rename(hpath(tmp), hpath(cells_src)):
        fs.rename(hpath(old), hpath(cells_src))  # roll back
        raise IOError(f"compact: could not install {tmp}")
    fs.delete(hpath(old), True)
    files_after = len(spark.read.parquet(cells_src).inputFiles())
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": int(total),
    }


def ivfpq_query_index(
    spark,
    path: str,
    queries: DataFrame,
    rerank_corpus: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    rerank_pool: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted :func:`build_ivfpq_index` layout: load the
    (tiny) quantizers, assign each query its ``nprobe`` nearest cells,
    read ONLY those cell partitions of the code table (static partition
    pruning — ``PartitionFilters`` in the scan, the bounded ``isin``
    collect is n_queries × nprobe ≤ n_centroids values), ADC-rank the
    codes, and exact-rerank the global top ``rerank_pool`` against
    ``rerank_corpus`` (the original float vectors — the candidate join
    touches O(queries × pool) rows, never a cell). Identical to
    :func:`ivfpq_topk` run with the same quantizers — pinned by
    ``tests/test_operators.py::test_ivfpq_index_roundtrip``."""
    cent, cb, residual = _read_ivfpq_model(spark, path)
    q_rows, probes = _ivfpq_batch(
        queries, id_col, vec_col, cent, nprobe, "ivfpq_query_index"
    )
    probe_cells = sorted({int(c) for c in probes.ravel()})
    cells = spark.read.parquet(f"{path}/cells").where(F.col("cell").isin(probe_cells))
    return _ivfpq_rank(
        cells, rerank_corpus, queries, q_rows, probes, cent, cb, residual, k,
        rerank_pool, id_col, vec_col,
    )


# ---------------------------------------------------------------------------
# Join-based index serving: the query set stays a DataFrame end-to-end.
#
# The collect-based serves above ship a bounded query batch to every task
# in a UDF closure, a driver bottleneck once the queries are a TABLE
# (dedup-by-ANN, corpus-vs-corpus retrieval). These variants keep queries
# distributed: only model-sized artifacts (centroids, codebooks) ride in
# closures, and the query×cell match is an equi-join. Crossover
# (SCALE.md): below ~10⁴ queries the closure path wins (no query-side
# shuffle); above it, and whenever the queries are a table, use these.
# ---------------------------------------------------------------------------


#: rows of the query matrix scored per accumulator block inside the
#: cogrouped scorer — bounds the (rows × |cell slice|) float64 scratch
#: at ~4096 × cell-slice doubles regardless of how many queries probe a
#: cell.
_COGROUP_Q_BLOCK = 4096
#: candidate-axis block of the cogrouped scorers (r16 advice: an
#: unbounded candidate dimension made the scratch matrix group-sized —
#: ~3 GB for a 100k-row cell slice — where the pair join it replaced
#: streamed; 4096×16384 float64 is a flat 512 MB ceiling per task).
_COGROUP_C_BLOCK = 16384


def _cogroup_topk_scores(
    cells_s: DataFrame, qq: DataFrame, k: int, id_type: str
) -> DataFrame:
    """Per-(cell, salt) vectorized cosine scoring with an exact
    per-group top-``k`` cut (:func:`_cogroup_topk_group`) — the scorer
    of :func:`knn_graph`. The pair join evaluates the interpreted
    :func:`dot` fold per candidate pair, |corpus|²-ish folds for a
    corpus-as-queries serve (56 s of task time at sf0.1 in the r16
    profile); here both sides shuffle ONCE by (cell, __salt) — the keys
    and bytes the salted equi-join moves — and each group is scored as
    ``dim`` vectorized numpy passes. One task per group; its payload is
    the cell slice plus every query probing the cell (the quadratic
    stage IVF bounds: ``n_centroids`` must grow with the corpus)."""
    _id_np = np.int64 if id_type in ("bigint", "int", "long", "smallint") else object
    empty = pd.DataFrame(
        {
            "query_id": np.array([], dtype=_id_np),
            "neighbor_id": np.array([], dtype=_id_np),
            "cos_sim": np.array([], dtype=np.float64),
        }
    )

    def score(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_finders()
        if len(qpdf) == 0 or len(cpdf) == 0:
            return empty
        return _cogroup_topk_group(qpdf, cpdf, k)

    return (
        qq.groupBy("cell", "__salt")
        .cogroup(cells_s.groupBy("cell", "__salt"))
        .applyInPandas(
            score, schema=f"query_id {id_type}, neighbor_id {id_type}, cos_sim double"
        )
    )


def _cogroup_topk_group(qpdf: pd.DataFrame, cpdf: pd.DataFrame, k: int) -> pd.DataFrame:
    """The top-``k`` ``(query_id, neighbor_id, cos_sim)`` rows of every
    query of ``qpdf`` (``query_id``, ``qv``) against the candidates of
    ``cpdf`` (``neighbor_id``, ``cv``), self pairs excluded — the local
    cut of a two-level top-k. Exactness (the oracle tests hash these
    results):

    - cosines come from :func:`_fold_cos`, bit-identical to the JVM fold;
    - the cut keeps the top ``k`` by the SAME total order the downstream
      :func:`_rank_cut` uses (cos_sim desc, neighbor_id asc), so the
      global cut over the union of group winners returns exactly the
      join path's rows, pinned by ``test_ivf_join_serve_vectorized_parity``;
    - a query block meeting a non-finite cosine (zero-norm vector) emits
      ALL its pairs instead of cutting and leaves their order to the
      downstream cut, where each NaN arrives as NULL, ranked last as
      the join path ranks its NULL pair score.

    Both axes are blocked (``_COGROUP_Q_BLOCK`` queries ×
    ``_COGROUP_C_BLOCK`` candidates) so scratch memory stays flat; the
    per-row top-``k`` merges across candidate blocks."""
    # column order = neighbor_id ascending, so a STABLE argsort on
    # -cos alone realizes the (cos desc, neighbor asc) total order
    cpdf = cpdf.sort_values("neighbor_id", kind="stable")
    Q = np.stack(qpdf["qv"].to_numpy()).astype(np.float64, copy=False)
    C = np.stack(cpdf["cv"].to_numpy()).astype(np.float64, copy=False)
    qids = qpdf["query_id"].to_numpy()
    nids = cpdf["neighbor_id"].to_numpy()
    qn = _fold_norms(Q)
    vn = _fold_norms(C)
    kk = min(k + 1, len(C))  # +1 absorbs the self slot
    c_blocks = [
        (c0, min(c0 + _COGROUP_C_BLOCK, len(C)))
        for c0 in range(0, len(C), _COGROUP_C_BLOCK)
    ]
    out_q, out_n, out_c = [], [], []
    for s in range(0, len(Q), _COGROUP_Q_BLOCK):
        Qb = Q[s : s + _COGROUP_Q_BLOCK]
        qb_ids = qids[s : s + _COGROUP_Q_BLOCK]
        qb_n = qn[s : s + _COGROUP_Q_BLOCK]
        n_q = len(Qb)
        # merge per-row top-kk across candidate blocks — stable argsort
        # on the concat keeps the (cos desc, neighbor asc) total order
        # because earlier blocks (lower neighbor ids) precede later ones
        m_vals = np.zeros((n_q, 0))
        m_cols = np.zeros((n_q, 0), dtype=np.int64)
        nonfinite = False
        for c0, c1 in c_blocks:
            cos = _fold_cos(Qb, qb_n, C[c0:c1], vn[c0:c1])
            if not np.isfinite(cos).all():
                nonfinite = True
                break
            cos_m = np.where(qb_ids[:, None] == nids[None, c0:c1], -np.inf, cos)
            order = np.argsort(-cos_m, axis=1, kind="stable")[:, : min(kk, c1 - c0)]
            top_v = np.take_along_axis(cos_m, order, axis=1)
            cat_v = np.concatenate([m_vals, top_v], axis=1)
            cat_c = np.concatenate([m_cols, order + c0], axis=1)
            sel = np.argsort(-cat_v, axis=1, kind="stable")[:, :kk]
            m_vals = np.take_along_axis(cat_v, sel, axis=1)
            m_cols = np.take_along_axis(cat_c, sel, axis=1)
        if nonfinite:
            # degenerate block: emit ALL its pairs, re-scoring block by
            # block (rare path)
            for c0, c1 in c_blocks:
                cos = _fold_cos(Qb, qb_n, C[c0:c1], vn[c0:c1])
                keep = qb_ids[:, None] != nids[None, c0:c1]
                r, c = np.where(keep)
                out_q.append(qb_ids[r])
                out_n.append(nids[c0:c1][c])
                out_c.append(cos[keep])
            continue
        width = m_vals.shape[1]
        rows = np.repeat(np.arange(n_q), width)
        cols = m_cols.reshape(-1)
        vals = m_vals.reshape(-1)
        keep = np.isfinite(vals)
        # trim past rank k among KEPT candidates per row (the +1 slot
        # only exists to absorb the self pair's -inf; when all k+1 are
        # real candidates the last one must go)
        kept_rank = np.cumsum(keep.reshape(n_q, width), axis=1).reshape(-1)
        keep &= kept_rank <= k
        out_q.append(qb_ids[rows[keep]])
        out_n.append(nids[cols[keep]])
        out_c.append(vals[keep])
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "neighbor_id": np.concatenate(out_n),
            "cos_sim": np.concatenate(out_c),
        }
    )


#: salt fan-out of the join serves' cell equi-join: each inverted list
#: spreads over this many reducers.
_SALT = 8


def _salted(df: DataFrame, key_col: str) -> DataFrame:
    """Corpus side of a de-skewed cell join: a deterministic salt from
    the row id. A cell equi-join has only ``n_centroids`` distinct keys
    — unsalted, each inverted list funnels through ONE reducer; salted,
    a list fans out over :data:`_SALT` reducers (AQE skew-join splitting
    helps too, but the salt keeps the plan robust when AQE is off)."""
    return df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(key_col)), F.lit(_SALT)).cast("int")
    )


def _replicated(q: DataFrame) -> DataFrame:
    """Query side of the de-skewed join: each probe row replicates over
    every salt value (queries × nprobe × :data:`_SALT` rows — the cheap
    side)."""
    return q.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))


def _pruned_scan(
    spark, path: str, q: DataFrame, nprobe: int, n_cells: int, key_col: str
) -> DataFrame:
    """The ``cells`` table of a persisted index as a join serve reads
    it: pruned to the cells probed by ``q`` (a distinct-cell collect
    bounded by ``n_cells``, skipped when ``nprobe`` covers every cell),
    then :func:`spread_narrow` on the row id ``key_col``: a young or
    compacted index has one file per cell, and under a broadcast query
    side the scoring stage would run on that many tasks (the salt
    de-skews only shuffle joins). The top-k window re-keys by query, so
    placement does not change results."""
    cells = spark.read.parquet(f"{path}/cells")
    if nprobe < n_cells:
        probe_cells = sorted(r["cell"] for r in q.select("cell").distinct().collect())
        cells = cells.where(F.col("cell").isin(probe_cells))
    return spread_narrow(cells, key_col)


def ivf_query_index_join(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_corpus: DataFrame | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Serve a persisted :func:`build_ivf_index` layout with a
    DATAFRAME-sized query set — same results as :func:`ivf_query_index`
    (pinned by ``test_ivf_index_join_serve_matches_collect_path``), no
    driver collect of the query side:

    - cell assignment is the same Arrow-batched
      :func:`nearest_cells_udf`, exploded to one row per (query, probed
      cell), and the index scan keeps partition pruning
      (:func:`_pruned_scan`);
    - the candidate match is a salted equi-join queries×cells on
      ``(cell, __salt)`` — Catalyst/AQE picks broadcast for a small
      query frame and a de-skewed shuffle join for a large one;
    - scoring is JVM-side (:func:`_pair_cos` over norms computed once
      per side before the join / :func:`_dequantized_cos` — no Python in
      the hot path), top-k a per-query window, exactly the collect
      path's cut.

    SQ8 layouts quantize the query side with the same
    :func:`_sq8` expressions (distributed, not collected);
    pass ``rerank_corpus`` to recover exactness as in
    :func:`ivf_query_index`."""
    cent_mat = _read_centroids(spark, path)
    q = _probed_queries(queries, id_col, vec_col, cent_mat, nprobe)
    cells = _pruned_scan(spark, path, q, nprobe, len(cent_mat), "vec_id")
    if "qvec" in cells.columns:  # SQ8 layout
        qq = _replicated(
            q.select("query_id", "qv", "qn", "cell", *_sq8(F.col("qv"), "int", "q_"))
        )
        approx = (
            _salted(cells, "vec_id")
            .withColumnRenamed("vec_id", "neighbor_id")
            .join(qq, on=["cell", "__salt"])
            .where(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("approx_cos", _dequantized_cos())
        )
        scored = _sq8_tail(approx, k, rerank, rerank_corpus, id_col, vec_col)
    else:
        # for a probe-batch serve the broadcast equi-join keeps the index
        # scan shuffle-free, which the cogrouped scorer cannot (its
        # groupBy must move the probed cells), so the JVM pair score is
        # the small-query path
        scored = (
            _salted(cells, "vec_id")
            .select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("cv"),
                norm(F.col("v")).alias("cn"),
                "cell",
                "__salt",
            )
            .join(_replicated(q), on=["cell", "__salt"])
            .where(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("cos_sim", _qc_cos())
        )
    return _topk_result(scored, k)


def ivfpq_query_index_join(
    spark,
    path: str,
    queries: DataFrame,
    rerank_corpus: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    rerank_pool: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve a persisted :func:`build_ivfpq_index` layout with a
    DATAFRAME-sized query set — the join twin of
    :func:`ivfpq_query_index` (same probe rule, same ADC math, same
    exact-rerank contract; pinned by
    ``test_ivfpq_index_join_serve_matches_collect_path``):

    - the probe set comes from the SAME rule as every other IVF-PQ
      consumer, :func:`_nearest_cells` over the NORMALIZED query, here
      over Arrow batches (the r11 scale-invariance fix carries over by
      construction); the scan is :func:`_pruned_scan`;
    - candidates come from the salted equi-join queries×codes on
      ``(cell, __salt)`` — the join IS the probe mask, so no in-UDF
      isin over a collected query list;
    - ADC runs in a vectorized pandas UDF over the joined frame with
      only the codebooks (m × n_codes × d_sub doubles) in the closure:
      per batch, gather each row's code vectors and dot them against
      the row's normalized query sub-vectors (same
      dot-over-d-then-sum-over-s association as the LUT path), plus
      the q̂·ĉ_cell bias for residual layouts;
    - global ADC top-``max(k, rerank_pool)`` per query (window), then
      the exact cosine rerank joins ``rerank_corpus`` and the query
      frame by key — never broadcasting or collecting the query side.
    """
    cent, cb, residual = _read_ivfpq_model(spark, path)
    m, _, d_sub = cb.shape
    cent_hat = _normalized_rows(cent)

    @pandas_udf(ArrayType(IntegerType()))
    def probe_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        drop_zip_finders()
        for vecs in it:
            qm = _normalized_rows(np.stack(vecs.to_numpy()).astype(np.float64))
            yield pd.Series(list(_nearest_cells(qm, cent, nprobe)))

    q = (
        _keyed_vectors(queries, id_col, vec_col, "query_id", "qv")
        .withColumn("qn", norm(F.col("qv")))
        .withColumn("cell", F.explode(probe_udf(F.col("qv"))))
    )
    encoded = _pruned_scan(spark, path, q, nprobe, len(cent), "id")

    sub_idx = np.arange(m)[None, :]

    @pandas_udf(DoubleType())
    def adc_udf(qvs: pd.Series, codes: pd.Series, cells_s: pd.Series) -> pd.Series:
        drop_zip_finders()
        qm = _normalized_rows(np.stack(qvs.to_numpy()).astype(np.float64))
        b = qm.shape[0]
        cd = np.stack(codes.to_numpy()).astype(np.int64)  # (b, m)
        sel = cb[sub_idx, cd]  # (b, m, d_sub)
        sims = (qm.reshape(b, m, d_sub) * sel).sum(axis=2).sum(axis=1)
        if residual:
            cells_arr = cells_s.to_numpy().astype(np.int64)
            sims = sims + (qm * cent_hat[cells_arr]).sum(axis=1)
        return pd.Series(sims)

    pool = max(k, rerank_pool)
    scored = (
        _salted(encoded, "id")
        .select(F.col("id").alias("neighbor_id"), "codes", "cell", "__salt")
        .join(_replicated(q), on=["cell", "__salt"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_score", adc_udf(F.col("qv"), F.col("codes"), F.col("cell")))
    )
    cands = _rank_cut(scored, "adc_score", pool)
    cands = cands.select("query_id", "neighbor_id", "qv", "qn")
    return _topk_result(_exact_rerank(cands, rerank_corpus, id_col, vec_col), k)


def knn_graph(
    spark,
    path: str,
    corpus: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-nearest-neighbor GRAPH over the whole corpus — every row's
    top-``k`` cosine neighbors as ``(query_id, neighbor_id, cos_sim,
    rank)`` edges — the substrate for graph-based dedup, diversity
    analysis, and label propagation at corpus scale.

    The corpus plays BOTH sides of the salted cell equi-join of
    :func:`ivf_query_index_join`, so the query side never collects to
    the driver. Each row scores against its ``nprobe`` / ``n_centroids``
    fraction of the corpus (``nprobe`` is the recall/cost dial). A
    corpus query set probes essentially every cell, so the index is
    read unpruned, and on a float layout each (cell, salt) GROUP is
    scored by :func:`_cogroup_topk_scores` instead of per PAIR: the
    same rows and values as :func:`ivf_query_index_join` (pinned by
    ``test_ivf_join_serve_vectorized_parity``). An SQ8 layout is served
    by :func:`ivf_query_index_join`."""
    cells = spark.read.parquet(f"{path}/cells")
    if "qvec" in cells.columns:
        return ivf_query_index_join(spark, path, corpus, k, nprobe, id_col, vec_col)
    q = _probed_queries(corpus, id_col, vec_col, _read_centroids(spark, path), nprobe)
    scored = _cogroup_topk_scores(
        _salted(cells, "vec_id").select(
            F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), "cell", "__salt"
        ),
        _replicated(q.drop("qn")),
        k,
        _col_type(corpus, id_col),
    )
    return _topk_result(scored, k)
