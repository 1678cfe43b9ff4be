"""The query catalogue: every operator exposed as
``(spark, sf_dir) -> DataFrame`` with a matching DuckDB oracle SQL.

Conventions that make the hash-compare deterministic across engines:

- every float output is ``round(x, 6)`` (or coarser for big sums) on BOTH
  sides, computed AFTER identical arithmetic;
- daily timestamps are cast to DATE on both sides;
- hashes are MD5 (bit-identical everywhere);
- ties in any ranking are broken by explicit id columns;
- DuckDB reads the raw parquet views; ``events.ts`` is normalized on the
  Spark side by the dtype-robust loader (sources.load_table) and the
  oracle's ``ts::TIMESTAMP`` cast is a no-op for native timestamp[us]
  data (and truncates legacy nanosecond data to micros identically).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from thoth_spark.anomaly.models import DEFAULT_WINDOWS, SimpleModel
from thoth_spark.anomaly.optimization import cross_validation, find_best_threshold
from thoth_spark.operators import lm as lm_ops
from thoth_spark.operators.partitioning import spread_narrow
from thoth_spark.operators import (
    classifier,
    clustering,
    curation,
    dedup,
    membership,
    multimodal,
    relational,
    retrieval,
    sampling,
    similarity,
    text,
    tokenizer,
)
from thoth_spark.profiler import (
    Completeness,
    Compliance,
    Correlation,
    Distinctness,
    Entropy,
    ExactProfilingBuilder,
    Granularity,
    Histogram,
    MaxLength,
    Maximum,
    Mean,
    MinLength,
    Minimum,
    PatternMatch,
    ProfilingBuilder,
    Size,
    Sum,
    Uniqueness,
    UniqueValueRatio,
    profile,
)
from thoth_spark.sources import load_table

KEY = ["entity", "instance", "name"]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def _documents(spark, sf_dir):
    """documents table, round-robin repartitioned ONLY when the scan is
    narrower than the cluster (:func:`spread_narrow`'s file-count
    probe): the test parquet is a single small file (one scan task) and
    the text queries are compute-bound per row, so a 1.5 MB shuffle
    buys full parallelism — but at 100 TB the input already arrives in
    thousands of scan partitions and an unconditional ``repartition``
    would insert a gratuitous full-corpus exchange before every text
    query."""
    return spread_narrow(load_table(spark, sf_dir, "documents"))


def _round_metrics(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("ts").cast("date").alias("ts"),
        "entity",
        "instance",
        "name",
        F.round("value", 6).alias("value"),
    )


# ---------------------------------------------------------------------------
# Profiling
# ---------------------------------------------------------------------------

_EVENTS_DAY = "SELECT date_trunc('day', ts) AS d, * FROM events"

ORACLE_PROFILE_EXACT = f"""
WITH e AS ({_EVENTS_DAY})
SELECT d::DATE AS ts, entity, instance, name, round(value, 6) AS value FROM (
  SELECT d, 'Dataset' AS entity, '*' AS instance, 'Size' AS name, count(*)::DOUBLE AS value FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'value', 'Completeness', count(value)::DOUBLE / count(*) FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'event_type', 'Completeness', count(event_type)::DOUBLE / count(*) FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'value', 'Mean', avg(value) FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'value', 'StandardDeviation', stddev_pop(value) FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'value', 'ExactQuantiles-0.25', quantile_cont(value, 0.25) FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'value', 'ExactQuantiles-0.5', quantile_cont(value, 0.5) FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'value', 'ExactQuantiles-0.75', quantile_cont(value, 0.75) FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'event_type', 'CountDistinct', count(DISTINCT event_type)::DOUBLE FROM e GROUP BY d
) t
"""


@query("profile_events_exact", ORACLE_PROFILE_EXACT)
def profile_events_exact(spark, sf_dir):
    """Flagship: the default profiling surface with exact quantiles —
    one groupBy(day) job for all metrics of all columns."""
    df = _events(spark, sf_dir).select("ts", "value", "event_type")
    return _round_metrics(profile(df, "ts", ExactProfilingBuilder()))


ORACLE_MINMAX = f"""
WITH e AS ({_EVENTS_DAY})
SELECT d::DATE AS ts, entity, instance, name, round(value, 6) AS value FROM (
  SELECT d, 'Column' AS entity, 'value' AS instance, 'Minimum' AS name, min(value) AS value FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'value', 'Maximum', max(value) FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'value', 'Sum', sum(value) FROM e GROUP BY d
) t
"""


@query("profile_events_minmax_sum", ORACLE_MINMAX)
def profile_events_minmax_sum(spark, sf_dir):
    df = _events(spark, sf_dir).select("ts", "value")
    builder = ProfilingBuilder(analyzers=[Minimum("value"), Maximum("value"), Sum("value")])
    return _round_metrics(profile(df, "ts", builder))


ORACLE_EXTENDED = f"""
WITH e AS ({_EVENTS_DAY})
SELECT d::DATE AS ts, entity, instance, name, round(value, 6) AS value FROM (
  SELECT d, 'Column' AS entity, 'event_type' AS instance, 'Distinctness' AS name,
         count(DISTINCT event_type)::DOUBLE / count(event_type) AS value FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'event_type', 'MaxLength', max(length(event_type))::DOUBLE FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'event_type', 'MinLength', min(length(event_type))::DOUBLE FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'event_type', 'PatternMatch',
         avg(CASE WHEN regexp_matches(event_type, '^(click|view)') THEN 1.0 ELSE 0.0 END) FROM e GROUP BY d
  UNION ALL SELECT d, 'Dataset', 'value_positive', 'Compliance',
         avg(CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END) FROM e GROUP BY d
  UNION ALL SELECT d, 'Multicolumn', 'value,user_id', 'Correlation', corr(value, user_id) FROM e GROUP BY d
) t
"""


@query("profile_events_extended", ORACLE_EXTENDED)
def profile_events_extended(spark, sf_dir):
    df = _events(spark, sf_dir).select("ts", "value", "event_type", "user_id")
    builder = ProfilingBuilder(
        analyzers=[
            Distinctness("event_type"),
            MaxLength("event_type"),
            MinLength("event_type"),
            PatternMatch("event_type", "^(click|view)"),
            Compliance("value_positive", "value > 50"),
            Correlation("value", "user_id"),
        ]
    )
    return _round_metrics(profile(df, "ts", builder))


ORACLE_FREQUENCY = f"""
WITH e AS ({_EVENTS_DAY}),
counts AS (
  SELECT d, event_type AS val, count(*) AS cnt FROM e WHERE event_type IS NOT NULL GROUP BY d, event_type
)
SELECT d::DATE AS ts, entity, instance, name, round(value, 6) AS value FROM (
  SELECT d, 'Column' AS entity, 'event_type' AS instance, 'Uniqueness' AS name,
         sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)::DOUBLE / sum(cnt) AS value FROM counts GROUP BY d
  UNION ALL SELECT d, 'Column', 'event_type', 'UniqueValueRatio',
         sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) FROM counts GROUP BY d
  UNION ALL SELECT d, 'Column', 'event_type', 'Entropy',
         -sum((cnt::DOUBLE / total) * ln(cnt::DOUBLE / total))
         FROM (SELECT *, sum(cnt) OVER (PARTITION BY d) AS total FROM counts) GROUP BY d
) t
"""


@query("profile_events_frequency", ORACLE_FREQUENCY)
def profile_events_frequency(spark, sf_dir):
    df = _events(spark, sf_dir).select("ts", "event_type")
    builder = ProfilingBuilder(
        analyzers=[Uniqueness("event_type"), UniqueValueRatio("event_type"), Entropy("event_type")]
    )
    return _round_metrics(profile(df, "ts", builder))


ORACLE_HISTOGRAM = f"""
WITH e AS ({_EVENTS_DAY}),
counts AS (
  SELECT d, event_type AS val, count(*) AS cnt FROM e WHERE event_type IS NOT NULL GROUP BY d, event_type
),
enriched AS (
  SELECT *, sum(cnt) OVER (PARTITION BY d) AS total,
         count(*) OVER (PARTITION BY d) AS nbins,
         row_number() OVER (PARTITION BY d ORDER BY cnt DESC, val) AS rk
  FROM counts
)
SELECT d::DATE AS ts, entity, instance, name, round(value, 6) AS value FROM (
  SELECT d, 'Column' AS entity, 'event_type' AS instance, 'Histogram.bins' AS name, nbins::DOUBLE AS value
  FROM enriched WHERE rk = 1
  UNION ALL SELECT d, 'Column', 'event_type', 'Histogram.abs.' || val, cnt::DOUBLE FROM enriched
  UNION ALL SELECT d, 'Column', 'event_type', 'Histogram.ratio.' || val, cnt::DOUBLE / total FROM enriched
) t
"""


@query("profile_events_histogram", ORACLE_HISTOGRAM)
def profile_events_histogram(spark, sf_dir):
    df = _events(spark, sf_dir).select("ts", "event_type")
    return _round_metrics(profile(df, "ts", ProfilingBuilder(analyzers=[Histogram("event_type")])))


ORACLE_PROFILE_BY = """
WITH e AS (SELECT date_trunc('day', ts::TIMESTAMP) AS d, * FROM events)
SELECT d::DATE AS ts, entity, instance, name, round(value, 6) AS value FROM (
  SELECT d, 'Dataset' AS entity, event_type || '/*' AS instance,
         'Size' AS name, count(*)::DOUBLE AS value
  FROM e GROUP BY d, event_type
  UNION ALL
  SELECT d, 'Column', event_type || '/value', 'Mean', avg(value)
  FROM e GROUP BY d, event_type
  UNION ALL
  SELECT d, 'Column', event_type || '/value', 'Completeness',
         count(value)::DOUBLE / count(*)
  FROM e GROUP BY d, event_type
) t
"""


@query("profile_events_by_type", ORACLE_PROFILE_BY)
def profile_events_by_type(spark, sf_dir):
    """Segmented profiling (round 5, `profile(..., by=("event_type",))`):
    per-(day × event_type) metric series in the SAME long schema — the
    per-source corpus-quality monitoring shape; every segment becomes
    its own series for the anomaly layer (instance = "click/value").
    Still ONE aggregation pass: the by column just joins the groupBy
    key, so the shuffle stays O(buckets × segments × metrics)."""
    df = _events(spark, sf_dir).select("ts", "event_type", "value")
    builder = ProfilingBuilder(
        analyzers=[Size(), Mean("value"), Completeness("value")]
    )
    return _round_metrics(profile(df, "ts", builder, by=("event_type",)))


ORACLE_APPROX_TOPK = """
SELECT date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS ts, 'Column' AS entity,
       'event_type' AS instance, 'ApproxTopK.abs.' || event_type AS name,
       count(*)::DOUBLE AS value
FROM events WHERE event_type IS NOT NULL
GROUP BY 1, event_type
"""


@query("profile_events_topk", ORACLE_APPROX_TOPK)
def profile_events_topk(spark, sf_dir):
    """Heavy hitters per day via Spark's approx_top_k sketch — bounded
    state (max_tracked counters/bucket, mergeable map-side) where
    Histogram materializes the full frequency table; exact while bucket
    cardinality ≤ max_tracked, which the fixture satisfies (5 event
    types), so the oracle pins the exact per-value counts."""
    from thoth_spark.profiler.analyzers import ApproxTopK

    df = _events(spark, sf_dir).select("ts", "event_type")
    return profile(df, "ts", ProfilingBuilder(analyzers=[ApproxTopK("event_type", k=8)]))


ORACLE_CHECK = """
WITH a AS (
  SELECT count(*)::DOUBLE AS n,
         (count(value)::DOUBLE / count(*)) AS compl_value,
         (count(user_id)::DOUBLE / count(*)) AS compl_user,
         (count(DISTINCT event_id)::DOUBLE / count(event_id)) AS dist_eid,
         avg(value) AS mean_value,
         max(value)::DOUBLE AS max_value,
         stddev_pop(value) AS sd_value,
         (sum(CASE WHEN event_type IN ('click','view','purchase','signup','error')
                        OR event_type IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)) AS cont_et,
         (sum(CASE WHEN value >= 0 OR value IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)) AS nonneg,
         (sum(CASE WHEN regexp_matches(props, '^\\{') THEN 1 ELSE 0 END)::DOUBLE / count(*)) AS pat
  FROM events
)
SELECT 'events-quality' AS "check", c."constraint", round(c.metric, 6) AS metric, c.passed FROM a, LATERAL (VALUES
  ('Size', a.n, CASE WHEN a.n >= 100 THEN 1 ELSE 0 END),
  ('Completeness(value)', a.compl_value, CASE WHEN a.compl_value >= 1.0 THEN 1 ELSE 0 END),
  ('Completeness(user_id)', a.compl_user, CASE WHEN a.compl_user >= 0.9 THEN 1 ELSE 0 END),
  ('Distinctness(event_id)', a.dist_eid, CASE WHEN a.dist_eid >= 1.0 THEN 1 ELSE 0 END),
  ('Mean(value)', a.mean_value, CASE WHEN a.mean_value >= 0.0 AND a.mean_value <= 10.0 THEN 1 ELSE 0 END),
  ('Maximum(value)', a.max_value, CASE WHEN a.max_value <= 100.0 THEN 1 ELSE 0 END),
  ('StandardDeviation(value)', a.sd_value, CASE WHEN a.sd_value >= 1.0 THEN 1 ELSE 0 END),
  ('ContainedIn(event_type)', a.cont_et, CASE WHEN a.cont_et >= 1.0 THEN 1 ELSE 0 END),
  ('NonNegative(value)', a.nonneg, CASE WHEN a.nonneg >= 1.0 THEN 1 ELSE 0 END),
  ('PatternMatch(props)', a.pat, CASE WHEN a.pat >= 1.0 THEN 1 ELSE 0 END)
) AS c("constraint", metric, passed)
"""


@query("check_events_constraints", ORACLE_CHECK)
def check_events_constraints(spark, sf_dir):
    """Deequ-style constraint verification (round 5,
    profiler/check.py): ten declarative data-quality gates — size,
    completeness, distinctness/uniqueness, mean/max/stddev bounds,
    containment, non-negativity, pattern — ALL evaluated in ONE
    partial+final hash aggregation over one scan (the profiler's
    single-pass philosophy applied to gating); the result is
    #constraints metadata rows. Two constraints intentionally fail on
    the fixture (mean and max bounds) so `passed` carries both values
    through the oracle."""
    from thoth_spark.profiler.check import Check, run_check

    ev = _events(spark, sf_dir)
    check = (
        Check("events-quality")
        .has_size(min_value=100)
        .is_complete("value")
        .has_completeness("user_id", min_value=0.9)
        .is_unique("event_id")
        .has_mean("value", min_value=0.0, max_value=10.0)
        .has_max("value", max_value=100.0)
        .has_standard_deviation("value", min_value=1.0)
        .is_contained_in("event_type", ["click", "view", "purchase", "signup", "error"])
        .is_non_negative("value")
        .has_pattern("props", r"^\{", min_value=1.0)
    )
    return run_check(ev, check)


ORACLE_MUTUAL_INFO = """
WITH c AS (
  SELECT lang, source, count(*) AS cnt FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2
),
e AS (
  SELECT *, sum(cnt) OVER () AS total,
         sum(cnt) OVER (PARTITION BY lang) AS ca,
         sum(cnt) OVER (PARTITION BY source) AS cb
  FROM c
)
SELECT DATE '2024-01-01' AS ts, 'Multicolumn' AS entity, 'lang,source' AS instance,
       'MutualInformation' AS name,
       round(sum((cnt::DOUBLE / total) * ln((cnt::DOUBLE * total) / (ca::DOUBLE * cb))), 6) AS value
FROM e
"""


@query("profile_documents_mutual_information", ORACLE_MUTUAL_INFO)
def profile_documents_mutual_information(spark, sf_dir):
    """MutualInformation(lang, source) over the whole corpus (single
    synthetic partition): joint + marginal frequencies from ONE
    groupBy(pair) pass plus window sums — no self-joins."""
    from thoth_spark.profiler import MutualInformation

    docs = load_table(spark, sf_dir, "documents").select(
        F.lit("2024-01-01").cast("timestamp").alias("ts"), "lang", "source"
    )
    m = profile(docs, "ts", ProfilingBuilder(analyzers=[MutualInformation("lang", "source")]))
    return m.select(
        F.col("ts").cast("date").alias("ts"),
        "entity",
        "instance",
        "name",
        F.round("value", 6).alias("value"),
    )


ORACLE_INFERRED_TYPES = """
WITH e AS (
  SELECT date_trunc('day', ts::TIMESTAMP) AS d,
         json_extract_string(props, '$.k') AS k_str
  FROM events
),
agg AS (
  SELECT d, count(k_str) AS nn,
         sum(CASE WHEN regexp_full_match(k_str, '-?\\d+') THEN 1 ELSE 0 END) AS i,
         sum(CASE WHEN regexp_full_match(k_str, '-?\\d*\\.\\d+([eE][-+]?\\d+)?') THEN 1 ELSE 0 END) AS fr,
         sum(CASE WHEN regexp_full_match(k_str, '(?i)(true|false)') THEN 1 ELSE 0 END) AS b
  FROM e GROUP BY d
)
SELECT d::DATE AS ts, 'Column' AS entity, 'k_str' AS instance, name, round(value, 6) AS value FROM (
  SELECT d, 'DataType.Integral.ratio' AS name, i::DOUBLE / nn AS value FROM agg
  UNION ALL SELECT d, 'DataType.Fractional.ratio', fr::DOUBLE / nn FROM agg
  UNION ALL SELECT d, 'DataType.Boolean.ratio', b::DOUBLE / nn FROM agg
  UNION ALL SELECT d, 'DataType.String.ratio', (nn - i - fr - b)::DOUBLE / nn FROM agg
) t
"""


@query("profile_events_inferred_types", ORACLE_INFERRED_TYPES)
def profile_events_inferred_types(spark, sf_dir):
    """Deequ-style DataType inference histogram over JSON-extracted string
    values, per day, in the shared single-pass aggregation."""
    from thoth_spark.profiler import InferredTypes

    df = _events(spark, sf_dir).select(
        "ts", F.get_json_object("props", "$.k").alias("k_str")
    )
    m = profile(df, "ts", ProfilingBuilder(analyzers=[InferredTypes("k_str")]))
    return _round_metrics(m)


ORACLE_HOURLY = """
SELECT date_trunc('hour', ts::TIMESTAMP) AS ts, 'Dataset' AS entity, '*' AS instance,
       'Size' AS name, count(*)::DOUBLE AS value
FROM events GROUP BY 1
"""


@query("profile_events_hourly_size", ORACLE_HOURLY)
def profile_events_hourly_size(spark, sf_dir):
    df = _events(spark, sf_dir).select("ts", "value")
    m = profile(df, "ts", ProfilingBuilder(analyzers=[Size()]), Granularity.HOUR)
    return m.select("ts", "entity", "instance", "name", F.round("value", 6).alias("value"))


# ---------------------------------------------------------------------------
# Anomaly layer
# ---------------------------------------------------------------------------

#: three representative metric series (volatile, count, constant-ish)
_SERIES_SQL = """
series AS (
  SELECT 'Column' AS entity, 'value' AS instance, 'Mean' AS name,
         date_trunc('day', ts) AS ts, avg(value) AS value FROM events GROUP BY 4
  UNION ALL SELECT 'Dataset', '*', 'Size', date_trunc('day', ts), count(*)::DOUBLE FROM events GROUP BY 4
  UNION ALL SELECT 'Column', 'event_type', 'CountDistinct', date_trunc('day', ts),
         count(DISTINCT event_type)::DOUBLE FROM events GROUP BY 4
)"""

#: forward-chaining folds with per-fold best-window selection (reference
#: SimpleModel semantics) in portable SQL. Variable window frames are not
#: SQL, so one UNION leg per window length.
_FOLDS_SQL = (
    _SERIES_SQL
    + """,
idx AS (
  SELECT *, row_number() OVER (PARTITION BY entity, instance, name ORDER BY ts) - 1 AS i,
         count(*) OVER (PARTITION BY entity, instance, name) AS n
  FROM series
),
wl AS (
"""
    + "  UNION ALL\n".join(
        f"""  SELECT *, {w} AS w,
    CASE WHEN i >= {w} THEN avg(value) OVER (PARTITION BY entity, instance, name ORDER BY ts
         ROWS BETWEEN {w} PRECEDING AND 1 PRECEDING) END AS pred
  FROM idx
"""
        for w in (3, 5, 7, 30)
    )
    + """),
errs AS (
  SELECT *, CASE WHEN pred IS NOT NULL THEN least(abs(value - pred) / value, 1.0) END AS ape FROM wl
),
cum AS (
  SELECT *, avg(ape) OVER (PARTITION BY entity, instance, name, w ORDER BY ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS train_err
  FROM errs
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY entity, instance, name, ts ORDER BY train_err ASC, w ASC) AS rk
  FROM cum WHERE train_err IS NOT NULL
),
folds AS (
  SELECT entity, instance, name, ts, i, n, value, pred,
         least(abs(value - pred) / value, 1.0) AS err
  FROM ranked WHERE rk = 1
),
validation AS (
  SELECT x.entity, x.instance, x.name, x.ts, x.i, x.n, x.value,
         CASE WHEN x.i >= floor(x.n * (CASE WHEN x.n >= 100 THEN 0.1 WHEN x.n >= 50 THEN 0.2
                                            WHEN x.n >= 25 THEN 0.4 ELSE 0.8 END))
              THEN f.pred END AS pred,
         CASE WHEN x.i >= floor(x.n * (CASE WHEN x.n >= 100 THEN 0.1 WHEN x.n >= 50 THEN 0.2
                                            WHEN x.n >= 25 THEN 0.4 ELSE 0.8 END))
              THEN f.err END AS err
  FROM idx x LEFT JOIN folds f USING (entity, instance, name, ts)
)"""
)


def _metric_series(spark, sf_dir):
    from thoth_spark.profiler import CountDistinct, Mean

    df = _events(spark, sf_dir).select("ts", "value", "event_type")
    builder = ProfilingBuilder(
        analyzers=[Mean("value"), CountDistinct("event_type"), Size()]
    )
    # cached: the anomaly queries chain several passes (validate, CV per
    # model, threshold grid, scoring) over this tiny aggregated series
    return profile(df, "ts", builder).cache()


ORACLE_SM_WINDOW_PREDS = """
WITH mean_series AS (SELECT date_trunc('day', ts) AS ts, avg(value) AS value FROM events GROUP BY 1),
idx AS (SELECT *, row_number() OVER (ORDER BY ts) - 1 AS i FROM mean_series),
wl AS (
""" + "  UNION ALL\n".join(
    f"""  SELECT {w} AS w, ts, value,
    CASE WHEN i >= {w} THEN avg(value) OVER (ORDER BY ts ROWS BETWEEN {w} PRECEDING AND 1 PRECEDING) END AS pred
  FROM idx
"""
    for w in (3, 5, 7, 30)
) + """)
SELECT w, ts::DATE AS ts, round(value, 6) AS true_value, round(pred, 6) AS predicted,
       round(least(abs(value - pred) / value, 1.0), 6) AS ape
FROM wl WHERE pred IS NOT NULL
"""


@query("anomaly_sm_window_preds", ORACLE_SM_WINDOW_PREDS)
def anomaly_sm_window_preds(spark, sf_dir):
    """Rolling-mean forecasts + APE for every window length over the daily
    Mean(value) series — the vectorized core of SimpleModel."""
    from thoth_spark.anomaly.error_metrics import ape_column

    m = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("day", "ts").alias("ts"))
        .agg(F.avg("value").alias("value"))
    )
    w_ord = W.partitionBy(F.lit(1)).orderBy("ts")
    idx = m.withColumn("i", F.row_number().over(w_ord) - 1)
    parts = []
    for w in DEFAULT_WINDOWS:
        pred = F.when(F.col("i") >= w, F.avg("value").over(w_ord.rowsBetween(-w, -1)))
        parts.append(
            idx.select(
                F.lit(w).alias("w"),
                F.col("ts").cast("date").alias("ts"),
                F.round("value", 6).alias("true_value"),
                F.round(pred, 6).alias("predicted"),
                F.round(ape_column(F.col("value"), pred), 6).alias("ape"),
            ).where(F.col("predicted").isNotNull())
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


ORACLE_SM_VALIDATION = "WITH " + _FOLDS_SQL + """
SELECT entity, instance, name, ts::DATE AS ts, round(value, 6) AS true_value,
       round(pred, 6) AS predicted, round(err, 6) AS error
FROM validation
"""


@query("anomaly_sm_validation", ORACLE_SM_VALIDATION)
def anomaly_sm_validation(spark, sf_dir):
    """Full forward-chaining cross-validation (warm-up masking, per-fold
    best-window selection) for three metric series in ONE window-function
    job."""
    metrics = _metric_series(spark, sf_dir)
    v = cross_validation(metrics, SimpleModel(), key_cols=KEY)
    return v.select(
        *KEY,
        F.col("ts").cast("date").alias("ts"),
        F.round("true_value", 6).alias("true_value"),
        F.round("predicted", 6).alias("predicted"),
        F.round("error", 6).alias("error"),
    )


_CONF = 0.85

ORACLE_SM_THRESHOLD = "WITH " + _FOLDS_SQL + f""",
errors AS (
  SELECT entity, instance, name, err FROM validation WHERE err IS NOT NULL
),
grid AS (
  SELECT e.entity, e.instance, e.name, g.t / 100.0 AS threshold,
         avg(CASE WHEN e.err <= g.t / 100.0 THEN 1.0 ELSE 0.0 END) AS prop
  FROM errors e CROSS JOIN generate_series(1, 100) g(t)
  GROUP BY 1, 2, 3, 4
),
best AS (
  SELECT entity, instance, name, threshold, prop,
         row_number() OVER (PARTITION BY entity, instance, name ORDER BY threshold) AS rk
  FROM grid WHERE prop >= {_CONF}
),
mean_err AS (
  SELECT entity, instance, name, avg(err) AS mean_error FROM errors GROUP BY 1, 2, 3
)
SELECT b.entity, b.instance, b.name, 'SimpleModel' AS best_model_name,
       round(greatest(b.threshold, 0.1), 6) AS threshold,
       round(m.mean_error, 6) AS mean_error,
       round(b.prop, 6) AS below_threshold_proportion
FROM best b JOIN mean_err m USING (entity, instance, name)
WHERE b.rk = 1
"""


@query("anomaly_sm_threshold", ORACLE_SM_THRESHOLD)
def anomaly_sm_threshold(spark, sf_dir):
    """Grid-searched anomaly thresholds (confidence 0.85, min floor 0.1)
    per metric series."""
    from thoth_spark.anomaly.optimization import optimize

    metrics = _metric_series(spark, sf_dir)
    opt = optimize(metrics, confidence=_CONF, key_cols=KEY)
    return opt.optimization_df.select(
        *KEY,
        "best_model_name",
        F.round("threshold", 6).alias("threshold"),
        F.round("mean_error", 6).alias("mean_error"),
        F.round("below_threshold_proportion", 6).alias("below_threshold_proportion"),
    )


ORACLE_SM_SCORING = "WITH " + _FOLDS_SQL + """
SELECT entity, instance, name, ts::DATE AS ts, round(value, 6) AS observed,
       round(pred, 6) AS predicted, round(err, 6) AS error
FROM folds WHERE i = n - 1
"""


@query("anomaly_scoring_events", ORACLE_SM_SCORING)
def anomaly_scoring_events(spark, sf_dir):
    """Score the latest day of each metric series: fresh model trained on
    all prior points, APE of its forecast (the reference's AnomalyScoring)."""
    model = SimpleModel()
    folds = model.folds(_metric_series(spark, sf_dir), key_cols=KEY)
    return folds.where(F.col("__idx") == F.col("__n") - 1).select(
        *KEY,
        F.col("ts").cast("date").alias("ts"),
        F.round("value", 6).alias("observed"),
        F.round("predicted", 6).alias("predicted"),
        F.round("error", 6).alias("error"),
    )


ORACLE_QUALITY = "WITH " + _FOLDS_SQL + f""",
errors AS (SELECT entity, instance, name, err FROM validation WHERE err IS NOT NULL),
grid AS (
  SELECT e.entity, e.instance, e.name, g.t / 100.0 AS threshold,
         avg(CASE WHEN e.err <= g.t / 100.0 THEN 1.0 ELSE 0.0 END) AS prop
  FROM errors e CROSS JOIN generate_series(1, 100) g(t) GROUP BY 1, 2, 3, 4
),
best AS (
  SELECT entity, instance, name, greatest(threshold, 0.1) AS threshold,
         row_number() OVER (PARTITION BY entity, instance, name ORDER BY threshold) AS rk
  FROM grid WHERE prop >= {_CONF}
),
scoring AS (SELECT entity, instance, name, err FROM folds WHERE i = n - 1)
SELECT s.entity, s.instance, s.name, round(s.err, 6) AS score,
       round(b.threshold, 6) AS threshold, s.err > b.threshold AS is_anomalous
FROM scoring s JOIN best b USING (entity, instance, name) WHERE b.rk = 1
"""


@query("quality_assessment_events", ORACLE_QUALITY)
def quality_assessment_events(spark, sf_dir):
    """Flow C: latest scores joined to optimized thresholds."""
    from thoth_spark.anomaly.optimization import optimize
    from thoth_spark.anomaly.scoring import score as score_fn

    metrics = _metric_series(spark, sf_dir)
    opt = optimize(metrics, confidence=_CONF, key_cols=KEY)
    scoring = score_fn(metrics, opt)
    thresholds = opt.optimization_df.select(*KEY, "threshold")
    return scoring.join(F.broadcast(thresholds), on=KEY).select(
        *KEY,
        F.round("error", 6).alias("score"),
        F.round("threshold", 6).alias("threshold"),
        (F.col("error") > F.col("threshold")).alias("is_anomalous"),
    )


def _sketch_bounds_oracle(quantiles: list[float], margin: float, name_prefix: str) -> str:
    """ε-bounds oracle for a quantile sketch: per day, the order
    statistics at ranks ``φ·n ∓ (⌈margin·n⌉+1)`` (computed with identical
    integer arithmetic by DuckDB) bracket where a sketch estimate with
    rank error < margin MUST fall; the oracle asserts ``within = TRUE``.
    A sketch regression (or a broken merge) flips Spark's ``within`` to
    false → hash mismatch. Rank-space (element-indexing) bounds rather
    than interpolated quantiles: at small n the interpolated quantile at
    φ±margin can land INSIDE the one-element gap around the element the
    sketch legitimately returns. The +1 rank slack absorbs the
    floor/ceil edge. This upgrades the r1–r4 rows-only status ("it ran")
    to a verifiable guarantee ("every estimate is within its proven rank
    error")."""
    bounds = ",\n         ".join(
        f"round(vals[greatest(1, cast(floor({q!r} * n) AS INT) - slack)], 6) AS lo{i}, "
        f"round(vals[least(n, cast(ceil({q!r} * n) AS INT) + slack)], 6) AS hi{i}"
        for i, q in enumerate(quantiles)
    )
    selects = "\n  UNION ALL ".join(
        f"SELECT d::DATE AS ts, 'Column' AS entity, 'value' AS instance, "
        f"'{name_prefix}-{q}' AS name, lo{i} AS lower, hi{i} AS upper, "
        f"TRUE AS within FROM bounds"
        for i, q in enumerate(quantiles)
    )
    return f"""
WITH e AS (SELECT date_trunc('day', ts) AS d, value FROM events WHERE value IS NOT NULL),
s AS (
  SELECT d, list_sort(list(value)) AS vals, cast(count(*) AS INT) AS n
  FROM e GROUP BY d
),
slacked AS (
  SELECT d, cast(ceil({margin!r} * n) AS INT) + 1 AS slack, vals, n FROM s
),
bounds AS (
  SELECT d,
         {bounds}
  FROM slacked
)
{selects}
"""


def _sketch_bounds_rows(
    agg_df: DataFrame, quantiles: list[float], margin: float, name_prefix: str, est_col: str
):
    """Long-format bound rows from a per-day agg frame carrying a sorted
    ``vals`` array and per-quantile estimates. Bounds are order
    statistics at ranks ``φ·n ∓ (⌈margin·n⌉+1)`` — the same integer
    arithmetic the DuckDB oracle runs, so lower/upper hash-match, and
    ``within`` verifies the sketch's rank-error guarantee."""
    n = F.size("vals")
    slack = F.ceil(F.lit(margin) * n).cast("int") + F.lit(1)

    def lo(q):
        r = F.greatest(F.lit(1), F.floor(F.lit(q) * n).cast("int") - slack)
        return F.element_at("vals", r)

    def hi(q):
        r = F.least(n, F.ceil(F.lit(q) * n).cast("int") + slack)
        return F.element_at("vals", r)

    return agg_df.select(
        F.col("d").cast("date").alias("ts"),
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit("Column").alias("entity"),
                        F.lit("value").alias("instance"),
                        F.lit(f"{name_prefix}-{q}").alias("name"),
                        F.round(lo(q), 6).alias("lower"),
                        F.round(hi(q), 6).alias("upper"),
                        (
                            (F.col(est_col)[i] >= lo(q))
                            & (F.col(est_col)[i] <= hi(q))
                        ).alias("within"),
                    )
                    for i, q in enumerate(quantiles)
                ]
            )
        ),
    )


_KLL_QUANTILES = [0.25, 0.5, 0.75]
#: KLL k=200 has ~1.65% normalized rank error at 99% confidence; 3× that
#: margin makes a spurious exceedance astronomically unlikely while still
#: catching any real sketch/merge regression.
_KLL_MARGIN = 0.05


@query("profile_events_kll", _sketch_bounds_oracle(_KLL_QUANTILES, _KLL_MARGIN, "KLLSketch"))
def profile_events_kll(spark, sf_dir):
    """True KLLSketch analyzer parity (Deequ KLLSketch via Apache
    DataSketches ``kll_sketch_agg_double``), verified by ε-bounds: each
    per-day estimate must fall between the order statistics at ranks
    φ·n ∓ (⌈0.05·n⌉+1) — 3× the k=200 sketch's 99%-confidence rank
    error plus one-element slack — with the bounds computed identically
    on both engines and the oracle pinning ``within = TRUE``. Point
    accuracy is additionally asserted in tests/test_profiler.py."""
    ev = _events(spark, sf_dir).select(
        F.date_trunc("day", "ts").alias("d"), F.col("value").cast("double").alias("value")
    ).where(F.col("value").isNotNull())
    agg = ev.groupBy("d").agg(
        F.kll_sketch_agg_double("value", F.lit(200)).alias("sk"),
        F.sort_array(F.collect_list("value")).alias("vals"),
    )
    agg = agg.withColumn(
        "est",
        F.array(
            *[
                F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(float(q)))
                for q in _KLL_QUANTILES
            ]
        ),
    )
    return _sketch_bounds_rows(agg, _KLL_QUANTILES, _KLL_MARGIN, "KLLSketch", "est")


#: HLL lgK=12 → rsd ≈ 1.04/√4096 ≈ 1.6%; 3·rsd ≈ 5% is the same
#: bounds-margin recipe as profile_events_approx. Measured worst error
#: across sf0.001/0.01/0.1: 0.6% (sf0.1 weekly user_id, where the
#: sketch is past its exactness threshold).
_HLL_MARGIN = 0.05

ORACLE_SKETCH_ROLLUP = """
SELECT date_trunc('week', date_trunc('day', ts::TIMESTAMP))::DATE AS ts,
       count(*) AS row_count,
       TRUE AS user_id_within,
       TRUE AS event_type_within
FROM events GROUP BY 1
"""


@query("sketch_rollup_weekly_events", ORACLE_SKETCH_ROLLUP)
def sketch_rollup_weekly_events(spark, sf_dir):
    """Mergeable-sketch rollup — the 100 TB incremental-profiling path:
    the raw data is scanned ONCE into per-day HLL sketches (bytes per
    bucket); the weekly distinct counts are then computed by merging
    sketch bytes only, never rescanning (plan-locked in
    tests/test_plans.py). Gate design (r12): row_count stays hash-EXACT
    (counts are additive); the distinct estimates are gated as
    ±3·rsd BOUNDS against an exact count_distinct twin computed here —
    the r9 gate hash-matched the estimates to exact DISTINCT directly,
    which only holds while DataSketches HLL is below its exactness
    threshold (true at the sf0.01 driver fixture, already 0.6% off at
    sf0.1), so the gate was silently scale-fragile."""
    from thoth_spark.profiler.sketches import rollup_sketches, sketch_profile

    ev = _events(spark, sf_dir)
    daily = sketch_profile(ev, "ts", distinct_cols=["user_id", "event_type"])
    weekly = rollup_sketches(daily, "week").select(
        F.col("ts").cast("date").alias("ts"),
        "row_count",
        "approx_distinct_user_id",
        "approx_distinct_event_type",
    )
    exact = ev.groupBy(
        F.date_trunc("week", F.date_trunc("day", F.col("ts")))
        .cast("date")
        .alias("ts")
    ).agg(
        F.count_distinct("user_id").alias("__ex_u"),
        F.count_distinct("event_type").alias("__ex_e"),
    )

    def within(est, ex):
        return (
            F.abs(F.col(est) - F.col(ex)) / F.col(ex) <= F.lit(_HLL_MARGIN)
        )

    return weekly.join(exact, "ts").select(
        "ts",
        "row_count",
        within("approx_distinct_user_id", "__ex_u").alias("user_id_within"),
        within("approx_distinct_event_type", "__ex_e").alias("event_type_within"),
    )


@query("accuracy_study_events")
def accuracy_study_events(spark, sf_dir):
    """The reference's published evaluation (BASELINE.md; example-02/03
    experiments A-E: normal / volume ×3 / category drop / ×2 shift /
    null injection) reproduced end-to-end on the events fixture —
    vectorized to ~6 Spark jobs total where the reference loops a full
    assess job per test day. Decision logic (profile → optimize →
    per-day score → any-metric-over-threshold) is the real pipeline, so
    this is rows-only: the accuracy bar itself is asserted in
    tests/test_study.py (overall ≥ 0.9 at sf0.01, matching the
    reference's 0.97-0.98 design within this fixture's 30-day span)."""
    from thoth_spark.study import accuracy_study

    return accuracy_study(_events(spark, sf_dir))


# --- dashboard view queries (thoth_spark/viz.py + dashboard.py) -----------

ORACLE_VIZ_SERIES = "WITH " + _FOLDS_SQL + """
SELECT entity, instance, name, ts::DATE AS ts, round(value, 6) AS value,
       dense_rank() OVER (ORDER BY entity, instance, name)::INT AS metric_position
FROM idx
"""


@query("viz_series_events", ORACLE_VIZ_SERIES)
def viz_series_events(spark, sf_dir):
    """Profiling-series dashboard view (reference ``ui.py:97-120`` /
    ``viz.plot_ts``): per-metric series with the metric's sorted ordinal
    so any renderer reproduces the reference's panel order."""
    from thoth_spark import viz

    metrics = _metric_series(spark, sf_dir)
    v = viz.timeseries_view(metrics)
    return v.select(
        *KEY,
        F.col("ts").cast("date").alias("ts"),
        F.round("value", 6).alias("value"),
        "metric_position",
    )


_THRESHOLD_CTES = f""",
errors AS (SELECT entity, instance, name, err FROM validation WHERE err IS NOT NULL),
grid AS (
  SELECT e.entity, e.instance, e.name, g.t / 100.0 AS threshold,
         avg(CASE WHEN e.err <= g.t / 100.0 THEN 1.0 ELSE 0.0 END) AS prop
  FROM errors e CROSS JOIN generate_series(1, 100) g(t) GROUP BY 1, 2, 3, 4
),
best AS (
  SELECT entity, instance, name, greatest(threshold, 0.1) AS threshold,
         row_number() OVER (PARTITION BY entity, instance, name ORDER BY threshold) AS rk
  FROM grid WHERE prop >= {_CONF}
),
latest AS (
  SELECT entity, instance, name, ts, value, pred, err FROM folds WHERE i = n - 1
)"""

ORACLE_VIZ_SCORE_BAND = "WITH " + _FOLDS_SQL + _THRESHOLD_CTES + """
SELECT s.entity, s.instance, s.name, s.ts::DATE AS ts,
       round(s.err, 6) AS score, round(b.threshold, 6) AS threshold,
       'SimpleModel' AS best_model_name, s.err > b.threshold AS is_anomalous
FROM latest s JOIN best b USING (entity, instance, name) WHERE b.rk = 1
"""


@query("viz_score_band_events", ORACLE_VIZ_SCORE_BAND)
def viz_score_band_events(spark, sf_dir):
    """Score-vs-threshold band view (reference ``viz.plot_metric_scoring``,
    ``thoth/util/viz.py:60-88``)."""
    from thoth_spark import viz
    from thoth_spark.anomaly.optimization import optimize
    from thoth_spark.anomaly.scoring import score as score_fn

    metrics = _metric_series(spark, sf_dir)
    opt = optimize(metrics, confidence=_CONF, key_cols=KEY)
    scoring = score_fn(metrics, opt)
    v = viz.scoring_view(scoring, opt.optimization_df)
    return v.select(
        *KEY,
        F.col("ts").cast("date").alias("ts"),
        F.round("score", 6).alias("score"),
        F.round("threshold", 6).alias("threshold"),
        "best_model_name",
        "is_anomalous",
    )


ORACLE_VIZ_FORECAST_INTERVAL = "WITH " + _FOLDS_SQL + _THRESHOLD_CTES + """
SELECT s.entity, s.instance, s.name, s.ts::DATE AS ts,
       round(s.value, 6) AS observed, round(s.pred, 6) AS predicted,
       round(s.pred / (1 + b.threshold), 6) AS expected_min,
       round(s.pred / (1 - b.threshold), 6) AS expected_max
FROM latest s JOIN best b USING (entity, instance, name) WHERE b.rk = 1
"""


@query("viz_forecast_interval_events", ORACLE_VIZ_FORECAST_INTERVAL)
def viz_forecast_interval_events(spark, sf_dir):
    """Observed-vs-expected interval view: acceptance band is
    ``predicted / (1 ± threshold)`` — the exact inversion of the clamped
    APE score (reference ``viz.py:102-103``)."""
    from thoth_spark import viz
    from thoth_spark.anomaly.optimization import optimize
    from thoth_spark.anomaly.scoring import score as score_fn

    metrics = _metric_series(spark, sf_dir)
    opt = optimize(metrics, confidence=_CONF, key_cols=KEY)
    scoring = score_fn(metrics, opt)
    v = viz.forecast_interval_view(scoring, opt.optimization_df)
    return v.select(
        *KEY,
        F.col("ts").cast("date").alias("ts"),
        F.round("observed", 6).alias("observed"),
        F.round("predicted", 6).alias("predicted"),
        F.round("expected_min", 6).alias("expected_min"),
        F.round("expected_max", 6).alias("expected_max"),
    )


#: SeasonalNaive7 (PythonModelAdapter, applyInPandas): pred = value one
#: season (7) back once i >= 7, else the previous value; preds start at
#: min_train_length = 4; same warm-up mask as every model.
_SN_SQL = """,
sn AS (
  SELECT entity, instance, name, ts, i, n, value,
         CASE WHEN i >= 7 THEN lag(value, 7) OVER w
              WHEN i >= 4 THEN lag(value, 1) OVER w END AS pred
  FROM idx WINDOW w AS (PARTITION BY entity, instance, name ORDER BY ts)
),
sn_val AS (
  SELECT entity, instance, name, ts, value,
         CASE WHEN i >= floor(n * (CASE WHEN n >= 100 THEN 0.1 WHEN n >= 50 THEN 0.2
                                        WHEN n >= 25 THEN 0.4 ELSE 0.8 END))
              THEN pred END AS pred,
         CASE WHEN i >= floor(n * (CASE WHEN n >= 100 THEN 0.1 WHEN n >= 50 THEN 0.2
                                        WHEN n >= 25 THEN 0.4 ELSE 0.8 END))
              THEN least(abs(value - pred) / value, 1.0) END AS err
  FROM sn
)"""

ORACLE_SN_VALIDATION = "WITH " + _FOLDS_SQL + _SN_SQL + """
SELECT entity, instance, name, ts::DATE AS ts, round(value, 6) AS true_value,
       round(pred, 6) AS predicted, round(err, 6) AS error
FROM sn_val
"""


@query("anomaly_seasonal_naive_validation", ORACLE_SN_VALIDATION)
def anomaly_seasonal_naive_validation(spark, sf_dir):
    """Forward-chaining CV of a pandas-backed model (applyInPandas, one
    executor task per metric series) — the distribution pattern for
    stateful forecasters."""
    from thoth_spark.anomaly.models import MODEL_REGISTRY

    metrics = _metric_series(spark, sf_dir)
    v = cross_validation(metrics, MODEL_REGISTRY["SeasonalNaive7"](), key_cols=KEY)
    return v.select(
        *KEY,
        F.col("ts").cast("date").alias("ts"),
        F.round("true_value", 6).alias("true_value"),
        F.round("predicted", 6).alias("predicted"),
        F.round("error", 6).alias("error"),
    )


ORACLE_MULTIMODEL = "WITH " + _FOLDS_SQL + _SN_SQL + f""",
allv AS (
  SELECT 'SimpleModel' AS model_name, entity, instance, name, err
  FROM validation WHERE err IS NOT NULL
  UNION ALL
  SELECT 'SeasonalNaive7', entity, instance, name, err FROM sn_val WHERE err IS NOT NULL
),
grid AS (
  SELECT model_name, entity, instance, name, g.t / 100.0 AS threshold,
         avg(CASE WHEN err <= g.t / 100.0 THEN 1.0 ELSE 0.0 END) AS prop,
         avg(err) AS mean_error
  FROM allv CROSS JOIN generate_series(1, 100) g(t) GROUP BY 1, 2, 3, 4, 5
),
qual AS (
  SELECT *, row_number() OVER (PARTITION BY model_name, entity, instance, name
                               ORDER BY threshold) AS rk
  FROM grid WHERE prop >= {_CONF}
),
const_flag AS (
  SELECT entity, instance, name, count(DISTINCT value) = 1 AS is_const
  FROM series GROUP BY 1, 2, 3
),
pick AS (
  SELECT q.*, row_number() OVER (PARTITION BY entity, instance, name
         ORDER BY threshold, CASE model_name WHEN 'SimpleModel' THEN 1 ELSE 2 END) AS mrk
  FROM qual q JOIN const_flag c USING (entity, instance, name)
  WHERE q.rk = 1 AND (NOT c.is_const OR q.model_name = 'SimpleModel')
)
SELECT entity, instance, name, model_name AS best_model_name,
       round(greatest(threshold, 0.1), 6) AS threshold,
       round(mean_error, 6) AS mean_error,
       round(prop, 6) AS below_threshold_proportion
FROM pick WHERE mrk = 1
"""


@query("anomaly_multimodel_threshold", ORACLE_MULTIMODEL)
def anomaly_multimodel_threshold(spark, sf_dir):
    """Model competition per metric: vectorized SimpleModel vs. a pandas
    SeasonalNaive — union the validation curves, grid-search thresholds,
    pick min (threshold, factory order); constant series forced to
    SimpleModel."""
    from thoth_spark.anomaly.optimization import optimize

    metrics = _metric_series(spark, sf_dir)
    opt = optimize(
        metrics,
        confidence=_CONF,
        model_names=["SimpleModel", "SeasonalNaive7"],
        key_cols=KEY,
    )
    return opt.optimization_df.select(
        *KEY,
        "best_model_name",
        F.round("threshold", 6).alias("threshold"),
        F.round("mean_error", 6).alias("mean_error"),
        F.round("below_threshold_proportion", 6).alias("below_threshold_proportion"),
    )


# ---------------------------------------------------------------------------
# Relational coverage (TPC-H-style + windowed/sessionized/as-of)
# ---------------------------------------------------------------------------

ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("tpch_q1_pricing_summary", ORACLE_Q1)
def tpch_q1(spark, sf_dir):
    """TPC-H Q1: one scan + partial/final hash agg; filter pushed to
    parquet; whole-stage codegen end to end."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_Q3 = """
SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate::DATE AS o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30'
  AND l_shipdate > TIMESTAMP '1998-06-30'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query("tpch_q3_shipping_priority", ORACLE_Q3)
def tpch_q3(spark, sf_dir):
    """TPC-H Q3: selective dimension joins — customer (small) broadcasts
    into orders⋈lineitem; deterministic top-10."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-30").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-30").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "l_orderkey", "revenue", F.col("o_orderdate").cast("date").alias("o_orderdate"), "o_orderpriority"
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


ORACLE_Q5 = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY n_name
"""


@query("tpch_q5_local_supplier_volume", ORACLE_Q5)
def tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape: six-table join; region/nation/supplier broadcast,
    the fact-side join shuffles once on orderkey."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


ORACLE_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


@query("tpch_q4_order_priority", ORACLE_Q4)
def tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join; the date
    filter prunes the orders scan before the shuffle."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


ORACLE_Q13 = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) t GROUP BY c_count
"""


@query("tpch_q13_customer_distribution", ORACLE_Q13)
def tpch_q13(spark, sf_dir):
    """TPC-H Q13: left outer join with an ON-clause predicate, then a
    two-level aggregation (per-customer count -> distribution)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


ORACLE_Q17 = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
"""


@query("tpch_q17_small_quantity_revenue", ORACLE_Q17)
def tpch_q17(spark, sf_dir):
    """TPC-H Q17: correlated scalar aggregate decorrelated to a window
    avg over partkey — no second scan/join of lineitem, the classic
    rewrite that halves the shuffle volume."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1").select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    filtered = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    avg_q = F.avg("l_quantity").over(W.partitionBy("l_partkey"))
    return (
        filtered.withColumn("__avg_q", avg_q)
        .where(F.col("l_quantity") < 0.2 * F.col("__avg_q"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


ORACLE_Q22 = """
WITH avg_bal AS (SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0)
SELECT substr(c_name, 10, 1) AS cntrycode, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1
"""


@query("tpch_q22_global_sales_opportunity", ORACLE_Q22)
def tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape: uncorrelated scalar subquery (computed once,
    broadcast into the filter) + NOT EXISTS as a left-anti join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("a"))
    rich = c.join(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("a"))
    no_orders = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return no_orders.groupBy(
        F.substring("c_name", 10, 1).alias("cntrycode")
    ).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


ORACLE_Q12 = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
"""


@query("tpch_q12_priority_shipments", ORACLE_Q12)
def tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape: fact-to-fact join + conditional (CASE) partial
    aggregation; the year filter prunes lineitem at the scan."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


ORACLE_Q14 = """
SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount)
                               ELSE 0 END) / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-02-01'
"""


@query("tpch_q14_promotion_effect", ORACLE_Q14)
def tpch_q14(spark, sf_dir):
    """TPC-H Q14: broadcast dimension + conditional-ratio aggregate."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-02-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)) / F.sum(rev),
                6,
            ).alias("promo_revenue")
        )
    )


ORACLE_Q19 = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#7' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
"""


@query("tpch_q19_discounted_revenue", ORACLE_Q19)
def tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive multi-attribute predicates across both
    join sides — Catalyst extracts the common join key and pushes the
    per-side conjuncts into the scans."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 40))
        | ((F.col("p_brand") == "Brand#15") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 50))
    )
    return j.where(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


ORACLE_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


@query("tpch_q6_forecast_revenue", ORACLE_Q6)
def tpch_q6(spark, sf_dir):
    """TPC-H Q6: the pushdown torture test — every predicate (date range,
    discount band, quantity) reaches the parquet scan; the whole query is
    scan→filter→partial agg→single-row final agg, zero shuffles of data."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


ORACLE_Q7 = """
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate)::INT AS l_year, l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@query("tpch_q7_volume_shipping", ORACLE_Q7)
def tpch_q7(spark, sf_dir):
    """TPC-H Q7: two roles of the same dimension (nation as supplier
    nation AND customer nation) with a disjunctive cross-role predicate —
    both nation copies broadcast; the disjunction is applied after the
    broadcast joins, so the big fact join keys stay simple equi-joins."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
    )


ORACLE_Q8 = """
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) / sum(volume), 6) AS mkt_share
FROM (
  SELECT year(o_orderdate)::INT AS o_year, l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
) all_nations
GROUP BY o_year
"""


@query("tpch_q8_market_share", ORACLE_Q8)
def tpch_q8(spark, sf_dir):
    """TPC-H Q8: eight-table join + conditional-aggregate ratio (market
    share of one nation inside a region's volume). All dimensions
    broadcast; the only shuffles are the two fact-fact joins and the
    final tiny groupBy(year)."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "nation")
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
    )


ORACLE_Q9 = """
SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
FROM (
  SELECT n_name AS nation, year(o_orderdate)::INT AS o_year,
         l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
"""


@query("tpch_q9_product_profit", ORACLE_Q9)
def tpch_q9(spark, sf_dir):
    """TPC-H Q9 shape (supply cost proxied as 60% of retail price — the
    testdata has no partsupp table): LIKE-filtered part broadcast into
    lineitem, profit rollup by (supplier nation, order year)."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        j.select(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"), amount.alias("amount"))
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
    )


ORACLE_Q10 = """
SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(c_acctbal, 2) AS c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("tpch_q10_returned_items", ORACLE_Q10)
def tpch_q10(spark, sf_dir):
    """TPC-H Q10: revenue lost to returns, top-20 customers — selective
    quarter + returnflag filters pushed to both fact scans before the
    join; deterministic order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "c_custkey", "c_name", "revenue", F.round("c_acctbal", 2).alias("c_acctbal"), "n_name"
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


ORACLE_Q11 = """
WITH val AS (
  SELECT l_partkey AS partkey, sum(l_extendedprice * l_quantity) AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_5'
  GROUP BY l_partkey
)
SELECT partkey, round(value, 2) AS value
FROM val
WHERE value > (SELECT sum(value) * 0.001 FROM val)
"""


@query("tpch_q11_important_stock", ORACLE_Q11)
def tpch_q11(spark, sf_dir):
    """TPC-H Q11 shape (part value proxied from lineitems — no partsupp
    table): HAVING against a global scalar — the per-part aggregate is
    computed once, lazily checkpointed, and its grand total broadcast
    back as a cross-join scalar, so the base aggregation runs one time,
    not once per side of the comparison."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_5")
    val = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value"))
        .localCheckpoint(eager=False)
    )
    total = val.agg((F.sum("value") * 0.001).alias("cutoff"))
    return (
        val.crossJoin(F.broadcast(total))
        .where(F.col("value") > F.col("cutoff"))
        .select("partkey", F.round("value", 2).alias("value"))
    )


ORACLE_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@query("tpch_q15_top_supplier", ORACLE_Q15)
def tpch_q15(spark, sf_dir):
    """TPC-H Q15: max-of-aggregate — the quarterly revenue view is
    computed once (lazy checkpoint), its max broadcast back as a scalar
    filter; supplier joins only the surviving row(s)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
        .localCheckpoint(eager=False)
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.round("total_revenue", 2).alias("total_revenue"))
    )


ORACLE_Q16 = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#3' AND p_type <> 'MEDIUM' AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@query("tpch_q16_supplier_counts", ORACLE_Q16)
def tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape (part-supplier relation derived from lineitem):
    NOT-IN as a broadcast anti-join on the excluded-supplier set, then
    exact distinct-count of suppliers per part attribute triple."""
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    li = load_table(spark, sf_dir, "lineitem")
    bad = load_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


ORACLE_Q18 = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate::DATE AS o_orderdate,
       round(o_totalprice, 2) AS o_totalprice, round(sum(l_quantity), 2) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
"""


@query("tpch_q18_large_volume_customer", ORACLE_Q18)
def tpch_q18(spark, sf_dir):
    """TPC-H Q18: IN over a grouped-HAVING subquery — implemented as a
    semi-join of orders against the high-volume order keys; the qualifying
    key set is tiny, so it broadcasts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big.withColumnRenamed("l_orderkey", "bk")), li.l_orderkey == F.col("bk"), "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


ORACLE_Q20 = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(l_quantity) > 40
)
AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_4')
"""


@query("tpch_q20_part_promotion", ORACLE_Q20)
def tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape: nested semi-joins — suppliers who moved > 40
    units of any 'small%' part in 1997, restricted to one nation. Both IN
    subqueries become broadcast semi-joins."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_4")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    movers = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 40)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(movers), s.s_suppkey == movers.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


ORACLE_Q21 = """
WITH sup AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey
)
SELECT s_name, count(*) AS numwait
FROM sup s1 JOIN supplier ON s1.l_suppkey = s_suppkey
WHERE s1.late = 1
  AND EXISTS (SELECT 1 FROM sup s2
              WHERE s2.l_orderkey = s1.l_orderkey AND s2.l_suppkey <> s1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM sup s3
                  WHERE s3.l_orderkey = s1.l_orderkey AND s3.l_suppkey <> s1.l_suppkey
                    AND s3.late = 1)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


@query("tpch_q21_waiting_suppliers", ORACLE_Q21)
def tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape ('late' = shipped > 60 days after order date — the
    testdata has no commit/receipt dates): the correlated EXISTS /
    NOT-EXISTS pair collapses into window tallies over the order (supplier
    count + late count), so the whole pattern is one aggregate plus one
    window pass — no self-joins of the fact table at all. The joined
    frame is explicitly partitioned by l_orderkey alone: hash(l_orderkey)
    satisfies the (l_orderkey, l_suppkey) grouping's clustered
    distribution AND the window's partitionBy, so one exchange serves
    both (the default plan shuffles twice)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    sup = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
                ).otherwise(0)
            ).alias("late")
        )
    )
    w = W.partitionBy("l_orderkey")
    flagged = sup.select(
        "l_orderkey",
        "l_suppkey",
        "late",
        F.count(F.lit(1)).over(w).alias("n_sups"),
        F.sum("late").over(w).alias("n_late"),
    )
    waiting = flagged.where(
        (F.col("late") == 1) & (F.col("n_sups") > 1) & (F.col("n_late") == 1)
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


ORACLE_Q2 = """
WITH ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         min(l_extendedprice / l_quantity) AS ps_supplycost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eligible AS (
  SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost
  FROM ps
  JOIN part ON p_partkey = ps_partkey
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
)
SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey,
       round(ps_supplycost, 6) AS ps_supplycost
FROM eligible e1
WHERE ps_supplycost = (SELECT min(ps_supplycost) FROM eligible e2
                       WHERE e2.p_partkey = e1.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 20
"""


@query("tpch_q2_min_cost_supplier", ORACLE_Q2)
def tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape (supply cost derived as each (part, supplier)'s
    best observed unit price — no partsupp table): the correlated
    min-subquery is a window min over the part. Explicitly partitioning
    by l_partkey alone lets one exchange serve both the
    (l_partkey, l_suppkey) grouping (hash on a key subset satisfies the
    clustered distribution) and — via alias-aware output partitioning
    through the dimension broadcasts — the window's
    partitionBy(p_partkey)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    ps = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost"))
    )
    eligible = (
        ps.join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "s_acctbal", "s_name", "n_name", F.col("l_partkey").alias("p_partkey"), "ps_supplycost"
        )
    )
    wmin = F.min("ps_supplycost").over(W.partitionBy("p_partkey"))
    return (
        eligible.withColumn("min_cost", wmin)
        .where(F.col("ps_supplycost") == F.col("min_cost"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            F.round("ps_supplycost", 6).alias("ps_supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


ORACLE_TOPK_ORDERS = """
SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rank::INT AS rank FROM (
  SELECT c_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM customer JOIN orders ON c_custkey = o_custkey
) t WHERE rank <= 3
"""


@query("top_orders_per_customer", ORACLE_TOPK_ORDERS)
def top_orders_per_customer(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "c_custkey", "o_orderkey", "o_totalprice"
    )
    return relational.top_k_per_group(
        joined, ["c_custkey"], "o_totalprice", k=3, tiebreak_cols=["o_orderkey"]
    ).withColumn("o_totalprice", F.round("o_totalprice", 2))


ORACLE_TRAILING_REVENUE = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d, sum(o_totalprice) AS rev
  FROM orders GROUP BY 1
)
SELECT d::DATE AS d, round(rev, 2) AS revenue,
       round(sum(rev) OVER (ORDER BY d RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                            AND CURRENT ROW), 2) AS trailing_7d
FROM daily
"""


@query("trailing_window_revenue", ORACLE_TRAILING_REVENUE)
def trailing_window_revenue(spark, sf_dir):
    """Trailing 7-day revenue per day via a RANGE window frame (value
    range over epoch-days, not row offsets — correct under gaps in the
    date dimension). Two shuffles total: the daily rollup and the single
    orderBy window over the tiny aggregate."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .withColumn("epoch_day", F.unix_timestamp("d") / 86400)
    )
    w = W.orderBy("epoch_day").rangeBetween(-6, 0)
    return daily.select(
        F.col("d").cast("date").alias("d"),
        F.round("rev", 2).alias("revenue"),
        F.round(F.sum("rev").over(w), 2).alias("trailing_7d"),
    )


ORACLE_CUSTOMER_DECILES = """
WITH rev AS (
  SELECT c_custkey, sum(o_totalprice) AS revenue
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_custkey, round(revenue, 2) AS revenue,
       ntile(10) OVER (ORDER BY revenue DESC, c_custkey)::INT AS decile
FROM rev
"""


@query("customer_revenue_deciles", ORACLE_CUSTOMER_DECILES)
def customer_revenue_deciles(spark, sf_dir):
    """Exact ntile(10) over customer lifetime revenue WITHOUT the
    single-partition global sort `ntile().over(orderBy(...))` implies:
    range-repartitioned local ranks + broadcast partition offsets
    (`relational.distributed_ntile`). Ties broken by key so the decile
    split is deterministic — and exact-match vs. the SQL ntile oracle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    out = relational.distributed_ntile(
        rev, [F.col("revenue").desc(), "c_custkey"], 10, bucket_col="decile"
    )
    return out.select(
        "c_custkey", F.round("revenue", 2).alias("revenue"), "decile"
    )


ORACLE_SET_OPS = """
SELECT c_custkey FROM (
  SELECT o_custkey AS c_custkey FROM orders GROUP BY o_custkey HAVING sum(o_totalprice) > 300000
  INTERSECT
  SELECT c_custkey FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
) t
UNION
SELECT c_custkey FROM customer WHERE c_acctbal < 0
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey HAVING count(*) > 8
"""


@query("set_ops_customers", ORACLE_SET_OPS)
def set_ops_customers(spark, sf_dir):
    """UNION / INTERSECT / EXCEPT over customer cohorts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big_spenders = (
        o.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("t"))
        .where(F.col("t") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    segments = c.where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY")).select("c_custkey")
    negative = c.where(F.col("c_acctbal") < 0).select("c_custkey")
    many_finished = (
        o.where(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 8)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return big_spenders.intersect(segments).union(negative).distinct().exceptAll(many_finished.distinct())


ORACLE_ROLLUP = """
SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


@query("rollup_orders", ORACLE_ROLLUP)
def rollup_orders(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


ORACLE_CUBE = """
SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


@query("cube_orders", ORACLE_CUBE)
def cube_orders(spark, sf_dir):
    """CUBE: all 2^k grouping combinations in one pass — Spark expands
    the grouping sets before the hash aggregate, so it's still a single
    shuffle (rows replicated per grouping set, partial-agg'd map-side)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


ORACLE_GROUPING_SETS = """
SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""


@query("grouping_sets_orders", ORACLE_GROUPING_SETS)
def grouping_sets_orders(spark, sf_dir):
    """Explicit GROUPING SETS (per-priority, per-status, grand total)
    without the full cube — fewer replicated rows than cube when only
    specific marginals are needed."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderpriority"], ["o_orderstatus"], []],
        "o_orderpriority",
        "o_orderstatus",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


ORACLE_ASOF = """
WITH purchases AS (
  SELECT event_id, user_id, ts::TIMESTAMP AS ts, value FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT min(event_id) AS click_event_id, user_id, ts::TIMESTAMP AS ts
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.click_event_id
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND c.ts <= p.ts
"""


@query("asof_join_purchase_click", ORACLE_ASOF)
def asof_join_purchase_click(spark, sf_dir):
    """Backward as-of join: latest click at or before each purchase, per
    user — union+window implementation, one shuffle on user_id."""
    ev = _events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("click_event_id"))
    )
    out = relational.asof_join(
        purchases, clicks, on=["user_id"], value_cols=["click_event_id"], suffix=""
    )
    return out.select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts"), "click_event_id"
    )


ORACLE_RANGE_JOIN = """
WITH last_ship AS (
  SELECT l_orderkey, max(l_shipdate::DATE) AS ship_hi FROM lineitem GROUP BY 1
),
win AS (
  SELECT o_orderpriority, o_orderdate::DATE AS lo,
         least(ship_hi, o_orderdate::DATE + 45) AS hi
  FROM orders JOIN last_ship ON o_orderkey = l_orderkey
  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'
    AND ship_hi >= o_orderdate::DATE
)
SELECT w.o_orderpriority,
       count(*) AS n_pairs,
       min(p.o_orderdate::DATE) AS first_day,
       max(p.o_orderdate::DATE) AS last_day
FROM orders p JOIN win w ON p.o_orderdate::DATE BETWEEN w.lo AND w.hi
GROUP BY 1
"""


@query("range_join_transit_orders", ORACLE_RANGE_JOIN)
def range_join_transit_orders(spark, sf_dir):
    """Point-in-interval join at fact×fact scale: count orders placed
    during the first 45 days of each 1995-H1 order's fulfillment window
    ([o_orderdate, min(max l_shipdate, o_orderdate+45)]; the clip keeps
    interval width bounded — this fixture's ship dates are synthetic and
    independent of order dates, so unclipped windows span years). A
    naive ``BETWEEN`` theta-join is a BroadcastNestedLoopJoin —
    O(orders × windows), unrunnable at 100 TB; ``range_join`` bins the
    date line (bin ≈ the 45-day window) into one shuffled equi-join
    whose interval side grows ≤2× from the bin explode
    (tests/test_plans.py asserts the no-BNLJ shape)."""
    last_ship = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("ship_hi"))
    )
    o = load_table(spark, sf_dir, "orders")
    win = (
        o.where(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
        )
        .join(last_ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .withColumn("lo_d", F.col("o_orderdate").cast("date"))
        .where(F.col("ship_hi") >= F.col("lo_d"))
        .select(
            "o_orderpriority",
            F.unix_date("lo_d").alias("lo"),
            F.unix_date(F.least(F.col("ship_hi"), F.date_add("lo_d", 45))).alias(
                "hi"
            ),
        )
    )
    # Pre-aggregate the point side to one row per distinct order DATE
    # before the bin join: the aggregates only depend on the date (count
    # is weighted by n_orders; min/max are date functions), so joining
    # |days| rows instead of |orders| rows shrinks the join input by
    # orders/|days| (~100× at sf0.1, more at scale) with identical
    # results — this was the one measured perf-weak query in round 2
    # (4.80 s, 6.4× sf scaling ratio; everything else ≤ 1.9×).
    pts = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("od_date"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn("od", F.unix_date("od_date"))
    )
    joined = relational.range_join(pts, win, "od", "lo", "hi", bin_width=46.0)
    # partial-agg-only result: sum/min/max combine map-side, so the
    # join rows never shuffle (a countDistinct here would expand
    # and exchange them all — 2× the wall time for one extra stat)
    return joined.groupBy("o_orderpriority").agg(
        F.sum("n_orders").alias("n_pairs"),
        F.min("od_date").alias("first_day"),
        F.max("od_date").alias("last_day"),
    )


ORACLE_SESSIONIZE = """
WITH ordered AS (
  SELECT user_id, event_id, ts::TIMESTAMP AS ts,
         CASE WHEN epoch(ts::TIMESTAMP) - epoch(lag(ts::TIMESTAMP) OVER w) > 3600
                   OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM ordered
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sessions GROUP BY user_id, session_id
"""


@query("sessionize_events", ORACLE_SESSIONIZE)
def sessionize_events(spark, sf_dir):
    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts")
    sess = relational.sessionize(
        ev, ["user_id"], "ts", gap_seconds=3600, tiebreak_cols=["event_id"]
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


ORACLE_JSON = """
SELECT event_type, round(avg(json_extract_string(props, '$.k')::DOUBLE), 6) AS avg_k,
       count(CASE WHEN props IS NOT NULL THEN 1 END) AS n_with_props
FROM events GROUP BY event_type
"""


@query("events_json_props", ORACLE_JSON)
def events_json_props(spark, sf_dir):
    """Semi-structured JSON extraction (pushdown-friendly scalar exprs)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.avg(F.get_json_object("props", "$.k").cast("double")), 6).alias("avg_k"),
        F.count("props").alias("n_with_props"),
    )


# ---------------------------------------------------------------------------
# Dedup / text / similarity / multimodal (net-new scale operators)
# ---------------------------------------------------------------------------


def _hex2int_sql(hex_expr: str, start: int, length: int) -> str:
    """Portable hex→int SQL (DuckDB lacks a hex-parse cast): positional
    digit sum over '0123456789abcdef'."""
    terms = [
        f"(strpos('0123456789abcdef', substr({hex_expr}, {start + p}, 1)) - 1) * {16 ** (length - 1 - p)}"
        for p in range(length)
    ]
    return "(" + " + ".join(terms) + ")"


_DOC_TOKENS = (
    "SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,"
    " string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents"
)

_DOC_SHINGLES = f"""
d AS ({_DOC_TOKENS}),
g AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM d WHERE len(toks) >= 3
)"""


def _scratch_dir(prefix: str) -> str:
    """mkdtemp + atexit rmtree: every scratch dir a query materializes
    (metric stores, stream staging) is reclaimed at interpreter exit, so
    repeated bench/correctness runs don't accumulate disk."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


_BUCKETED_RUN_DIRS: dict[str, str] = {}


def _bucketed_run_dir(sf_dir: str) -> str:
    """Per-process scratch dir for bucketed-table copies, keyed by
    sf_dir and removed at interpreter exit (ADVICE r4: mkdtemp per
    invocation leaked a full orders+lineitem copy every run)."""
    import atexit
    import shutil
    import tempfile

    d = _BUCKETED_RUN_DIRS.get(sf_dir)
    if d is None:
        d = tempfile.mkdtemp(prefix="thoth_bkt_")
        _BUCKETED_RUN_DIRS[sf_dir] = d
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


ORACLE_BUCKETED_JOIN = """
SELECT o_orderpriority,
       count(DISTINCT o_orderkey) AS n_orders,
       round(sum(l_extendedprice), 2) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
"""


@query("bucketed_join_orders_lineitem", ORACLE_BUCKETED_JOIN)
def bucketed_join_orders_lineitem(spark, sf_dir):
    """Co-located fact-to-fact join via bucketed storage: orders and
    lineitem are written bucketed by orderkey (the shuffle paid ONCE at
    write time), then the join matches HashPartitioning on both sides
    and plans with ZERO exchanges below the join (plan-locked in
    tests/test_plans.py) — the parquet-native stand-in for warehouse
    distribution keys, and at 100 TB the difference between re-shuffling
    two fact tables on every query and never shuffling them again.
    Results are byte-identical to the plain join (the oracle)."""
    from thoth_spark.operators import storage

    n_buckets = 8
    # one external location per (process, sf_dir), removed at interpreter
    # exit: a fresh mkdtemp per invocation accumulated bucketed copies of
    # both fact tables across repeated bench/correctness runs.
    run_dir = _bucketed_run_dir(sf_dir)
    storage.write_bucketed(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ),
        "thoth_bkt_orders",
        ["o_orderkey"],
        n_buckets,
        sort_cols=["o_orderkey"],
        path=f"{run_dir}/orders",
    )
    storage.write_bucketed(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        ),
        "thoth_bkt_lineitem",
        ["l_orderkey"],
        n_buckets,
        sort_cols=["l_orderkey"],
        path=f"{run_dir}/lineitem",
    )
    o = storage.read_bucketed(spark, "thoth_bkt_orders")
    li = storage.read_bucketed(spark, "thoth_bkt_lineitem")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count_distinct("o_orderkey").alias("n_orders"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


ORACLE_DEDUP_EXACT_EVENTS = """
SELECT min(event_id) AS event_id
FROM (SELECT *, date_trunc('day', ts) AS d FROM events) e
GROUP BY user_id, event_type, d
"""


@query("dedup_exact_events", ORACLE_DEDUP_EXACT_EVENTS)
def dedup_exact_events(spark, sf_dir):
    """Exact dedup with deterministic survivors: first event per
    (user, type, day)."""
    ev = _events(spark, sf_dir).withColumn("d", F.date_trunc("day", "ts"))
    return dedup.exact_dedup(ev, ["user_id", "event_type", "d"], "event_id").select("event_id")


ORACLE_DEDUP_EXACT_DOCS = f"""
WITH d AS ({_DOC_TOKENS})
SELECT min(doc_id) AS doc_id FROM d GROUP BY md5(norm)
"""


@query("dedup_exact_documents", ORACLE_DEDUP_EXACT_DOCS)
def dedup_exact_documents(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_text_dedup(docs, "text", "doc_id").select("doc_id")


ORACLE_NGRAM_JACCARD = f"""
WITH {_DOC_SHINGLES},
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM g),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(sh) AS s FROM g)
SELECT id_a, id_b, round(inter::DOUBLE / (sa.s + sb.s - inter), 6) AS jaccard
FROM pairs JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE inter::DOUBLE / (sa.s + sb.s - inter) >= 0.8
"""


@query("dedup_ngram_jaccard_documents", ORACLE_NGRAM_JACCARD)
def dedup_ngram_jaccard_documents(spark, sf_dir):
    """Exact near-dup pairs (3-gram Jaccard ≥ 0.8) via inverted-index
    join — only co-shingled docs ever meet. ``max_shingle_df=None``
    pins exact (uncapped) semantics to match the oracle; production use
    keeps the operator's finite default."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=None
    )


# Capped variant: the operator's scale-safe default (finite
# max_shingle_df) with an oracle that models the cap — shingles whose
# document frequency exceeds the cap are dropped BEFORE pairing and
# intersection counting (set sizes are unaffected: the cap only prunes
# the inverted index, not the per-document shingle sets).
_NGRAM_CAP = 5

ORACLE_NGRAM_JACCARD_CAPPED = f"""
WITH {_DOC_SHINGLES},
inv0 AS (SELECT doc_id, unnest(sh) AS shingle FROM g),
keep AS (
  SELECT shingle FROM inv0 GROUP BY shingle HAVING count(*) <= {_NGRAM_CAP}
),
inv AS (SELECT doc_id, shingle FROM inv0 JOIN keep USING (shingle)),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(sh) AS s FROM g)
SELECT id_a, id_b, round(inter::DOUBLE / (sa.s + sb.s - inter), 6) AS jaccard
FROM pairs JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE inter::DOUBLE / (sa.s + sb.s - inter) >= 0.8
"""


@query("dedup_ngram_jaccard_capped", ORACLE_NGRAM_JACCARD_CAPPED)
def dedup_ngram_jaccard_capped(spark, sf_dir):
    """Near-dup pairs under a finite shingle document-frequency cap —
    the 100 TB-safe configuration (a stop-shingle in k docs otherwise
    yields k² candidate pairs). Cap chosen low enough to actually prune
    at test scale, proving the capped path against a cap-aware oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=_NGRAM_CAP
    )


# Carter-Wegman minhash replay: same seeded (a, b) coefficients as
# dedup.minhash_signatures, inlined as SQL literals (the LSH-planes
# pattern); base hash = first 8 md5 hex chars parsed positionally.
_MINHASH_X = _hex2int_sql("md5(s)", 1, 8)
_MINHASH_SIG_SQL = (
    "sig AS (\n  SELECT doc_id, ["
    + ", ".join(
        f"list_min(list_transform(sh, s -> ({a} * {_MINHASH_X} + {b}) % {dedup.MINHASH_PRIME}))"
        for a, b in dedup.minhash_coeffs(32)
    )
    + "] AS sg, sh\n  FROM g\n)"
)

ORACLE_MINHASH = f"""
WITH {_DOC_SHINGLES},
{_MINHASH_SIG_SQL},
banded AS (
  SELECT doc_id, b,
         md5(list_aggregate(list_transform(sg[b * 4 + 1 : b * 4 + 4],
             v -> v::VARCHAR), 'string_agg', '|')) AS bh
  FROM sig CROSS JOIN generate_series(0, 7) t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (b, bh) WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE /
      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8
"""


@query("dedup_minhash_documents", ORACLE_MINHASH)
def dedup_minhash_documents(spark, sf_dir):
    """MinHash-LSH near-dup pairs: 32-hash signatures, 8 bands × 4 rows,
    candidates verified with exact Jaccard ≥ 0.8."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_sets(docs, "doc_id", "text", n=3).cache()
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=32, n=3, shingles=sh)
    cands = dedup.minhash_lsh_pairs(sigs, bands=8, rows_per_band=4)
    verified = (
        cands.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(dedup.jaccard_sets("sh_a", "sh_b"), 6),
        )
        .where(F.col("jaccard") >= 0.8)
    )
    return verified.select("id_a", "id_b", "jaccard")


_INCR_SPLIT = 400  # docs >= this id form the "new batch" of the incremental run

ORACLE_MINHASH_INCREMENTAL = f"""
WITH {_DOC_SHINGLES},
{_MINHASH_SIG_SQL},
banded AS (
  SELECT doc_id, b,
         md5(list_aggregate(list_transform(sg[b * 4 + 1 : b * 4 + 4],
             v -> v::VARCHAR), 'string_agg', '|')) AS bh
  FROM sig CROSS JOIN generate_series(0, 7) t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (b, bh)
  WHERE a.doc_id < b.doc_id
    AND (a.doc_id >= {_INCR_SPLIT} OR b.doc_id >= {_INCR_SPLIT})
)
SELECT id_a, id_b,
       round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE /
      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8
"""


@query("dedup_minhash_incremental", ORACLE_MINHASH_INCREMENTAL)
def dedup_minhash_incremental(spark, sf_dir):
    """Incremental corpus dedup (round 5): the first 400 documents stand
    for an already-indexed corpus (their LSH band index is persistable,
    `dedup.minhash_bands`); the last 100 are the NEW batch. Only the new
    batch's shingles/signatures/bands are computed and joined against
    the index — the indexed corpus is never re-banded, so adding 1 TB to
    100 TB costs ∝ batch size, not corpus size. Pairs touching the new
    batch (new×indexed and new×new) are verified with exact Jaccard;
    the oracle replays the full-corpus banding restricted to the same
    pair set (the two are provably equal — indexed×indexed pairs were
    found when the index was built, and the union equivalence is also
    asserted in tests/test_operators.py)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_sets(docs, "doc_id", "text", n=3).cache()
    sh_old = sh.where(F.col("id") < _INCR_SPLIT)
    sh_new = sh.where(F.col("id") >= _INCR_SPLIT)
    index_bands = dedup.minhash_bands(
        dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=32, shingles=sh_old)
    )
    new_bands = dedup.minhash_bands(
        dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=32, shingles=sh_new)
    )
    cands = dedup.minhash_lsh_pairs_incremental(new_bands, index_bands)
    verified = (
        cands.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(dedup.jaccard_sets("sh_a", "sh_b"), 6),
        )
        .where(F.col("jaccard") >= 0.8)
    )
    return verified.select("id_a", "id_b", "jaccard")


# Capped-minhash replay: the df-capped shingle sets rebuild CTE ``g``
# (over-cap shingles removed corpus-wide), then the standard signature /
# band / verify pipeline runs unchanged on the reduced sets. Cap = 4
# binds on this corpus (max shingle df is 7-9 at the test SFs).
_MINHASH_CAP_DF = 4
_CAPPED_SHINGLES = f"""
{_DOC_SHINGLES.rstrip()},
inv AS (SELECT doc_id, unnest(sh) AS s FROM g),
hot AS (SELECT s FROM inv GROUP BY s HAVING count(*) > {_MINHASH_CAP_DF}),
gc AS (
  SELECT doc_id, list(s) AS sh FROM inv
  WHERE s NOT IN (SELECT s FROM hot) GROUP BY doc_id
)"""

ORACLE_MINHASH_CAPPED = f"""
WITH {_CAPPED_SHINGLES},
{_MINHASH_SIG_SQL.replace("FROM g", "FROM gc")},
banded AS (
  SELECT doc_id, b,
         md5(list_aggregate(list_transform(sg[b * 4 + 1 : b * 4 + 4],
             v -> v::VARCHAR), 'string_agg', '|')) AS bh
  FROM sig CROSS JOIN generate_series(0, 7) t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (b, bh) WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE /
      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8
"""


@query("dedup_minhash_capped_documents", ORACLE_MINHASH_CAPPED)
def dedup_minhash_capped_documents(spark, sf_dir):
    """MinHash-LSH with the stop-shingle document-frequency cap (round-4
    addition, ``minhash_signatures(max_shingle_df=...)``): corpus-wide
    boilerplate shingles are dropped BEFORE signature computation via a
    drop-list join, so candidate count tracks true-duplicate density
    instead of boilerplate overlap (measured 807k→50 candidate pairs on
    the adversarial corpus in tests/test_skew.py). Signatures, banding,
    and exact-Jaccard verification all run on the capped sets and the
    oracle replays the identical pipeline in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    # checkpoint the SETS before exploding (r8 fix): explode inlined over
    # the n-gram expression chain re-evaluates it per document against
    # the raw text (measured 3.8 s vs 0.5 s at sf0.1), and the
    # checkpoint also keeps the cap's drop-list aggregate and probe side
    # from re-running the tokenize subtree
    sh = dedup.shingle_sets(docs, "doc_id", "text", n=3).localCheckpoint(eager=False)
    inv = sh.select("id", F.explode("sh").alias("s"))
    inv_capped = dedup.cap_shingle_df(inv, _MINHASH_CAP_DF, key="s")
    # ONE groupBy(id) produces the 32 hash minima AND the capped sets
    # (include_sets) — previously sets and signatures were two separate
    # corpus-wide shuffles on the same key (r5 shape)
    sigs = dedup.minhash_signatures(
        docs, "doc_id", "text", num_hashes=32, n=3,
        inverted=inv_capped, include_sets=True,
    ).localCheckpoint(eager=False)
    sh_capped = sigs.select("id", "sh")
    cands = dedup.minhash_lsh_pairs(sigs.select("id", "sig"), bands=8, rows_per_band=4)
    verified = (
        cands.join(
            sh_capped.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"),
            "id_a",
        )
        .join(
            sh_capped.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(dedup.jaccard_sets("sh_a", "sh_b"), 6),
        )
        .where(F.col("jaccard") >= 0.8)
    )
    return verified.select("id_a", "id_b", "jaccard")


_H_HI = _hex2int_sql("m", 1, 8)
_H_LO = _hex2int_sql("m", 9, 8)

_SIMHASH_CTES = f"""d AS ({_DOC_TOKENS}),
toks AS (SELECT doc_id, unnest(toks) AS tok FROM d),
h AS (SELECT doc_id, md5(tok) AS m FROM toks),
hh AS (SELECT doc_id, {_H_HI} AS h_hi, {_H_LO} AS h_lo FROM h),
bits AS (
  SELECT doc_id, i,
         sum(CASE WHEN (h_hi >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s_hi,
         sum(CASE WHEN (h_lo >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s_lo
  FROM hh CROSS JOIN generate_series(0, 31) g(i) GROUP BY 1, 2
),
fp AS (
  SELECT doc_id AS id,
         sum(CASE WHEN s_hi > 0 THEN power(2, i)::BIGINT ELSE 0 END)::BIGINT AS sim_hi,
         sum(CASE WHEN s_lo > 0 THEN power(2, i)::BIGINT ELSE 0 END)::BIGINT AS sim_lo
  FROM bits GROUP BY doc_id
)"""

ORACLE_SIMHASH = f"""
WITH {_SIMHASH_CTES}
SELECT id, sim_hi, sim_lo FROM fp
"""


@query("dedup_simhash_documents", ORACLE_SIMHASH)
def dedup_simhash_documents(spark, sf_dir):
    """64-bit SimHash fingerprints (as two 32-bit halves) per document."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, "doc_id", "text")


ORACLE_MINHASH_COMPONENTS = f"""
WITH RECURSIVE {_DOC_SHINGLES},
{_MINHASH_SIG_SQL},
banded AS (
  SELECT doc_id, b, md5(list_aggregate(sg[b * 4 + 1 : b * 4 + 4], 'string_agg', '|')) AS bh
  FROM sig CROSS JOIN generate_series(0, 7) t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (b, bh) WHERE a.doc_id < b.doc_id
),
vpairs AS (
  SELECT id_a, id_b
  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
  WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE /
        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8
),
edges AS (SELECT id_a AS s, id_b AS t FROM vpairs UNION SELECT id_b, id_a FROM vpairs),
reach AS (
  SELECT s, t FROM edges
  UNION
  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
)
SELECT dd.doc_id, least(dd.doc_id, coalesce(min(r.t), dd.doc_id)) AS component
FROM documents dd LEFT JOIN reach r ON r.s = dd.doc_id
GROUP BY dd.doc_id
"""


@query("dedup_minhash_components", ORACLE_MINHASH_COMPONENTS)
def dedup_minhash_components(spark, sf_dir):
    """Duplicate-cluster assignment: verified near-dup pairs → iterative
    min-label propagation (one shuffle per round, lineage truncated per
    round) → every document labeled with its cluster's smallest id;
    singletons label themselves. Oracle: recursive-CTE transitive closure."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_sets(docs, "doc_id", "text", n=3).cache()
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=32, n=3, shingles=sh)
    cands = dedup.minhash_lsh_pairs(sigs, bands=8, rows_per_band=4)
    verified = (
        cands.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .where(
            dedup.jaccard_sets("sh_a", "sh_b") >= 0.8
        )
        .select("id_a", "id_b")
    )
    comps = dedup.connected_components(verified)
    return docs.select("doc_id").join(
        comps, docs.doc_id == comps.id, "left"
    ).select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )


# Same CTE chain as ORACLE_MINHASH_COMPONENTS through `reach`, then the
# per-cluster winner: highest ROUNDED quality, ties -> smallest id (the
# exact comparison key dedup.quality_survivors aggregates with max_by).
ORACLE_QUALITY_SURVIVORS = f"""
WITH RECURSIVE {_DOC_SHINGLES},
{_MINHASH_SIG_SQL},
banded AS (
  SELECT doc_id, b, md5(list_aggregate(sg[b * 4 + 1 : b * 4 + 4], 'string_agg', '|')) AS bh
  FROM sig CROSS JOIN generate_series(0, 7) t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (b, bh) WHERE a.doc_id < b.doc_id
),
vpairs AS (
  SELECT id_a, id_b
  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
  WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE /
        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8
),
edges AS (SELECT id_a AS s, id_b AS t FROM vpairs UNION SELECT id_b, id_a FROM vpairs),
reach AS (
  SELECT s, t FROM edges
  UNION
  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
),
comps AS (
  SELECT dd.doc_id, least(dd.doc_id, coalesce(min(r.t), dd.doc_id)) AS component
  FROM documents dd LEFT JOIN reach r ON r.s = dd.doc_id
  GROUP BY dd.doc_id
),
stats AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct_tokens,
         len(list_filter(toks, t -> list_contains(
             ['the','a','an','and','or','of','to','in','is','it'], t)))::DOUBLE
             / len(toks) AS stopword_ratio,
         (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
             / length(text) AS digit_ratio,
         (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
             / length(text) AS punct_ratio
  FROM d JOIN documents USING (doc_id)
),
q AS (
  SELECT doc_id,
         round(least(n_tokens / 64.0, 1.0) * 0.3
               + (n_distinct_tokens::DOUBLE / n_tokens) * 0.3
               + greatest(1.0 - abs(stopword_ratio - 0.08) * 2, 0.0) * 0.2
               + (1.0 - least((digit_ratio + punct_ratio) * 4, 1.0)) * 0.2,
               6) AS qs
  FROM stats
)
SELECT doc_id, component, qs AS quality_score FROM (
  SELECT c.doc_id, c.component, q.qs,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY q.qs DESC, c.doc_id) AS rn
  FROM comps c JOIN q USING (doc_id)
) t WHERE rn = 1
"""


@query("dedup_quality_survivors_documents", ORACLE_QUALITY_SURVIVORS)
def dedup_quality_survivors_documents(spark, sf_dir):
    """Quality-aware dedup survivor selection (r8): per MinHash duplicate
    cluster keep the HIGHEST-quality member (rounded quality, ties →
    smallest id) — the curation policy a production corpus wants (keep
    the cleanest near-copy, not the smallest crawl id). Winner chosen by
    a partial-aggregable max_by over (round(quality,6), -id), so a
    corpus-wide boilerplate cluster combines map-side instead of
    funneling one window task (dedup.quality_survivors)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_sets(docs, "doc_id", "text", n=3).cache()
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=32, n=3, shingles=sh)
    cands = dedup.minhash_lsh_pairs(sigs, bands=8, rows_per_band=4)
    verified = (
        cands.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .where(
            dedup.jaccard_sets("sh_a", "sh_b") >= 0.8
        )
        .select("id_a", "id_b")
    )
    scored = text.quality_score(docs, "text")
    # jump=False: 0.8-Jaccard MinHash clusters are shallow near-cliques
    # (plain propagation converges in 2-3 rounds), so the pointer-jump
    # join is pure overhead here — and the r12 convergence contract
    # RAISES if a deep chain ever violates that assumption, instead of
    # returning merged-wrong components
    out = dedup.quality_survivors(
        scored, verified, "doc_id", "quality_score", jump=False
    )
    return out.select(
        "doc_id", "component", F.round("quality_score", 6).alias("quality_score")
    )


ORACLE_SIMHASH_PAIRS = f"""
WITH {_SIMHASH_CTES},
chunks AS (
  SELECT id, sim_hi, sim_lo, ci, cv FROM fp CROSS JOIN LATERAL (VALUES
    (0, sim_hi % 65536), (1, sim_hi // 65536),
    (2, sim_lo % 65536), (3, sim_lo // 65536)) t(ci, cv)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         a.sim_hi AS hi_a, a.sim_lo AS lo_a, b.sim_hi AS hi_b, b.sim_lo AS lo_b
  FROM chunks a JOIN chunks b USING (ci, cv) WHERE a.id < b.id
)
SELECT id_a, id_b,
       (bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)))::INT AS hamming
FROM cand
WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3
"""


@query("dedup_simhash_pairs_documents", ORACLE_SIMHASH_PAIRS)
def dedup_simhash_pairs_documents(spark, sf_dir):
    """SimHash near-dup pairs within Hamming distance 3: Manku-style
    block-combination bucketing (6 blocks; any ≤3-distant pair agrees on
    some 3-block combination, a ~32-bit key) makes candidate generation
    an equi-join with O(n²/2³²) expected candidates — never all-pairs.
    The oracle keeps the simpler 4×16-bit-chunk candidate scheme: both
    have complete recall at d≤3 and exact bit_count verification, so the
    final pair sets are provably identical."""
    docs = load_table(spark, sf_dir, "documents")
    fps = dedup.simhash(docs, "doc_id", "text")
    return dedup.simhash_near_dup_pairs(fps, max_hamming=3)


ORACLE_TEXT_QUALITY = f"""
WITH d AS ({_DOC_TOKENS}),
stats AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct_tokens,
         len(list_filter(toks, t -> list_contains(
             ['the','a','an','and','or','of','to','in','is','it'], t)))::DOUBLE
             / len(toks) AS stopword_ratio,
         (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
             / length(text) AS digit_ratio,
         (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
             / length(text) AS punct_ratio
  FROM d JOIN documents USING (doc_id)
)
SELECT doc_id,
       round(least(n_tokens / 64.0, 1.0) * 0.3
             + (n_distinct_tokens::DOUBLE / n_tokens) * 0.3
             + greatest(1.0 - abs(stopword_ratio - 0.08) * 2, 0.0) * 0.2
             + (1.0 - least((digit_ratio + punct_ratio) * 4, 1.0)) * 0.2,
             6) AS quality_score
FROM stats
"""


@query("text_quality_documents", ORACLE_TEXT_QUALITY)
def text_quality_documents(spark, sf_dir):
    """Composite text-quality heuristic (length/diversity/stopword/noise
    terms) — the first-pass corpus filter, all JVM-side expressions."""
    docs = _documents(spark, sf_dir)
    return text.quality_score(docs, "text").select("doc_id", "quality_score")


ORACLE_WEEKLY = """
SELECT w::DATE AS ts, entity, instance, name, round(value, 6) AS value FROM (
  SELECT date_trunc('week', ts::TIMESTAMP) AS w, 'Dataset' AS entity, '*' AS instance,
         'Size' AS name, count(*)::DOUBLE AS value FROM events GROUP BY 1
  UNION ALL
  SELECT date_trunc('week', ts::TIMESTAMP), 'Column', 'value', 'Mean', avg(value)
  FROM events GROUP BY 1
) t
"""


@query("profile_events_weekly", ORACLE_WEEKLY)
def profile_events_weekly(spark, sf_dir):
    """WEEK granularity (reference implements only DAY; date_trunc
    generalizes the bucketing for free)."""
    from thoth_spark.profiler import Mean

    df = _events(spark, sf_dir).select("ts", "value")
    m = profile(df, "ts", ProfilingBuilder(analyzers=[Mean("value"), Size()]), Granularity.WEEK)
    return m.select(
        F.col("ts").cast("date").alias("ts"),
        "entity",
        "instance",
        "name",
        F.round("value", 6).alias("value"),
    )


ORACLE_MONTHLY = """
SELECT m::DATE AS ts, entity, instance, name, round(value, 6) AS value FROM (
  SELECT date_trunc('month', ts::TIMESTAMP) AS m, 'Dataset' AS entity, '*' AS instance,
         'Size' AS name, count(*)::DOUBLE AS value FROM events GROUP BY 1
  UNION ALL
  SELECT date_trunc('month', ts::TIMESTAMP), 'Column', 'value', 'Mean', avg(value)
  FROM events GROUP BY 1
) t
"""


@query("profile_events_monthly", ORACLE_MONTHLY)
def profile_events_monthly(spark, sf_dir):
    """MONTH granularity — completes the driver surface for all four
    granularities (DAY/HOUR/WEEK/MONTH; the reference implements only
    DAY, thoth/profiler.py:222-240)."""
    from thoth_spark.profiler import Mean

    df = _events(spark, sf_dir).select("ts", "value")
    m = profile(
        df, "ts", ProfilingBuilder(analyzers=[Mean("value"), Size()]), Granularity.MONTH
    )
    return m.select(
        F.col("ts").cast("date").alias("ts"),
        "entity",
        "instance",
        "name",
        F.round("value", 6).alias("value"),
    )


ORACLE_QUARTERLY = """
SELECT q::DATE AS ts, entity, instance, name, round(value, 6) AS value FROM (
  SELECT date_trunc('quarter', ts::TIMESTAMP) AS q, 'Dataset' AS entity,
         '*' AS instance, 'Size' AS name, count(*)::DOUBLE AS value
  FROM events GROUP BY 1
  UNION ALL
  SELECT date_trunc('quarter', ts::TIMESTAMP), 'Column', 'value', 'Mean',
         avg(value)
  FROM events GROUP BY 1
) t
"""


@query("profile_events_quarterly", ORACLE_QUARTERLY)
def profile_events_quarterly(spark, sf_dir):
    """QUARTER granularity (r12 verdict #3: profile() accepted only
    DAY/HOUR/WEEK/MONTH while sketch_profile also rolls up to
    quarter/year — a user rolling up to quarter hit the asymmetry;
    Granularity now carries the full date_trunc set)."""
    from thoth_spark.profiler import Mean

    df = _events(spark, sf_dir).select("ts", "value")
    m = profile(
        df,
        "ts",
        ProfilingBuilder(analyzers=[Mean("value"), Size()]),
        Granularity.QUARTER,
    )
    return m.select(
        F.col("ts").cast("date").alias("ts"),
        "entity",
        "instance",
        "name",
        F.round("value", 6).alias("value"),
    )


ORACLE_REPO_ROUNDTRIP = """
WITH bounds AS (
  SELECT date_trunc('day', min(ts::TIMESTAMP)) + INTERVAL 7 DAY AS lo,
         date_trunc('day', min(ts::TIMESTAMP)) + INTERVAL 21 DAY AS hi
  FROM events
),
e AS (SELECT date_trunc('day', ts::TIMESTAMP) AS d, * FROM events),
m AS (
  SELECT d, 'Dataset' AS entity, '*' AS instance, 'Size' AS name, count(*)::DOUBLE AS value
  FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'value', 'Mean', avg(value) FROM e GROUP BY d
)
SELECT 'events://demo' AS dataset_uri, d::DATE AS ts, 'DAY' AS granularity,
       entity, instance, name, round(value, 6) AS value
FROM m, bounds WHERE d >= bounds.lo AND d <= bounds.hi
"""


@query("repository_roundtrip_profiling", ORACLE_REPO_ROUNDTRIP)
def repository_roundtrip_profiling(spark, sf_dir):
    """Metrics-repository lifecycle: register dataset, upsert profiling
    twice (idempotent re-profiling), closed-interval range scan pruned by
    the dataset_uri partition column."""
    import datetime
    import tempfile

    from thoth_spark.profiler import Mean
    from thoth_spark.repository import MetricsRepository

    df = _events(spark, sf_dir).select("ts", "value")
    metrics = profile(df, "ts", ProfilingBuilder(analyzers=[Mean("value"), Size()]))
    repo = MetricsRepository(spark, _scratch_dir("thoth_repo_"))
    uri = "events://demo"
    repo.add_dataset(uri, ts_column="ts", columns=["value"], granularity="DAY")
    repo.add_profiling(uri, metrics)
    repo.add_profiling(uri, metrics)  # idempotent upsert by (uri, ts)
    day0 = df.agg(F.date_trunc("day", F.min("ts"))).collect()[0][0]
    lo, hi = day0 + datetime.timedelta(days=7), day0 + datetime.timedelta(days=21)
    out = repo.select_profiling(uri, start_ts=lo, end_ts=hi)
    return out.select(
        "dataset_uri",
        F.col("ts").cast("date").alias("ts"),
        "granularity",
        "entity",
        "instance",
        "name",
        F.round("value", 6).alias("value"),
    )


@query("repository_roundtrip_jdbc", ORACLE_REPO_ROUNDTRIP)
def repository_roundtrip_jdbc(spark, sf_dir):
    """Same repository lifecycle through the JDBC adapter (embedded
    Derby — Spark bundles the driver): the port/adapter split of the
    reference's SqlRepository (``thoth/repository.py:258-347``) proven by
    running the identical oracle against a second storage engine."""
    import datetime
    import tempfile

    from thoth_spark.profiler import Mean
    from thoth_spark.repository_jdbc import JdbcMetricsRepository

    df = _events(spark, sf_dir).select("ts", "value")
    metrics = profile(df, "ts", ProfilingBuilder(analyzers=[Mean("value"), Size()]))
    repo = JdbcMetricsRepository(spark, _scratch_dir("thoth_jdbc_") + "/db")
    uri = "events://demo"
    repo.add_dataset(uri, ts_column="ts", columns=["value"], granularity="DAY")
    repo.add_profiling(uri, metrics)
    repo.add_profiling(uri, metrics)  # idempotent upsert by (uri, ts)
    day0 = df.agg(F.date_trunc("day", F.min("ts"))).collect()[0][0]
    lo, hi = day0 + datetime.timedelta(days=7), day0 + datetime.timedelta(days=21)
    out = repo.select_profiling(uri, start_ts=lo, end_ts=hi)
    return out.select(
        "dataset_uri",
        F.col("ts").cast("date").alias("ts"),
        "granularity",
        "entity",
        "instance",
        "name",
        F.round("value", 6).alias("value"),
    )


ORACLE_TEXT_STATS = f"""
WITH d AS ({_DOC_TOKENS})
SELECT doc_id, len(toks)::INT AS n_tokens,
       len(list_distinct(toks))::INT AS n_distinct_tokens,
       round((length(norm) - (len(toks) - 1))::DOUBLE / len(toks), 6) AS avg_token_len,
       round(len(list_filter(toks, t -> list_contains(
             ['the','a','an','and','or','of','to','in','is','it'], t)))::DOUBLE / len(toks), 6)
             AS stopword_ratio,
       round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
             / length(text), 6) AS digit_ratio
FROM d JOIN documents USING (doc_id)
"""


@query("text_stats_documents", ORACLE_TEXT_STATS)
def text_stats_documents(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    stats = text.text_stats(docs, "text")
    return stats.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        F.round("avg_token_len", 6).alias("avg_token_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
    )


def _lang_score_sql(padded: str, markers: list[str]) -> str:
    terms = [
        f"(length({padded}) - length(replace({padded}, '{m}', ''))) / {len(m)}"
        for m in markers
    ]
    return "(" + " + ".join(terms) + ")"


_PADDED = "(' ' || lower(text) || ' ')"
_LANG_SCORES = ",\n  ".join(
    _lang_score_sql(_PADDED, ms) + f" AS score_{lang}"
    for lang, ms in sorted(text.LANG_MARKERS.items())
)

ORACLE_LANG_ID = f"""
WITH scored AS (
  SELECT doc_id,
  {_LANG_SCORES}
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rk,
         max(score) OVER (PARTITION BY doc_id) AS mx
  FROM scored
  UNPIVOT (score FOR lang IN (score_de AS 'de', score_en AS 'en', score_es AS 'es',
                              score_fr AS 'fr', score_zh AS 'zh'))
)
SELECT doc_id, CASE WHEN mx > 0 THEN lang ELSE 'und' END AS predicted_lang
FROM ranked WHERE rk = 1
"""


@query("lang_id_documents", ORACLE_LANG_ID)
def lang_id_documents(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    return docs.select(
        "doc_id", text.language_id(F.col("text")).alias("predicted_lang")
    )


ORACLE_FINGERPRINT = f"""
WITH d AS ({_DOC_TOKENS})
SELECT doc_id, md5(norm) AS fingerprint, len(toks)::INT AS n_tokens FROM d
"""


@query("fingerprint_documents", ORACLE_FINGERPRINT)
def fingerprint_documents(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        text.fingerprint(F.col("text")).alias("fingerprint"),
        F.size(text.tokens(F.col("text"))).alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling + corpus curation
# ---------------------------------------------------------------------------

_SAMPLE_BUCKET = _hex2int_sql("md5('42|' || doc_id::VARCHAR)", 1, 8) + " % 1000000"

ORACLE_SAMPLE_HASH = f"""
SELECT doc_id, source FROM documents
WHERE {_SAMPLE_BUCKET} < 100000
"""


@query("sample_documents_hash", ORACLE_SAMPLE_HASH)
def sample_documents_hash(spark, sf_dir):
    """Deterministic ~10% corpus sample — a pure map-side filter on a
    content-key hash, reproducible across reruns/cluster layouts (which
    ``df.sample`` is not)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.hash_sample(docs, "doc_id", 0.1).select("doc_id", "source")


_STRATA_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.2}

ORACLE_SAMPLE_STRATIFIED = f"""
SELECT doc_id, source FROM documents
WHERE {_SAMPLE_BUCKET} <
      CASE source WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000
                  WHEN 'src2' THEN 200000 ELSE 50000 END
"""


@query("sample_documents_stratified", ORACLE_SAMPLE_STRATIFIED)
def sample_documents_stratified(spark, sf_dir):
    """Per-source sampling rates (corpus rebalancing) in ONE scan — the
    cutoff is a CASE over the stratum, not a job per source."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_hash_sample(
        docs, "source", _STRATA_FRACTIONS, "doc_id", default_fraction=0.05
    ).select("doc_id", "source")


_BUDGET_N = 137

ORACLE_SAMPLE_BUDGET = f"""
WITH b AS (SELECT doc_id, source, {_SAMPLE_BUCKET} AS bkt FROM documents),
counts AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
alloc0 AS (
  SELECT source, cnt, cnt * {_BUDGET_N} / (SELECT sum(cnt) FROM counts) AS share
  FROM counts
),
alloc AS (
  SELECT source,
         least(floor(share)
               + CASE WHEN row_number() OVER (ORDER BY share - floor(share) DESC, source)
                      <= {_BUDGET_N} - (SELECT sum(floor(share)) FROM alloc0)
                 THEN 1 ELSE 0 END,
               cnt) AS quota
  FROM alloc0
),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY bkt, doc_id) AS rk
  FROM b
)
SELECT doc_id, source FROM ranked JOIN alloc USING (source) WHERE rk <= quota
"""


@query("sample_documents_budget", ORACLE_SAMPLE_BUDGET)
def sample_documents_budget(spark, sf_dir):
    """Exactly-N corpus budget, allocated proportionally across sources
    (largest-remainder), each source contributing its smallest-hash docs
    — a reproducible `limit(n)`."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.budget_sample(docs, "source", "doc_id", _BUDGET_N).select(
        "doc_id", "source"
    )


ORACLE_CURATE = f"""
WITH d AS ({_DOC_TOKENS}),
stats AS (
  SELECT doc_id, norm, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct_tokens,
         len(list_filter(toks, t -> list_contains(
             ['the','a','an','and','or','of','to','in','is','it'], t)))::DOUBLE
             / len(toks) AS stopword_ratio,
         (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
             / length(text) AS digit_ratio,
         (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
             / length(text) AS punct_ratio
  FROM d JOIN documents USING (doc_id)
),
quality AS (
  SELECT doc_id, norm,
         round(least(n_tokens / 64.0, 1.0) * 0.3
               + (n_distinct_tokens::DOUBLE / n_tokens) * 0.3
               + greatest(1.0 - abs(stopword_ratio - 0.08) * 2, 0.0) * 0.2
               + (1.0 - least((digit_ratio + punct_ratio) * 4, 1.0)) * 0.2,
               6) AS q
  FROM stats
),
lang_scored AS (
  SELECT doc_id,
  {_LANG_SCORES}
  FROM documents
),
lang AS (
  SELECT doc_id, CASE WHEN mx > 0 THEN lang ELSE 'und' END AS predicted_lang
  FROM (
    SELECT doc_id, lang, score,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rk,
           max(score) OVER (PARTITION BY doc_id) AS mx
    FROM lang_scored
    UNPIVOT (score FOR lang IN (score_de AS 'de', score_en AS 'en', score_es AS 'es',
                                score_fr AS 'fr', score_zh AS 'zh'))
  ) r WHERE rk = 1
),
kept AS (
  SELECT q.doc_id, q.norm FROM quality q JOIN lang l ON q.doc_id = l.doc_id
  WHERE q.q >= 0.5 AND l.predicted_lang = 'en'
),
deduped AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(norm))
SELECT doc_id FROM deduped
WHERE {_SAMPLE_BUCKET} < 500000
"""


@query("curate_documents_pipeline", ORACLE_CURATE)
def curate_documents_pipeline(spark, sf_dir):
    """End-to-end LLM-corpus curation: quality-score filter → language
    filter (en) → exact content dedup (deterministic survivor) →
    deterministic 50% sample. Composes four operator families into ONE
    Spark job graph: the scoring/filtering stages are map-side only, so
    the sole wide dependency is the dedup's fingerprint groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_score(docs, "text")
    kept = scored.where(
        (F.col("quality_score") >= 0.5)
        & (text.language_id(F.col("text")) == "en")
    )
    survivors = dedup.exact_text_dedup(kept, "text", "doc_id")
    return sampling.hash_sample(survivors, "doc_id", 0.5).select("doc_id")


ORACLE_TOPK_EMB = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v) /
         (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM e c CROSS JOIN q WHERE c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos_sim,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::INT AS rank
FROM scored QUALIFY rank <= 5
"""


@query("similarity_topk_brute", ORACLE_TOPK_EMB)
def similarity_topk_brute(spark, sf_dir):
    """Exact cosine top-5 for 10 query vectors (broadcast queries, corpus
    stays distributed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


@query("similarity_topk_quantized", ORACLE_TOPK_EMB)
def similarity_topk_quantized(spark, sf_dir):
    """Exact top-5 via the int8 bandwidth path: quantized corpus scan
    (4× fewer bytes than float32) ranks a 10× candidate pool, exact
    float cosine re-ranks only that pool — so the result still
    hash-matches the exact-SQL oracle while the full-corpus pass never
    touches a float vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.quantized_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


ORACLE_EMB_NEARDUP = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
"""


@query("embedding_neardup_exact", ORACLE_EMB_NEARDUP)
def embedding_neardup_exact(spark, sf_dir):
    """Exact cosine near-dup pairs (threshold tuned to this corpus's
    similarity ceiling) — the brute-force baseline for the LSH variant."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("vn", similarity.norm(F.col("v")))
    a, b = e.alias("a"), e.alias("b")
    # per-side norms hoisted below the n² self-join (bit-identical to
    # similarity.cosine — same sqrt, same multiply, 3× less array work)
    cos = similarity.dot(F.col("a.v"), F.col("b.v")) / (
        F.col("a.vn") * F.col("b.vn")
    )
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.4)
    )


ORACLE_MULTIMODAL = """
SELECT doc_id, md5(text) AS media_md5, octet_length(text::BLOB) AS media_bytes,
       (16 + """ + _hex2int_sql("md5(text)", 1, 2) + """)::INT AS width,
       (16 + """ + _hex2int_sql("md5(text)", 3, 2) + """)::INT AS height,
       (1 + """ + _hex2int_sql("md5(text)", 5, 1) + """ % 4)::INT AS n_channels,
       CASE """ + _hex2int_sql("md5(text)", 6, 1) + """ % 3
            WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
FROM documents
"""


@query("multimodal_decode_stub", ORACLE_MULTIMODAL)
def multimodal_decode_stub(spark, sf_dir):
    """Binary-column pipeline: attach bytes, Arrow-batch 'decode'
    (deterministic stub) via mapInPandas."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    decoded = multimodal.decode_stub(multimodal.attach_binary(docs, "text"))
    return decoded.select(
        "doc_id", "media_md5", "media_bytes", "width", "height", "n_channels", "format"
    )


# synth_ppm writes a constant-color P6 raster per doc_id with closed-form
# dimensions/colors (multimodal.py:264-290), so the REAL ppm decoder's
# output is exactly SQL-replayable: header is always 13 bytes (w,h are
# two-digit), channel means equal the constant channel values, and the
# grayscale mix is the same double arithmetic on both engines.
ORACLE_MM_PPM = """
SELECT doc_id,
       13 + (16 + doc_id % 16) * (16 + (3 * doc_id) % 16) * 3 AS media_bytes,
       (16 + doc_id % 16)::INT AS width,
       (16 + (3 * doc_id) % 16)::INT AS height,
       3::INT AS n_channels,
       'ppm' AS format,
       round((doc_id % 256)::DOUBLE, 6) AS mean_r,
       round(((3 * doc_id + 7) % 256)::DOUBLE, 6) AS mean_g,
       round(((5 * doc_id + 11) % 256)::DOUBLE, 6) AS mean_b,
       round(0.299 * (doc_id % 256) + 0.587 * ((3 * doc_id + 7) % 256)
             + 0.114 * ((5 * doc_id + 11) % 256), 6)::DOUBLE AS mean_gray
FROM documents
"""


@query("multimodal_decode_real", ORACLE_MM_PPM)
def multimodal_decode_real(spark, sf_dir):
    """REAL image decode end-to-end: synthesize a binary PPM (P6) per
    document in-pipeline, then parse the raster with the numpy ppm
    decoder through the standard mapInPandas Arrow plumbing — the same
    path a PIL/ffmpeg decoder plugs into, but with no codec-library
    dependency and a bit-exact closed-form oracle."""
    docs = _documents(spark, sf_dir).select("doc_id")
    decoded = multimodal.decode_ppm(multimodal.synth_ppm(docs))
    return decoded.select(
        "doc_id",
        "media_bytes",
        "width",
        "height",
        "n_channels",
        "format",
        "mean_r",
        "mean_g",
        "mean_b",
        "mean_gray",
    )


# ---------------------------------------------------------------------------
# Rows-only queries (approximate / not ANSI-SQL-expressible)
# ---------------------------------------------------------------------------


_GK_QUANTILES = [0.25, 0.5, 0.75]
#: percentile_approx(accuracy=10000) guarantees rank error ≤ 1e-4; a
#: 0.005 margin is 50× that — tight enough to catch a regression, loose
#: enough that interpolation-vs-element edge effects can't flip it.
_GK_MARGIN = 0.005
#: approx_count_distinct's default relativeSD is 0.05; ±3σ bounds.
_HLL_RSD = 0.05

_ORACLE_APPROX_BOUNDS = (
    _sketch_bounds_oracle(_GK_QUANTILES, _GK_MARGIN, "ApproxQuantiles").rstrip()
    + f"""
  UNION ALL SELECT d::DATE, 'Column', 'event_type', 'ApproxCountDistinct',
    round(cd * {1 - 3 * _HLL_RSD!r}, 6), round(cd * {1 + 3 * _HLL_RSD!r}, 6), TRUE
  FROM (SELECT date_trunc('day', ts) AS d, count(DISTINCT event_type)::DOUBLE AS cd
        FROM events GROUP BY 1)
  UNION ALL SELECT d::DATE, 'Dataset', '*', 'Size', n, n, TRUE
  FROM (SELECT date_trunc('day', ts) AS d, count(*)::DOUBLE AS n
        FROM events GROUP BY 1)
"""
)


@query("profile_events_approx", _ORACLE_APPROX_BOUNDS)
def profile_events_approx(spark, sf_dir):
    """Approximate profiling (GK quantile sketch + HLL++ distinct) — the
    100 TB scale path — verified by ε-bounds: every GK estimate must sit
    between the order statistics at ranks φ·n ∓ (⌈0.005·n⌉+1) (50× the
    accuracy=10000 rank guarantee plus one-element slack), every HLL++
    count within ±3·rsd of the exact distinct count, with the bounds
    computed identically on both engines and the oracle pinning
    ``within = TRUE``. Size rides along as an exact anchor."""
    ev = _events(spark, sf_dir).select(
        F.date_trunc("day", "ts").alias("d"),
        F.col("value").cast("double").alias("value"),
        "event_type",
    )
    # collect_list drops nulls (matching the oracle's WHERE value IS NOT
    # NULL bounds CTE) while count(*) stays unfiltered for the Size row.
    q_arr = F.array(*[F.lit(q) for q in _GK_QUANTILES])
    agg = ev.groupBy("d").agg(
        F.percentile_approx("value", q_arr, F.lit(10000)).alias("est"),
        F.sort_array(F.collect_list("value")).alias("vals"),
        F.approx_count_distinct("event_type", _HLL_RSD).alias("acd"),
        F.count_distinct("event_type").alias("cd"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    quantile_rows = _sketch_bounds_rows(agg, _GK_QUANTILES, _GK_MARGIN, "ApproxQuantiles", "est")
    hll_rows = agg.select(
        F.col("d").cast("date").alias("ts"),
        F.lit("Column").alias("entity"),
        F.lit("event_type").alias("instance"),
        F.lit("ApproxCountDistinct").alias("name"),
        F.round(F.col("cd") * (1 - 3 * _HLL_RSD), 6).alias("lower"),
        F.round(F.col("cd") * (1 + 3 * _HLL_RSD), 6).alias("upper"),
        (
            (F.col("acd") >= F.col("cd") * (1 - 3 * _HLL_RSD))
            & (F.col("acd") <= F.col("cd") * (1 + 3 * _HLL_RSD))
        ).alias("within"),
    )
    size_rows = agg.select(
        F.col("d").cast("date").alias("ts"),
        F.lit("Dataset").alias("entity"),
        F.lit("*").alias("instance"),
        F.lit("Size").alias("name"),
        F.col("n").alias("lower"),
        F.col("n").alias("upper"),
        F.lit(True).alias("within"),
    )
    return quantile_rows.unionByName(hll_rows).unionByName(size_rows)


def _holt_oracle(alpha: float = 0.5, beta: float = 0.3) -> str:
    """Holt's recurrence as a recursive CTE. Key facts making this exact:

    - every fold i trains from scratch on points[:i], but the recurrence
      state after consuming v1..v_{i-1} IS that training run (init depends
      only on v0, v1) — so one recursion yields every fold's forecast;
    - FP constants are injected via repr() (shortest round-trip), and the
      expressions mirror the Python operation ORDER, so DuckDB's doubles
      match Python's bit-for-bit.
    """
    a, ia, b, ib = repr(alpha), repr(1 - alpha), repr(beta), repr(1 - beta)
    return "WITH RECURSIVE " + _FOLDS_SQL + _SN_SQL + f""",
v0 AS (SELECT entity, instance, name, value AS v0 FROM idx WHERE i = 0),
v1 AS (SELECT entity, instance, name, value AS v1 FROM idx WHERE i = 1),
rec AS (
  SELECT entity, instance, name, 1 AS j,
         {a} * v1 + {ia} * (v0 + (v1 - v0)) AS level,
         {b} * (({a} * v1 + {ia} * (v0 + (v1 - v0))) - v0) + {ib} * (v1 - v0) AS trend
  FROM v0 JOIN v1 USING (entity, instance, name)
  UNION ALL
  SELECT entity, instance, name, j + 1, nl,
         {b} * (nl - level) + {ib} * trend
  FROM (
    SELECT r.entity, r.instance, r.name, r.j, r.level, r.trend,
           {a} * x.value + {ia} * (r.level + r.trend) AS nl
    FROM rec r JOIN idx x USING (entity, instance, name)
    WHERE x.i = r.j + 1
  )
),
hpred AS (
  SELECT entity, instance, name, j + 1 AS i, level + trend AS pred FROM rec
),
hval AS (
  SELECT x.entity, x.instance, x.name, x.ts, x.value,
         CASE WHEN x.i >= 4 AND x.i >= floor(x.n * (CASE WHEN x.n >= 100 THEN 0.1
              WHEN x.n >= 50 THEN 0.2 WHEN x.n >= 25 THEN 0.4 ELSE 0.8 END))
              THEN h.pred END AS pred
  FROM idx x LEFT JOIN hpred h
    ON h.entity = x.entity AND h.instance = x.instance AND h.name = x.name AND h.i = x.i
)
SELECT entity, instance, name, ts::DATE AS ts, round(value, 6) AS true_value,
       round(pred, 6) AS predicted,
       CASE WHEN pred IS NOT NULL
            THEN round(least(abs(value - pred) / value, 1.0), 6) END AS error
FROM hval
"""


@query("anomaly_holt_validation", _holt_oracle())
def anomaly_holt_validation(spark, sf_dir):
    """Holt double-exponential smoothing CV — the stand-in for
    Prophet/SARIMA-class stateful models, one applyInPandas task per
    metric series; oracled via a recursive-CTE replay of the recurrence."""
    from thoth_spark.anomaly.models import MODEL_REGISTRY

    metrics = _metric_series(spark, sf_dir)
    v = cross_validation(metrics, MODEL_REGISTRY["HoltLinear"](), key_cols=KEY)
    return v.select(
        *KEY,
        F.col("ts").cast("date").alias("ts"),
        F.round("true_value", 6).alias("true_value"),
        F.round("predicted", 6).alias("predicted"),
        F.round("error", 6).alias("error"),
    )


# AR(1)-with-intercept per-fold OLS replayed in SQL: the closed form
# needs only cumulative sums of (lag, value) pairs over the train prefix,
# so the whole model is window functions — mirroring AR1Model.folds
# arithmetic (same operation order; round(6) absorbs FP dust).
_AR1_SQL = """,
ar1 AS (
  SELECT entity, instance, name, ts, i, n, value,
         lag(value) OVER (PARTITION BY entity, instance, name ORDER BY ts) AS x
  FROM idx
),
ar1c AS (
  SELECT *,
         count(x) OVER cw AS np,
         sum(x) OVER cw AS sx,
         sum(CASE WHEN x IS NOT NULL THEN value END) OVER cw AS sy,
         sum(x * value) OVER cw AS sxy,
         sum(x * x) OVER cw AS sxx
  FROM ar1
  WINDOW cw AS (PARTITION BY entity, instance, name ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
ar1p AS (
  SELECT *, CASE WHEN i >= 4 AND np >= 3 THEN
      (sy - (CASE WHEN abs(np * sxx - sx * sx) > 1e-9
                  THEN (np * sxy - sx * sy) / (np * sxx - sx * sx)
                  ELSE 0.0 END) * sx) / np
      + (CASE WHEN abs(np * sxx - sx * sx) > 1e-9
              THEN (np * sxy - sx * sy) / (np * sxx - sx * sx)
              ELSE 0.0 END) * x
      END AS pred
  FROM ar1c
),
ar1v AS (
  SELECT entity, instance, name, ts, value,
         CASE WHEN i >= floor(n * (CASE WHEN n >= 100 THEN 0.1 WHEN n >= 50 THEN 0.2
                                        WHEN n >= 25 THEN 0.4 ELSE 0.8 END))
              THEN pred END AS pred,
         CASE WHEN i >= floor(n * (CASE WHEN n >= 100 THEN 0.1 WHEN n >= 50 THEN 0.2
                                        WHEN n >= 25 THEN 0.4 ELSE 0.8 END))
              AND pred IS NOT NULL
              THEN least(abs(value - pred) / value, 1.0) END AS err
  FROM ar1p
)"""

ORACLE_AR1_VALIDATION = "WITH " + _FOLDS_SQL + _AR1_SQL + """
SELECT entity, instance, name, ts::DATE AS ts, round(value, 6) AS true_value,
       round(pred, 6) AS predicted, round(err, 6) AS error
FROM ar1v
"""


@query("anomaly_ar1_validation", ORACLE_AR1_VALIDATION)
def anomaly_ar1_validation(spark, sf_dir):
    """Forward-chaining CV of the AR(1) regression forecaster: every
    fold's OLS fit reduces to cumulative window sums, so ALL folds of ALL
    series are one window-function pass (no Python anywhere) — and the
    identical closed form replays in the DuckDB oracle."""
    from thoth_spark.anomaly.models import AR1Model

    metrics = _metric_series(spark, sf_dir)
    v = cross_validation(metrics, AR1Model(), key_cols=KEY)
    return v.select(
        *KEY,
        F.col("ts").cast("date").alias("ts"),
        F.round("true_value", 6).alias("true_value"),
        F.round("predicted", 6).alias("predicted"),
        F.round("error", 6).alias("error"),
    )


@query("anomaly_sarima_validation")
def anomaly_sarima_validation(spark, sf_dir):
    """Forward-chaining CV of the pure-numpy AutoSarima (Hannan-Rissanen
    two-stage OLS, AIC auto-order, seasonal terms) — parity with the
    reference's Merlion AutoSarima (``/root/reference/thoth/anomaly/
    models.py:184-213``; accuracy bar mirrored in tests/test_anomaly.py).
    The iterative lstsq fits are not SQL-expressible, so this entry is
    deliberately rows-only — the accuracy gate lives in pytest."""
    from thoth_spark.anomaly.models import MODEL_REGISTRY

    metrics = _metric_series(spark, sf_dir)
    v = cross_validation(metrics, MODEL_REGISTRY["AutoSarima"](), key_cols=KEY)
    return v.select(
        *KEY,
        F.col("ts").cast("date").alias("ts"),
        F.round("true_value", 6).alias("true_value"),
        F.round("predicted", 6).alias("predicted"),
        F.round("error", 6).alias("error"),
    )


@query("anomaly_changepoint_validation")
def anomaly_changepoint_validation(spark, sf_dir):
    """Forward-chaining CV of the changepoint-capable trend model
    (piecewise-linear trend, ℓ1 changepoint selection by coordinate
    descent, Fourier seasonality) — the reference AutoProphet's headline
    trend-changepoint feature (``/root/reference/thoth/anomaly/
    models.py:216-241``) that the plain fourier_trend analogue lacks.
    Iterative lasso fits are not SQL-expressible, so rows-only; the
    accuracy gates (temperatures APE and the step-change fixture where
    the single-slope model fails) live in tests/test_anomaly.py."""
    from thoth_spark.anomaly.models import MODEL_REGISTRY

    metrics = _metric_series(spark, sf_dir)
    v = cross_validation(metrics, MODEL_REGISTRY["ChangepointTrend"](), key_cols=KEY)
    return v.select(
        *KEY,
        F.col("ts").cast("date").alias("ts"),
        F.round("true_value", 6).alias("true_value"),
        F.round("predicted", 6).alias("predicted"),
        F.round("error", 6).alias("error"),
    )


# Fixed-order SARIMA(1,1,0)(1,0,0)_7 replayed in SQL: difference,
# mean-center, regress z_t on (z_{t-1}, z_{t-7}) — the auto model's
# (p=1,q=0,P=1) grid candidate with the order pinned. Centered normal-
# equation sums expand over RAW cumulative sums (C_ab = S_ab - mu*S_a -
# mu*S_b + k*mu^2), so every fold of every series is one window pass,
# mirroring sarima_fixed_forecaster's arithmetic operation-for-operation.
_SARIMA_FIXED_SQL = """,
sz AS (
  SELECT entity, instance, name, ts, i, n, value,
         lag(value) OVER w AS yprev,
         value - lag(value) OVER w AS z
  FROM idx
  WINDOW w AS (PARTITION BY entity, instance, name ORDER BY ts)
),
sreg AS (
  SELECT *, lag(z, 1) OVER w AS za, lag(z, 7) OVER w AS zb
  FROM sz
  WINDOW w AS (PARTITION BY entity, instance, name ORDER BY ts)
),
sprod AS (
  SELECT *,
         CASE WHEN zb IS NOT NULL THEN za END AS ra,
         CASE WHEN zb IS NOT NULL THEN zb END AS rb,
         CASE WHEN zb IS NOT NULL THEN z END AS rv
  FROM sreg
),
sstat AS (
  SELECT *,
         sum(z) OVER cw AS szall,
         count(z) OVER cw AS mz,
         count(rb) OVER cw AS k,
         sum(ra) OVER cw AS sa,
         sum(rb) OVER cw AS sb,
         sum(rv) OVER cw AS sv,
         sum(ra * ra) OVER cw AS saa,
         sum(rb * rb) OVER cw AS sbb,
         sum(ra * rb) OVER cw AS sab,
         sum(ra * rv) OVER cw AS sav,
         sum(rb * rv) OVER cw AS sbv
  FROM sprod
  WINDOW cw AS (PARTITION BY entity, instance, name ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
smu AS (SELECT *, szall / mz AS mu FROM sstat),
scen AS (
  SELECT *,
         saa - 2 * mu * sa + k * mu * mu AS caa,
         sbb - 2 * mu * sb + k * mu * mu AS cbb,
         sab - mu * sa - mu * sb + k * mu * mu AS cab,
         sav - mu * sa - mu * sv + k * mu * mu AS cav,
         sbv - mu * sb - mu * sv + k * mu * mu AS cbv
  FROM smu
),
sdet AS (SELECT *, caa * cbb - cab * cab AS det FROM scen),
scoef AS (
  SELECT *,
         CASE WHEN abs(det) > 1e-9 THEN (cav * cbb - cbv * cab) / det ELSE 0.0 END AS phi,
         CASE WHEN abs(det) > 1e-9 THEN (caa * cbv - cab * cav) / det ELSE 0.0 END AS sphi
  FROM sdet
),
spred AS (
  SELECT entity, instance, name, ts, value,
         CASE WHEN i >= 12 AND i >= floor(n * (CASE WHEN n >= 100 THEN 0.1
                   WHEN n >= 50 THEN 0.2 WHEN n >= 25 THEN 0.4 ELSE 0.8 END))
              THEN yprev + (mu + phi * (za - mu) + sphi * (zb - mu)) END AS pred
  FROM scoef
)"""

ORACLE_SARIMA_FIXED = "WITH " + _FOLDS_SQL + _SARIMA_FIXED_SQL + """
SELECT entity, instance, name, ts::DATE AS ts, round(value, 6) AS true_value,
       round(pred, 6) AS predicted,
       CASE WHEN pred IS NOT NULL
            THEN round(least(abs(value - pred) / value, 1.0), 6) END AS error
FROM spred
"""


@query("anomaly_sarima_fixed_validation", ORACLE_SARIMA_FIXED)
def anomaly_sarima_fixed_validation(spark, sf_dir):
    """Forward-chaining CV of the FIXED-order SARIMA(1,1,0)(1,0,0)_7 —
    the hash-verified calibration flank for the rows-only AutoSarima
    (same differencing / mean-centering / seasonal-lag-regression
    skeleton via the same applyInPandas adapter, order pinned so the
    closed-form OLS replays as window-function SQL). Together with
    anomaly_sarima_validation this covers the reference's Merlion
    AutoSarima surface (``/root/reference/thoth/anomaly/models.py:
    184-213``): the auto model carries the accuracy bar, this one the
    bit-level engine-parity proof."""
    from thoth_spark.anomaly.models import MODEL_REGISTRY

    metrics = _metric_series(spark, sf_dir)
    v = cross_validation(metrics, MODEL_REGISTRY["SarimaFixed"](), key_cols=KEY)
    return v.select(
        *KEY,
        F.col("ts").cast("date").alias("ts"),
        F.round("true_value", 6).alias("true_value"),
        F.round("predicted", 6).alias("predicted"),
        F.round("error", 6).alias("error"),
    )


# Fixed-changepoint recency-weighted ridge trend replayed in SQL: the
# regressors [1, t, relu(t-12)] are fold-independent per row and the
# exponential recency weight factors as 0.5^((i-1)/hl) * 2^(t/hl), so the
# 3x3 normal equations assemble from cumulative sums times a per-fold
# scalar and solve by Cramer's rule — operation-for-operation the
# arithmetic of fixed_changepoint_trend_forecaster.
_FIXED_CP_SQL = """,
cp AS (
  SELECT entity, instance, name, ts, i, n, value,
         lag(value) OVER w AS yprev,
         power(2.0, i / 15.0) AS u,
         CAST(i AS DOUBLE) AS x1,
         greatest(0.0, i - 12.0) AS x2
  FROM idx
  WINDOW w AS (PARTITION BY entity, instance, name ORDER BY ts)
),
ccum AS (
  SELECT *,
         sum(u) OVER cw AS c00,
         sum(u * x1) OVER cw AS c01,
         sum(u * x2) OVER cw AS c02,
         sum(u * x1 * x1) OVER cw AS c11,
         sum(u * x1 * x2) OVER cw AS c12,
         sum(u * x2 * x2) OVER cw AS c22,
         sum(u * value) OVER cw AS e0,
         sum(u * x1 * value) OVER cw AS e1,
         sum(u * x2 * value) OVER cw AS e2
  FROM cp
  WINDOW cw AS (PARTITION BY entity, instance, name ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
ckf AS (SELECT *, power(0.5, (i - 1) / 15.0) AS kf FROM ccum),
csums AS (
  SELECT *, kf * c00 AS s00, kf * c01 AS s01, kf * c02 AS s02,
         kf * c11 AS s11, kf * c12 AS s12, kf * c22 + 1.0 AS s22,
         kf * e0 AS d0, kf * e1 AS d1, kf * e2 AS d2
  FROM ckf
),
cdet AS (
  SELECT *,
    s00 * (s11 * s22 - s12 * s12) - s01 * (s01 * s22 - s12 * s02)
      + s02 * (s01 * s12 - s11 * s02) AS det,
    d0 * (s11 * s22 - s12 * s12) - s01 * (d1 * s22 - s12 * d2)
      + s02 * (d1 * s12 - s11 * d2) AS det0,
    s00 * (d1 * s22 - d2 * s12) - d0 * (s01 * s22 - s12 * s02)
      + s02 * (s01 * d2 - d1 * s02) AS det1,
    s00 * (s11 * d2 - d1 * s12) - s01 * (s01 * d2 - d1 * s02)
      + d0 * (s01 * s12 - s11 * s02) AS det2
  FROM csums
),
cpred AS (
  SELECT entity, instance, name, ts, value,
         CASE WHEN i >= 8 AND i >= floor(n * (CASE WHEN n >= 100 THEN 0.1
                   WHEN n >= 50 THEN 0.2 WHEN n >= 25 THEN 0.4 ELSE 0.8 END))
              THEN CASE WHEN abs(det) > 1e-12
                   THEN (det0 + det1 * CAST(i AS DOUBLE)
                         + det2 * greatest(0.0, i - 12.0)) / det
                   ELSE yprev END
         END AS pred
  FROM cdet
)"""

ORACLE_FIXED_CP = "WITH " + _FOLDS_SQL + _FIXED_CP_SQL + """
SELECT entity, instance, name, ts::DATE AS ts, round(value, 6) AS true_value,
       round(pred, 6) AS predicted,
       CASE WHEN pred IS NOT NULL
            THEN round(least(abs(value - pred) / value, 1.0), 6) END AS error
FROM cpred
"""


@query("anomaly_fixed_changepoint_validation", ORACLE_FIXED_CP)
def anomaly_fixed_changepoint_validation(spark, sf_dir):
    """Forward-chaining CV of the fixed-changepoint weighted ridge trend
    — the hash-verified calibration flank for the rows-only ℓ1
    ChangepointTrend: same piecewise-linear-trend basis, recency
    weighting, and delta-only penalty via the same applyInPandas
    adapter, with the changepoint pinned (index 12 of the 30-day series)
    so the closed-form Cramer solve replays as window-function SQL. The
    ℓ1 model carries the accuracy bars (tests/test_anomaly.py); this one
    carries the bit-level engine-parity proof."""
    from thoth_spark.anomaly.models import MODEL_REGISTRY

    metrics = _metric_series(spark, sf_dir)
    v = cross_validation(
        metrics, MODEL_REGISTRY["FixedChangepointTrend"](), key_cols=KEY
    )
    return v.select(
        *KEY,
        F.col("ts").cast("date").alias("ts"),
        F.round("true_value", 6).alias("true_value"),
        F.round("predicted", 6).alias("predicted"),
        F.round("error", 6).alias("error"),
    )


def _plane_sql(vec_expr: str, plane: list[float]) -> str:
    lits = ", ".join(repr(float(x)) for x in plane)
    return f"list_dot_product({vec_expr}, [{lits}])"


def _sig_sql(vec_expr: str, planes: list[list[float]]) -> str:
    terms = [
        f"CASE WHEN {_plane_sql(vec_expr, p)} > 0 THEN {2**i} ELSE 0 END"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


def _lsh_topk_oracle(nbits: int = 6, n_tables: int = 4, k: int = 5) -> str:
    """The hyperplane LSH pipeline with the SAME seeded planes as the
    Spark operator, as pure SQL (planes inlined as literals; both engines
    evaluate the dot products with sequential double addition, so the
    sign buckets agree bitwise — verified by the brute-force oracle)."""
    from thoth_spark.operators.similarity import _hyperplanes

    corpus_legs, query_legs = [], []
    for t in range(n_tables):
        sig = _sig_sql("v", _hyperplanes(64, nbits, seed=42 + t))
        off = t * 2**nbits
        corpus_legs.append(
            f"SELECT vec_id AS neighbor_id, v, {sig} + {off} AS bucket FROM e"
        )
        query_legs.append(f"SELECT vec_id AS query_id, v, {sig} + {off} AS bucket FROM q")
        query_legs += [
            f"SELECT vec_id AS query_id, v, xor({sig}::BIGINT, {2**f})::BIGINT + {off} AS bucket FROM q"
            for f in range(nbits)
        ]
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
cb AS ({' UNION ALL '.join(corpus_legs)}),
qb AS ({' UNION ALL '.join(query_legs)}),
cand AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM qb JOIN cb USING (bucket) WHERE neighbor_id != query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_dot_product(qv.v, cv.v) /
         (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(cv.v, cv.v))) AS cos
  FROM cand c JOIN e qv ON qv.vec_id = c.query_id JOIN e cv ON cv.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos_sim,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::INT AS rank
FROM scored QUALIFY rank <= {k}
"""


@query("similarity_topk_vectorized", ORACLE_TOPK_EMB)
def similarity_topk_vectorized(spark, sf_dir):
    """Same exact top-5 as similarity_topk_brute, but scored with numpy
    BLAS matmuls inside mapInPandas with per-batch top-k pre-selection —
    the high-throughput physical strategy for large corpora."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk_pandas(emb, emb.where(F.col("vec_id") < 10), k=5)


@query("similarity_topk_lsh", _lsh_topk_oracle())
def similarity_topk_lsh(spark, sf_dir):
    """Multi-table random-hyperplane LSH top-k; the oracle replays the
    same seeded planes as SQL literals."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hyperplane_lsh_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, nbits=6, n_tables=4, dim=64
    )


def _lsh_recall_oracle(nbits: int = 6, n_tables: int = 4, k: int = 5) -> str:
    """Recall@k of the LSH pipeline vs exact top-k, both replayed in SQL
    (the LSH legs reuse the same seeded planes as `_lsh_topk_oracle`)."""
    from thoth_spark.operators.similarity import _hyperplanes

    corpus_legs, query_legs = [], []
    for t in range(n_tables):
        sig = _sig_sql("v", _hyperplanes(64, nbits, seed=42 + t))
        off = t * 2**nbits
        corpus_legs.append(
            f"SELECT vec_id AS neighbor_id, v, {sig} + {off} AS bucket FROM e"
        )
        query_legs.append(f"SELECT vec_id AS query_id, v, {sig} + {off} AS bucket FROM q")
        query_legs += [
            f"SELECT vec_id AS query_id, v, xor({sig}::BIGINT, {2**f})::BIGINT + {off} AS bucket FROM q"
            for f in range(nbits)
        ]
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
cb AS ({' UNION ALL '.join(corpus_legs)}),
qb AS ({' UNION ALL '.join(query_legs)}),
cand AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM qb JOIN cb USING (bucket) WHERE neighbor_id != query_id
),
lscored AS (
  SELECT c.query_id, c.neighbor_id,
         list_dot_product(qv.v, cv.v) /
         (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(cv.v, cv.v))) AS cos
  FROM cand c JOIN e qv ON qv.vec_id = c.query_id JOIN e cv ON cv.vec_id = c.neighbor_id
),
ltop AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM lscored QUALIFY rk <= {k}
),
escored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v) /
         (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM e c CROSS JOIN q WHERE c.vec_id != q.vec_id
),
etop AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM escored QUALIFY rk <= {k}
)
SELECT et.query_id, round(count(lt.neighbor_id)::DOUBLE / {k}, 6) AS recall_at_k
FROM etop et LEFT JOIN ltop lt USING (query_id, neighbor_id)
GROUP BY et.query_id
"""


@query("similarity_lsh_recall", _lsh_recall_oracle())
def similarity_lsh_recall(spark, sf_dir):
    """ANN evaluation harness: per-query recall@5 of the multi-table
    hyperplane LSH against the exact top-5 — the number every ANN
    deployment tunes against (nbits/n_tables/probe_flips trade recall
    for candidate volume). Both pipelines are deterministic, so recall
    itself is hash-verifiable; at scale the exact side runs on a held-out
    query SAMPLE (here the same 10 fixture queries), never the full
    corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    lsh = similarity.hyperplane_lsh_topk(
        emb, q, k=5, nbits=6, n_tables=4, dim=64
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    exact = similarity.brute_force_topk(emb, q, k=5).select("query_id", "neighbor_id")
    return (
        exact.join(lsh, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))) / F.lit(5.0), 6
            ).alias("recall_at_k")
        )
    )


@query("similarity_topk_ivf_fullprobe", ORACLE_TOPK_EMB)
def similarity_topk_ivf_fullprobe(spark, sf_dir):
    """The SAME IVF code path (K-Means training, pandas-UDF centroid
    assignment, cell equi-join) run at ``nprobe = n_centroids``: every
    query probes every cell, so the candidate set is the whole corpus
    and the result equals exact brute-force REGARDLESS of where K-Means
    put the centroids — which makes the IVF dataflow hash-verifiable
    against the exact top-k oracle (the partial-probe query above stays
    rows-only by its approximate nature). This is the standard
    recall=1.0 calibration point any IVF deployment measures first."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, n_centroids=8, nprobe=8
    )


#: Per-query recall@5 floor for the partial-probe IVF recall gate below.
#: Measured per-query minima at nprobe=5/8: 0.4 (sf0.001), 0.6 (sf0.01),
#: 0.8 (sf0.1) — the 0.2 floor leaves a full top-5 hit of margin below
#: the worst observed query even if K-Means centroid placement drifts.
_IVF_RECALL_FLOOR = 0.2

_ORACLE_IVF_RECALL_BOUND = """
SELECT vec_id AS query_id, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
"""


@query("similarity_topk_ivf_recall", _ORACLE_IVF_RECALL_BOUND)
def similarity_topk_ivf_recall(spark, sf_dir):
    """Bounded recall oracle for PARTIAL-probe IVF (the production
    setting `similarity_topk_ivf` runs rows-only): per-query recall@5 of
    IVF at nprobe=5/8 cells against the exact brute-force top-5,
    asserted >= ``_IVF_RECALL_FLOOR`` and hash-verified as a boolean —
    the same bounds-oracle trick as the sketch gates
    (`profile_events_approx`): the recall VALUE depends on where the
    seeded K-Means put the centroids (not SQL-replayable, unlike the
    hyperplane LSH recall harness whose planes replay as literals), but
    the FLOOR is an invariant of the dataflow, so the driver's typed
    hash enforces "IVF at partial probe always recovers >=1 of the exact
    top-5 for every fixture query". The exact side reuses
    `brute_force_topk`, itself hash-verified against ORACLE_TOPK_EMB."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    ivf = similarity.ivf_topk(emb, q, k=5, n_centroids=8, nprobe=5).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    exact = similarity.brute_force_topk(emb, q, k=5).select(
        "query_id", "neighbor_id"
    )
    return (
        exact.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            (
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))) / F.lit(5.0)
                >= F.lit(_IVF_RECALL_FLOOR)
            ).alias("recall_ok")
        )
    )


_IVF_INDEX_DIRS: dict[str, str] = {}


def _ivf_index_dir(spark, sf_dir: str) -> str:
    """Per-process persisted IVF index (similarity.build_ivf_index)
    keyed by sf_dir and removed at interpreter exit: ``<dir>/cells`` is
    the corpus written partitionBy(cell) — one parquet directory per
    inverted list — and ``<dir>/centroids`` the coarse quantizer. Built
    ONCE so the serving queries below time the PROBE (the steady-state
    cost an index amortizes its build against), the same
    pay-the-shuffle-once pattern as _bucketed_run_dir."""
    import atexit
    import shutil
    import tempfile

    d = _IVF_INDEX_DIRS.get(sf_dir)
    if d is None:
        d = tempfile.mkdtemp(prefix="thoth_ivfidx_")
        similarity.build_ivf_index(
            load_table(spark, sf_dir, "embeddings"), d, n_centroids=8
        )
        _IVF_INDEX_DIRS[sf_dir] = d
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


@query("similarity_topk_ivf_index_fullprobe", ORACLE_TOPK_EMB)
def similarity_topk_ivf_index_fullprobe(spark, sf_dir):
    """The persisted-index serving path (similarity.ivf_query_index —
    centroid fetch, query-to-cell assignment, partition-pruned cell
    scan, broadcast query join) probed at nprobe = n_centroids: every
    cell partition is read, so the result equals exact brute force
    REGARDLESS of centroid placement — the storage-roundtrip twin of
    similarity_topk_ivf_fullprobe, hash-verifying that build_ivf_index
    + ivf_query_index lose nothing to the parquet layout."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_query_index(
        spark,
        _ivf_index_dir(spark, sf_dir),
        emb.where(F.col("vec_id") < 10),
        k=5,
        nprobe=8,
    )


_IVF_APPEND_DIRS: dict[str, str] = {}


def _ivf_append_dir(spark, sf_dir: str) -> str:
    """Per-process INCREMENTALLY-built IVF index: built on the even
    vec_ids, then the odds appended under the frozen centroids
    (similarity.ivf_index_append) — the nightly-ingest shape a 100 TB
    index lives by. Cached per sf_dir like _ivf_index_dir."""
    import atexit
    import shutil
    import tempfile

    d = _IVF_APPEND_DIRS.get(sf_dir)
    if d is None:
        d = tempfile.mkdtemp(prefix="thoth_ivfapp_")
        emb = load_table(spark, sf_dir, "embeddings")
        similarity.build_ivf_index(
            emb.where(F.col("vec_id") % 2 == 0), d, n_centroids=8
        )
        similarity.ivf_index_append(
            spark, d, emb.where(F.col("vec_id") % 2 == 1)
        )
        _IVF_APPEND_DIRS[sf_dir] = d
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


@query("similarity_topk_ivf_index_append_fullprobe", ORACLE_TOPK_EMB)
def similarity_topk_ivf_index_append_fullprobe(spark, sf_dir):
    """Incremental index maintenance hash gate: the index is built on
    HALF the corpus and the other half APPENDED under the frozen
    coarse quantizer (similarity.ivf_index_append — dynamic partition
    append, O(batch) cost, no rewrite); probed at nprobe = n_centroids
    the union must equal exact brute force over the WHOLE corpus —
    any row lost, duplicated, or mis-assigned by the append breaks the
    typed hash. Partial-probe equivalence to a one-shot full build is
    pinned in tests/test_operators.py::test_ivf_index_append_equals_full_build."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_query_index(
        spark,
        _ivf_append_dir(spark, sf_dir),
        emb.where(F.col("vec_id") < 10),
        k=5,
        nprobe=8,
    )


_ORACLE_IVF_INDEX_RECALL = """
SELECT vec_id AS query_id, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
"""


@query("similarity_topk_ivf_index", _ORACLE_IVF_INDEX_RECALL)
def similarity_topk_ivf_index(spark, sf_dir):
    """PRODUCTION persisted-index serving: nprobe=3 of 8 cells, so the
    scan reads ~3/8 of the corpus via static partition PRUNING
    (PartitionFilters on cell — plan-locked in
    tests/test_operators.py::test_ivf_index_roundtrip); at 100 TB this
    is the property that makes IVF an index instead of a re-scan.
    Hash-gated as a per-query recall bound vs exact brute force
    (measured per-query minima 0.2-0.4 across sf0.001/0.01/0.1; the
    0.1 floor = "every query recovers >=1 of the exact top-5" with a
    one-hit margin), the similarity_topk_ivf_recall recipe — the
    persisted layout itself is hash-verified exactly by the fullprobe
    twin above."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    served = similarity.ivf_query_index(
        spark, _ivf_index_dir(spark, sf_dir), q, k=5, nprobe=3
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    exact = similarity.brute_force_topk(emb, q, k=5).select(
        "query_id", "neighbor_id"
    )
    return (
        exact.join(served, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            (
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))) / F.lit(5.0)
                >= F.lit(0.1)
            ).alias("recall_ok")
        )
    )


def _neardup_lsh_oracle(nbits: int = 6, threshold: float = 0.4) -> str:
    from thoth_spark.operators.similarity import _hyperplanes

    sig = _sig_sql("v", _hyperplanes(64, nbits, seed=42))
    probe_legs = [f"SELECT id, v, {sig} AS bucket FROM base"] + [
        f"SELECT id, v, xor({sig}::BIGINT, {2**f})::BIGINT AS bucket FROM base"
        for f in range(nbits)
    ]
    return f"""
WITH base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
a AS ({' UNION ALL '.join(probe_legs)}),
b AS (SELECT id, v, {sig} AS bucket FROM base),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         round(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
  FROM a JOIN b USING (bucket) WHERE a.id < b.id
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= {threshold}
"""


@query("embedding_neardup_lsh", _neardup_lsh_oracle())
def embedding_neardup_lsh(spark, sf_dir):
    """Hyperplane-bucketed cosine near-dup pairs; oracle replays the same
    seeded planes as SQL literals."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(emb, threshold=0.4, nbits=6, dim=64)


def _emb_components_oracle(nbits: int = 6, threshold: float = 0.4) -> str:
    pairs = _neardup_lsh_oracle(nbits, threshold).strip()
    return f"""
WITH RECURSIVE vpairs AS ({pairs}),
edges AS (SELECT id_a AS s, id_b AS t FROM vpairs UNION SELECT id_b, id_a FROM vpairs),
reach AS (
  SELECT s, t FROM edges
  UNION
  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
)
SELECT ee.vec_id AS id, least(ee.vec_id, coalesce(min(r.t), ee.vec_id)) AS component
FROM embeddings ee LEFT JOIN reach r ON r.s = ee.vec_id
GROUP BY ee.vec_id
"""


@query("embedding_dedup_components", _emb_components_oracle())
def embedding_dedup_components(spark, sf_dir):
    """Semantic-dedup clustering: cosine near-dup pairs (hyperplane LSH)
    → iterative min-label propagation → every vector labeled with its
    duplicate-cluster's smallest id (singletons label themselves). The
    embedding twin of dedup_minhash_components."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dup_pairs(emb, threshold=0.4, nbits=6)
    labels = dedup.connected_components(pairs)
    return (
        emb.select(F.col("vec_id").alias("id"))
        .join(labels, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )


_ORACLE_SEMDEDUP_COVERAGE = """
SELECT vec_id AS id, TRUE AS ok FROM embeddings
"""


@query("semdedup_embeddings", _ORACLE_SEMDEDUP_COVERAGE)
def semdedup_embeddings(spark, sf_dir):
    """Coverage gate for SemDeDup (Abbas et al. 2023,
    arXiv:2303.09540): K-Means the embedding space, intra-cluster
    cosine near-dup pairs, connected components, keep the member
    farthest from its centroid per duplicate group. The trained coarse
    quantizer is not SQL-replayable, but this INVARIANT of the
    survivor policy is: every vector either survives or has an exact
    cosine >= threshold neighbor somewhere in the corpus (a dropped
    member sits in a component with >= 2 members, so it carries at
    least one raw-cosine edge) — hash-verified per id as (id, ok),
    regardless of where K-Means put the centroids. The neighbor check
    is EXACT (broadcast dropped set x corpus), an eval-harness cost
    paid only on the duplicate-density-sized dropped set. The full
    survivor OUTPUT shape stays hash-verified by the fixed-quantizer
    twin (semdedup_fixed_embeddings) and the fixed-centroid
    brute-force parity pytest
    (tests/test_operators.py::test_semdedup_matches_brute_force_with_fixed_centroids)."""
    emb = load_table(spark, sf_dir, "embeddings")
    surv = similarity.semdedup(emb, threshold=0.4, n_clusters=8).select("id")
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    dropped = base.join(surv, "id", "left_anti")
    covered = (
        base.alias("c")
        .join(
            F.broadcast(
                dropped.select(
                    F.col("id").alias("d_id"), F.col("v").alias("dv")
                )
            ),
            F.col("c.id") != F.col("d_id"),
        )
        .where(similarity.cosine(F.col("c.v"), F.col("dv")) >= F.lit(0.4))
        .select(F.col("d_id").alias("id"))
        .distinct()
        .withColumn("__cov", F.lit(1))
    )
    kept = surv.withColumn("__kept", F.lit(1))
    return (
        base.select("id")
        .join(kept, "id", "left")
        .join(covered, "id", "left")
        .select(
            "id",
            (
                F.coalesce(F.col("__kept"), F.lit(0))
                + F.coalesce(F.col("__cov"), F.lit(0))
                > 0
            ).alias("ok"),
        )
    )


# Exact-replay oracle for semdedup_fixed_embeddings (wired in round
# 11). Why the replay is exact: the quantizer —
# the one non-replayable stage of semdedup_embeddings above — is pinned
# to the embeddings of the 8 SMALLEST vec_ids, which SQL derives from
# the table itself (ORDER BY id LIMIT 8; no literals needed). Everything
# downstream is deterministic arithmetic both engines share: assignment
# argmin over ||c||² − 2x·c with ties to the lower cid (the stable-
# argsort rule of similarity.nearest_cells_udf), intra-cluster pairs on
# RAW cosine ≥ 0.4 (the exact-dup collapse inside semdedup is output-
# identical to the all-pairs join replayed here — identical vectors
# share cluster and cosine 1), components = min reachable id via
# transitive closure, survivor = min (round(centroid_sim,6), id) per
# component — quality_survivors' rounded min_by rule. float64 parity:
# FLOAT[]→DOUBLE[] widening is exact in both engines; a flip would need
# two centroids (or two members' rounded csim) within ~1 ulp on the
# fixed corpus — verified green at sf0.001/sf0.01/sf0.1.
ORACLE_SEMDEDUP_FIXED = """
WITH RECURSIVE base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS c
  FROM (SELECT id, v FROM base ORDER BY id LIMIT 8)
),
scored AS (
  SELECT b.id, b.v, c.cid,
         list_dot_product(c.c, c.c) - 2 * list_dot_product(b.v, c.c) AS dist,
         list_dot_product(b.v, c.c) /
           (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(c.c, c.c))) AS csim
  FROM base b CROSS JOIN cent c
),
asg AS (
  SELECT id, v, cid, csim
  FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rn
        FROM scored)
  WHERE rn = 1
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM asg a JOIN asg b ON a.cid = b.cid AND a.id < b.id
  WHERE list_dot_product(a.v, b.v) /
        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
),
edges AS (SELECT id_a AS s, id_b AS t FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT s, t FROM edges
  UNION
  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
),
comp AS (
  SELECT a.id, least(a.id, coalesce(min(r.t), a.id)) AS component
  FROM asg a LEFT JOIN reach r ON r.s = a.id
  GROUP BY a.id
),
lab AS (
  SELECT asg.id, asg.cid::INT AS cluster, round(asg.csim, 6) AS centroid_sim,
         comp.component
  FROM asg JOIN comp USING (id)
),
win AS (
  SELECT id FROM (
    SELECT id,
           row_number() OVER (PARTITION BY component ORDER BY centroid_sim, id) AS rn
    FROM lab)
  WHERE rn = 1
)
SELECT lab.id, lab.cluster, lab.centroid_sim, lab.component
FROM lab JOIN win USING (id)
"""


@query("semdedup_fixed_embeddings", ORACLE_SEMDEDUP_FIXED)
def semdedup_fixed_embeddings(spark, sf_dir):
    """SemDeDup with a PINNED quantizer: identical dataflow to
    semdedup_embeddings (assignment → intra-cluster pairs → components
    → keep-the-outlier survivor), but the 8 centroids are the
    embeddings of the 8 smallest vec_ids instead of a trained K-Means —
    which makes the ENTIRE pipeline, survivor policy included,
    SQL-replayable (the trained variant's quantizer is the one stage no
    SQL engine can replay; this fixed twin closes that oracle gap the
    same way anomaly_sarima_fixed_validation flanks the AutoSarima
    analogue). Centroid collection is a bounded 8-row driver collect.
    ORACLE_SEMDEDUP_FIXED is the exact replay (wired in round 11)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    cents = np.asarray(
        [
            r.v
            for r in emb.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").cast("array<double>").alias("v"),
            )
            .orderBy("id")
            .limit(8)
            .collect()
        ],
        dtype=np.float64,
    )
    return similarity.semdedup(emb, threshold=0.4, centroids=cents).select(
        "id", "cluster", "centroid_sim", "component"
    )


def _kmeans_refine_oracle(k: int = 8, dim: int = 64, iterations: int = 2) -> str:
    """Exact replay of kmeans_refine_embeddings (wired in round 11). The Lloyd loop is
    unrolled into a CTE chain: assignment argmin over ||c||² − 2x·c
    with ties to the lower cid (nearest_cells_udf's stable argsort),
    means rounded to 6 HALF_UP inside the aggregation on BOTH engines
    (so the centroid matrices each iteration are bit-identical — see
    clustering.lloyd_refine's determinism contract), empty clusters
    keep their previous centroid via the LEFT JOIN coalesce."""
    legs = []
    prev = "c0"
    for i in range(iterations + 1):
        legs.append(f"""
d{i} AS (
  SELECT u.id, c.cid, sum(c.val * c.val) - 2 * sum(u.x * c.val) AS dist
  FROM u JOIN {prev} c ON u.pos = c.pos GROUP BY u.id, c.cid
),
a{i} AS (
  SELECT id, cid FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rn
    FROM d{i})
  WHERE rn = 1
)""")
        if i < iterations:
            legs.append(f"""
m{i + 1} AS (
  SELECT a{i}.cid, u.pos, round(avg(u.x), 6) AS val
  FROM a{i} JOIN u USING (id) GROUP BY a{i}.cid, u.pos
),
c{i + 1} AS (
  SELECT p.cid, p.pos, coalesce(m.val, p.val) AS val
  FROM {prev} p LEFT JOIN m{i + 1} m ON m.cid = p.cid AND m.pos = p.pos
)""")
            prev = f"c{i + 1}"
    return f"""
WITH base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
init AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS c
  FROM (SELECT id, v FROM base ORDER BY id LIMIT {k})
),
c0 AS (SELECT cid, t.pos - 1 AS pos, c[t.pos] AS val
       FROM init, generate_series(1, {dim}) t(pos)),
u AS (SELECT id, t.pos - 1 AS pos, v[t.pos] AS x
      FROM base, generate_series(1, {dim}) t(pos)),
{','.join(legs)}
SELECT id, cid::INT AS cluster FROM a{iterations}
"""


ORACLE_KMEANS_REFINE = _kmeans_refine_oracle()


def _bloom_contamination_oracle(m: int = 16384, n_hashes: int = 3) -> str:
    """Exact replay of bloom_contamination_documents (wired in round 11). The Bloom
    filter's false positives are part of the checked output: positions
    use the engine-portable md5(fp#i) scheme, the packed words are
    bit_or aggregates both engines compute identically, so hit/miss —
    collisions included — is deterministic on the fixed corpus."""
    w = membership.BITS_PER_WORD

    def pos(i: int) -> str:
        h = _hex2int_sql(f"md5(fp || '#{i}')", 1, 8)
        return f"({h} % {m})"

    bpos = " UNION ALL ".join(
        f"SELECT {pos(i)} AS pos FROM train" for i in range(n_hashes)
    )
    ppos = " UNION ALL ".join(
        f"SELECT doc_id, {pos(i)} AS pos FROM ev" for i in range(n_hashes)
    )
    return f"""
WITH t AS (SELECT doc_id,
                  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
           FROM documents),
train AS (SELECT fp FROM t WHERE doc_id % 4 <> 0),
ev AS (SELECT doc_id, fp FROM t WHERE doc_id % 4 = 0),
bpos AS ({bpos}),
build AS (SELECT pos // {w} AS bucket,
                 bit_or(1::BIGINT << (pos % {w})::INT) AS word
          FROM bpos GROUP BY 1),
ppos AS ({ppos}),
probed AS (
  SELECT p.doc_id,
         (b.word IS NOT NULL AND
          (b.word & (1::BIGINT << (p.pos % {w})::INT))
            = (1::BIGINT << (p.pos % {w})::INT)) AS bit_set
  FROM ppos p LEFT JOIN build b ON p.pos // {w} = b.bucket
)
SELECT doc_id, bool_and(bit_set) AS hit FROM probed GROUP BY doc_id
"""


ORACLE_BLOOM_CONTAMINATION = _bloom_contamination_oracle()


@query("bloom_contamination_documents", ORACLE_BLOOM_CONTAMINATION)
def bloom_contamination_documents(spark, sf_dir):
    """Bloom-filter contamination screen: build a 16384-bit packed-
    bitmap filter over the TRAIN corpus's normalized-text fingerprints
    (membership.bloom_build — one partial-aggregable bit_or groupBy,
    ≤ m/32 rows total), probe every EVAL doc (doc_id % 4 == 0) and
    flag hits. No false negatives by construction; the false-positive
    rate is the sized (1−e^(−kn/m))^k and the specific FP set is
    deterministic (portable md5 positions), so the oracle checks it
    bit-for-bit. The approximate, filter-sized counterpart of the
    exact contamination_documents n-gram gate. ORACLE_BLOOM_CONTAMINATION is the exact replay (wired in round 11)."""
    docs = _documents(spark, sf_dir).select(
        "doc_id", F.md5(text.normalize(F.col("text"))).alias("fp")
    )
    train = docs.where(F.col("doc_id") % 4 != 0)
    ev = docs.where(F.col("doc_id") % 4 == 0)
    flt = membership.bloom_build(train, "fp", m=16384, n_hashes=3)
    return membership.bloom_probe(flt, ev, "doc_id", "fp", m=16384, n_hashes=3)


def _bpe_chain_sql(n_merges: int = 16) -> str:
    """Shared CTE chain replaying tokenizer.bpe_train round by round:
    w{r} = the distinct-word symbol table after r merges, b{r} = round
    r's winning pair (count DESC, then (a, b) text — bpe_train's exact
    tie-break), dw{r} = the per-doc word table under the same merges.
    Every symbol is wrapped in its own delimiter pair (``·l··o··w·``),
    so merge sites never share a boundary character and ONE plain
    left-to-right replace (``·a··b· → ·ab·``) is exactly greedy BPE
    merge application — the same single pass the Spark side runs (the
    old shared-delimiter iterated replace skipped every second site in
    same-symbol runs ≥5, r10 advice). An empty winner (no pairs left)
    LEFT-JOINs through as a no-op round — matching bpe_train's early
    break."""

    def rep(col: str) -> str:
        pat = "'·' || a || '··' || b || '·'"
        out = "'·' || a || b || '·'"
        return f"replace({col}, {pat}, {out})"

    legs = [
        f"""
d AS ({_DOC_TOKENS}),
wcount AS (SELECT tok AS w, count(*) AS c
           FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok),
w0 AS (SELECT regexp_replace(w, '(.)', '·\\1·', 'g') AS seq, c FROM wcount),
dw0 AS (SELECT doc_id, regexp_replace(tok, '(.)', '·\\1·', 'g') AS seq
        FROM (SELECT doc_id, unnest(toks) AS tok FROM d))"""
    ]
    for r in range(1, n_merges + 1):
        p = r - 1
        legs.append(f"""
p{r} AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, sum(c) AS cnt
  FROM (SELECT syms, c, unnest(generate_series(1, len(syms) - 1)) AS i
        FROM (SELECT list_filter(string_split(seq, '·'), s -> s <> '') AS syms,
                     c FROM w{p}))
  GROUP BY 1, 2
),
b{r} AS MATERIALIZED (SELECT a, b FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
w{r} AS MATERIALIZED (SELECT coalesce({rep('seq')}, seq) AS seq, c
         FROM w{p} LEFT JOIN b{r} ON TRUE),
dw{r} AS MATERIALIZED (SELECT doc_id, coalesce({rep('seq')}, seq) AS seq
          FROM dw{p} LEFT JOIN b{r} ON TRUE)""")
    return ",".join(legs)


_BPE_N_MERGES = 16


def _bpe_merges_oracle() -> str:
    """Exact replay of bpe_merges_documents (wired in round 11)."""
    union = " UNION ALL ".join(
        f"SELECT {r}::INT AS rank, a AS lhs, b AS rhs FROM b{r}"
        for r in range(1, _BPE_N_MERGES + 1)
    )
    return f"WITH {_bpe_chain_sql(_BPE_N_MERGES)}\n{union}"


def _bpe_token_count_oracle() -> str:
    """Exact replay of bpe_token_count_documents (same chain; counts the
    symbols of every doc word under the final merge table)."""
    return f"""WITH {_bpe_chain_sql(_BPE_N_MERGES)}
SELECT doc_id,
       sum(len(list_filter(string_split(seq, '·'), s -> s <> '')))::BIGINT AS n_bpe
FROM dw{_BPE_N_MERGES} GROUP BY doc_id
"""


ORACLE_BPE_MERGES = _bpe_merges_oracle()
ORACLE_BPE_TOKEN_COUNT = _bpe_token_count_oracle()


@query("bpe_merges_documents", ORACLE_BPE_MERGES)
def bpe_merges_documents(spark, sf_dir):
    """LEARNED byte-pair-encoding merge table (tokenizer.bpe_train —
    Sennrich et al. 2016): 16 merge rounds over the DISTINCT-word
    frequency table (vocabulary-sized, never corpus-sized), each round
    one partial-aggregable pair-count groupBy + TakeOrdered(1) + a pure
    string-expression rewrite; the driver receives one row per round.
    Returns the ranked (rank, lhs, rhs) model. ORACLE_BPE_MERGES
    replays the whole training loop unrolled. Flanked by a pure-python
    reference parity pytest
    (tests/test_operators.py::test_bpe_train_matches_reference)."""
    merges = tokenizer.bpe_train(
        _documents(spark, sf_dir), n_merges=_BPE_N_MERGES
    )
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, lhs string, rhs string",
    )


@query("bpe_token_count_documents", ORACLE_BPE_TOKEN_COUNT)
def bpe_token_count_documents(spark, sf_dir):
    """Per-document token count under the LEARNED BPE table — the real
    'how many tokens will the tokenizer emit' number a training-data
    budget needs (text.bpe_ish_token_count is the fixed-regex
    approximation; this is the trained answer). Application is pure
    string expressions (whole-stage codegen, no UDF);
    ORACLE_BPE_TOKEN_COUNT is the exact unrolled replay."""
    docs = _documents(spark, sf_dir)
    merges = tokenizer.bpe_train(docs, n_merges=_BPE_N_MERGES)
    return tokenizer.bpe_token_count(docs, merges)


def _streaming_cms_oracle(depth: int = 4, width: int = 16) -> str:
    """Exact replay of streaming_cms_events (wired in round 11). Watermark (1 day)
    finalizes a daily bucket once max(ts) − 1 day passes its end —
    the same deterministic finalized-day rule as
    ORACLE_STREAM_SKETCH_ROLLUP — and CMS cells over those days add to
    the merged sketch the Spark side builds from the bucket rows."""

    def pos(src: str, r: int) -> str:
        h = _hex2int_sql(f"md5({src} || '#{r}')", 1, 8)
        return f"({h} % {width})"

    build_legs = " UNION ALL ".join(
        f"SELECT {r} AS row, {pos('tok', r)} AS pos FROM t" for r in range(depth)
    )
    probe_legs = " UNION ALL ".join(
        f"SELECT tok, {r} AS row, {pos('tok', r)} AS pos FROM probes"
        for r in range(depth)
    )
    return f"""
WITH mx AS (SELECT max(ts::TIMESTAMP) AS m FROM events),
e AS (SELECT date_trunc('day', ts::TIMESTAMP) AS d, event_type FROM events),
fin AS (SELECT DISTINCT d FROM e, mx WHERE d + INTERVAL 1 DAY <= m - INTERVAL 1 DAY),
t AS (SELECT event_type AS tok FROM e JOIN fin USING (d)),
cells AS (SELECT row, pos, count(*) AS cnt FROM ({build_legs}) GROUP BY row, pos),
probes AS (SELECT DISTINCT event_type AS tok FROM events),
pp AS ({probe_legs}),
est AS (
  SELECT pp.tok, min(coalesce(cells.cnt, 0)) AS est
  FROM pp LEFT JOIN cells USING (row, pos) GROUP BY pp.tok
)
SELECT tok AS event_type, est FROM est
"""


ORACLE_STREAMING_CMS = _streaming_cms_oracle()


@query("streaming_cms_events", ORACLE_STREAMING_CMS)
def streaming_cms_events(spark, sf_dir):
    """Continuous count-min sketching (streaming.cms_stream): the
    stream emits one finalized daily 4×16 CMS per bucket (append mode
    under the 1-day watermark, ≤ 64 rows/day at ANY volume); the
    bucket rows then MERGE into the all-time sketch (cells add —
    sketches.cms_merge) which answers point counts for every
    event_type without re-reading the stream — the count-twin of the
    streaming HLL rollup. ORACLE_STREAMING_CMS is the exact replay (wired in round 11)."""
    import uuid

    from thoth_spark.profiler.sketches import cms_estimate
    from thoth_spark.sources import load_events_stream
    from thoth_spark.streaming import cms_stream

    stream = load_events_stream(spark, sf_dir).select("ts", "event_type")
    daily = cms_stream(stream, "ts", "event_type", depth=4, width=16)
    name = f"stream_cms_{uuid.uuid4().hex[:8]}"
    q = (
        daily.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    merged = (
        spark.table(name)
        .groupBy("row", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )
    probes = _events(spark, sf_dir).select("event_type").distinct()
    return cms_estimate(merged, probes, "event_type", depth=4, width=16)


def _zorder_oracle(bits: int = 8) -> str:
    """Exact replay of zorder_key_events (wired in round 11). min/max are exact order
    statistics (no summation), the quantizer formula is written with
    identical operation order on both engines, and the interleave is
    pure integer bit arithmetic."""

    def q(src: str, mn: str, mx: str) -> str:
        return (
            f"least(floor(({src}::DOUBLE - {mn}) / ({mx} - {mn}) * {float(2**bits)})::BIGINT, "
            f"{2**bits - 1})"
        )

    terms = []
    for ci, col in enumerate(["qu", "qv"]):
        terms += [f"((({col} >> {i}) & 1) << {i * 2 + ci})" for i in range(bits)]
    return f"""
WITH s AS (
  SELECT min(user_id)::DOUBLE AS mnu, max(user_id)::DOUBLE AS mxu,
         min(value) AS mnv, max(value) AS mxv
  FROM events
),
g AS (
  SELECT event_id,
         {q('user_id', 's.mnu', 's.mxu')} AS qu,
         {q('value', 's.mnv', 's.mxv')} AS qv
  FROM events, s
)
SELECT event_id, ({' + '.join(terms)})::BIGINT AS zkey FROM g
"""


ORACLE_ZORDER = _zorder_oracle()


@query("zorder_key_events", ORACLE_ZORDER)
def zorder_key_events(spark, sf_dir):
    """Z-order layout keys (storage.minmax_quantize + storage.zorder_key):
    user_id and value quantized to the 256-cell grid by min/max scaling
    (two scalar aggregates), bits interleaved into one Morton key —
    pure JVM bit expressions. Sorting a write by this key keeps BOTH
    dimensions coarsely clustered so parquet min/max pruning skips row
    groups for predicates on either (the OPTIMIZE ZORDER layout
    primitive; see zorder_key's docstring for the write recipe).
    ORACLE_ZORDER is the exact replay (wired in round 11)."""
    from thoth_spark.operators import storage

    ev = _events(spark, sf_dir)
    mn = ev.agg(
        F.min("user_id").cast("double"),
        F.max("user_id").cast("double"),
        F.min("value"),
        F.max("value"),
    ).first()
    zk = storage.zorder_key(
        [
            storage.minmax_quantize(F.col("user_id"), mn[0], mn[1], bits=8),
            storage.minmax_quantize(F.col("value"), mn[2], mn[3], bits=8),
        ],
        bits=8,
    )
    return ev.select("event_id", zk.alias("zkey"))


def _cms_oracle(depth: int = 4, width: int = 16, top_n: int = 20) -> str:
    """Exact replay of cms_token_counts_documents (wired in round 11). The sketch
    CONTENT is deterministic: counter positions use the portable
    md5(tok#r) scheme, cells are integer counts, estimates are integer
    minima — the overcount column is the sketch's actual collision
    error on the fixed corpus, checked bit-for-bit."""

    def pos(src: str, r: int) -> str:
        h = _hex2int_sql(f"md5({src} || '#{r}')", 1, 8)
        return f"({h} % {width})"

    build_legs = " UNION ALL ".join(
        f"SELECT {r} AS row, {pos('tok', r)} AS pos FROM t" for r in range(depth)
    )
    probe_legs = " UNION ALL ".join(
        f"SELECT tok, {r} AS row, {pos('tok', r)} AS pos FROM probes"
        for r in range(depth)
    )
    return f"""
WITH d AS ({_DOC_TOKENS}),
t AS (SELECT unnest(toks) AS tok FROM d),
c AS (SELECT tok, count(*) AS true_cnt FROM t GROUP BY tok),
probes AS (SELECT tok, true_cnt FROM c ORDER BY true_cnt DESC, tok LIMIT {top_n}),
cells AS (SELECT row, pos, count(*) AS cnt FROM ({build_legs}) GROUP BY row, pos),
pp AS ({probe_legs}),
est AS (
  SELECT pp.tok, min(coalesce(cells.cnt, 0)) AS est
  FROM pp LEFT JOIN cells USING (row, pos) GROUP BY pp.tok
)
SELECT p.tok, e.est, p.true_cnt, e.est - p.true_cnt AS overcount
FROM probes p JOIN est e USING (tok)
"""


ORACLE_CMS_TOKENS = _cms_oracle()


@query("cms_token_counts_documents", ORACLE_CMS_TOKENS)
def cms_token_counts_documents(spark, sf_dir):
    """Count-min sketch point counts (profiler.sketches.cms_build /
    cms_estimate): a deliberately TINY 4×16-cell mergeable sketch
    (the fixture vocabulary is 31 tokens, so a production-sized width
    would never collide — 16 cells force the collision path)  over the corpus token
    stream — fixed size at ANY corpus size — probed with the top-20
    true tokens; output carries the estimate, the exact count, and the
    sketch's one-sided overcount (never negative — the CMS guarantee
    the pytest pins). ORACLE_CMS_TOKENS is the exact replay (wired in round 11)."""
    from thoth_spark.profiler import sketches

    toks = _documents(spark, sf_dir).select(
        F.explode(text.tokens(F.col("text"))).alias("tok")
    )
    sketch = sketches.cms_build(toks, "tok", depth=4, width=16)
    truec = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
    probes = truec.orderBy(F.col("true_cnt").desc(), F.col("tok")).limit(20)
    est = sketches.cms_estimate(sketch, probes, "tok", depth=4, width=16)
    return (
        probes.join(est, "tok")
        .select(
            "tok",
            "est",
            "true_cnt",
            (F.col("est") - F.col("true_cnt")).alias("overcount"),
        )
    )


def _vocabulary_oracle(top_n: int = 100) -> str:
    """Exact replay of vocabulary_documents (wired in round 11). Counts are integers,
    coverage arithmetic is exact-integer division rounded 6, rank ties
    break on token text — nothing engine-sensitive."""
    return f"""
WITH d AS ({_DOC_TOKENS}),
t AS (SELECT unnest(toks) AS tok FROM d),
c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
tot AS (SELECT sum(cnt)::DOUBLE AS n FROM c),
top AS (
  SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
  FROM c QUALIFY rank <= {top_n}
)
SELECT rank::INT AS rank, tok, cnt,
       round(sum(cnt::DOUBLE) OVER (ORDER BY rank) / (SELECT n FROM tot), 6) AS coverage
FROM top
"""


ORACLE_VOCABULARY = _vocabulary_oracle()


@query("vocabulary_documents", ORACLE_VOCABULARY)
def vocabulary_documents(spark, sf_dir):
    """Corpus vocabulary table (text.vocabulary): top-100 tokens with
    cumulative coverage share — one partial-aggregable token-count
    shuffle, TakeOrdered top-N (no global sort), running sum over the
    100 survivors. ORACLE_VOCABULARY is the exact replay (wired in round 11)."""
    return text.vocabulary(_documents(spark, sf_dir), top_n=100)


def _pq_adc_oracle(
    m: int = 8, d_sub: int = 8, n_codes: int = 16, k: int = 5
) -> str:
    """Exact replay of similarity_topk_pq (wired in round 11). The SEEDED codebooks
    (normalized subvectors of the 16 smallest-id vectors) make the
    whole PQ pipeline table-derivable: encode = per-subspace argmin
    ||x̂_s − c||² with ties to the lower code (pq_encode's stable
    argsort), ADC score = Σ_s q̂_s · codebook_s[code_s], ranking on the
    RAW score with the (score DESC, neighbor_id) tie-break — the
    brute_force_topk contract. A flip would need two codewords (or two
    neighbors' ADC scores) within ~1 ulp on the fixed corpus —
    verified at sf0.001/sf0.01/sf0.1."""
    return f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv FROM e),
cbsrc AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS code, nv
  FROM (SELECT id, nv FROM n ORDER BY id LIMIT {n_codes})
),
sub AS (SELECT id, s.s, nv[s.s * {d_sub} + 1 : s.s * {d_sub} + {d_sub}] AS xs
        FROM n, generate_series(0, {m - 1}) s(s)),
cb AS (SELECT code, s.s, nv[s.s * {d_sub} + 1 : s.s * {d_sub} + {d_sub}] AS cs
       FROM cbsrc, generate_series(0, {m - 1}) s(s)),
enc AS (
  SELECT id, s, code FROM (
    SELECT sub.id, sub.s, cb.code,
           row_number() OVER (
             PARTITION BY sub.id, sub.s
             ORDER BY list_dot_product(cb.cs, cb.cs)
                      - 2 * list_dot_product(sub.xs, cb.cs), cb.code) AS rn
    FROM sub JOIN cb USING (s))
  WHERE rn = 1
),
qs AS (SELECT id AS query_id, s, xs FROM sub WHERE id < 10),
adc AS (
  SELECT q.query_id, enc.id AS neighbor_id,
         sum(list_dot_product(q.xs, cb.cs)) AS score
  FROM qs q
  JOIN enc ON q.s = enc.s
  JOIN cb ON cb.s = enc.s AND cb.code = enc.code
  WHERE enc.id <> q.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, round(score, 6) AS adc_score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)::INT AS rank
FROM adc QUALIFY rank <= {k}
"""


ORACLE_PQ_ADC = _pq_adc_oracle()


@query("similarity_topk_pq", ORACLE_PQ_ADC)
def similarity_topk_pq(spark, sf_dir):
    """Product-quantization ANN, pure compressed domain: seeded
    codebooks (similarity.pq_codebooks_seeded — the replayable init),
    corpus encoded to 8 one-byte codes (similarity.pq_encode; the
    32-bytes-per-vector table you'd PERSIST at 100 TB), queries ranked
    by asymmetric-distance lookup sums over the CODES alone
    (similarity.pq_topk) — no float vector is touched after encode.
    ORACLE_PQ_ADC is the exact replay (wired in round 11)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebooks_seeded(emb, m_subspaces=8, n_codes=16)
    codes = similarity.pq_encode(emb, cb)
    return similarity.pq_topk(codes, emb.where(F.col("vec_id") < 10), cb, k=5)


@query("similarity_topk_pq_rerank_full", ORACLE_TOPK_EMB)
def similarity_topk_pq_rerank_full(spark, sf_dir):
    """The PQ dataflow (seeded codebooks, encode, ADC candidate scan)
    run at rerank_pool ≥ |corpus| with exact re-scoring: every corpus
    row survives the ADC stage, so the output equals exact brute force
    REGARDLESS of codebook quality — the recall=1.0 calibration twin,
    exactly the trick similarity_topk_ivf_fullprobe uses. Rows-only
    THIS round; wire to the existing ORACLE_TOPK_EMB in r11."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebooks_seeded(emb, m_subspaces=8, n_codes=16)
    codes = similarity.pq_encode(emb, cb)
    return similarity.pq_topk(
        codes,
        emb.where(F.col("vec_id") < 10),
        cb,
        k=5,
        rerank_with=emb,
        rerank_pool=1_000_000_000,
    )


#: Corpus-level mean recall@5 floor for the two TRAINED ANN gates below.
#: Measured means on the (adversarially random — ANN's hardest regime)
#: embeddings fixtures: pq_trained 0.44/0.60/0.30 and ivfpq
#: 0.46/0.50/0.36 at sf0.001/0.01/0.1 — the 0.1 floor sits 3× under the
#: worst observed mean. The floor is corpus-level, not per-query (unlike
#: _IVF_RECALL_FLOOR): at production compression a single query's whole
#: exact top-5 can legitimately miss (measured per-query minima hit 0.0),
#: so only the mean is an invariant of the dataflow.
_TRAINED_ANN_RECALL_FLOOR = 0.1

_ORACLE_TRAINED_ANN_RECALL = """
SELECT count(*)::BIGINT AS n_queries, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
"""


@query("similarity_topk_pq_trained", _ORACLE_TRAINED_ANN_RECALL)
def similarity_topk_pq_trained(spark, sf_dir):
    """Bounded recall gate for the PRODUCTION PQ setting: per-subspace
    Lloyd-trained codebooks on a bounded sample
    (similarity.train_pq_codebooks), ADC top-20 candidates, exact
    rerank to top-5 — scored as mean recall@5 over the 10 fixture
    queries against brute force, asserted >= _TRAINED_ANN_RECALL_FLOOR
    and hash-verified as (n_queries, recall_ok) — the bounds-oracle
    trick of similarity_topk_ivf_recall (the trained codebooks are not
    SQL-replayable; the floor is the invariant). The full top-k OUTPUT
    shape stays hash-verified by the seeded-codebook exact replay
    (similarity_topk_pq) and the rerank-full brute-equality twin, plus
    the pytest recall floor
    (tests/test_operators.py::test_pq_trained_recall_floor)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    cb = similarity.train_pq_codebooks(emb, m_subspaces=8, n_codes=16)
    codes = similarity.pq_encode(emb, cb)
    got = similarity.pq_topk(
        codes, q, cb, k=5, rerank_with=emb, rerank_pool=20
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    exact = similarity.brute_force_topk(emb, q, k=5).select(
        "query_id", "neighbor_id"
    )
    return (
        exact.join(got, ["query_id", "neighbor_id"], "left")
        .agg(
            F.count_distinct("query_id").alias("n_queries"),
            (
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                / F.count(F.lit(1))
                >= F.lit(_TRAINED_ANN_RECALL_FLOOR)
            ).alias("recall_ok"),
        )
    )


@query("similarity_topk_ivfpq", _ORACLE_TRAINED_ANN_RECALL)
def similarity_topk_ivfpq(spark, sf_dir):
    """Bounded recall gate for IVF-PQ — the production ANN shape at
    10⁹+ vectors (similarity.ivfpq_topk, residual=True — the full
    FAISS recipe: codes quantize x̂ − ĉ_cell and ADC adds the q̂·ĉ
    cell bias): K-Means cells route the scan to nprobe=5 of 8 cells,
    8-byte residual codes are ADC-scored inside them, the top-50
    rerank exactly. Scored as mean recall@5 vs brute force with the
    same floor/oracle shape as similarity_topk_pq_trained (two trained
    quantizers — not SQL-replayable; the floor is the invariant). The
    full top-k OUTPUT shape stays hash-verified by the fullprobe
    brute-equality twin below and the pytest recall floor
    (tests/test_operators.py::test_ivfpq_trained_recall_floor)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    got = similarity.ivfpq_topk(
        emb, q, k=5, n_centroids=8, nprobe=5, rerank_pool=50, residual=True
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    exact = similarity.brute_force_topk(emb, q, k=5).select(
        "query_id", "neighbor_id"
    )
    return (
        exact.join(got, ["query_id", "neighbor_id"], "left")
        .agg(
            F.count_distinct("query_id").alias("n_queries"),
            (
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                / F.count(F.lit(1))
                >= F.lit(_TRAINED_ANN_RECALL_FLOOR)
            ).alias("recall_ok"),
        )
    )


@query("similarity_topk_ivfpq_fullprobe", ORACLE_TOPK_EMB)
def similarity_topk_ivfpq_fullprobe(spark, sf_dir):
    """The ENTIRE IVF-PQ dataflow (cell assignment, PQ encode, probed
    ADC scan, exact rerank) at nprobe = n_centroids and an unbounded
    rerank pool: every row survives every stage, so the output equals
    exact brute force REGARDLESS of where either quantizer landed —
    the composite's recall=1.0 calibration twin, same trick as the IVF
    and PQ components' own fullprobe gates. Wired to the existing ORACLE_TOPK_EMB in round 11."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=5,
        n_centroids=8,
        nprobe=8,
        rerank_pool=1_000_000_000,
        residual=True,
    )


_IVFPQ_INDEX_DIRS: dict[str, str] = {}


def _ivfpq_index_dir(spark, sf_dir: str) -> str:
    """Per-process persisted IVF-PQ index (similarity.build_ivfpq_index,
    residual layout) keyed by sf_dir, removed at interpreter exit —
    ``<dir>/cells`` holds m 4-byte codes per vector partitionBy(cell),
    so a probed query reads nprobe/n_centroids of the corpus AND only
    codes for what it reads. Built once so the serving queries time the
    probe (the _ivf_index_dir pattern)."""
    import atexit
    import shutil
    import tempfile

    d = _IVFPQ_INDEX_DIRS.get(sf_dir)
    if d is None:
        d = tempfile.mkdtemp(prefix="thoth_ivfpqidx_")
        similarity.build_ivfpq_index(
            load_table(spark, sf_dir, "embeddings"),
            d,
            n_centroids=8,
            m_subspaces=8,
            n_codes=16,
            residual=True,
        )
        _IVFPQ_INDEX_DIRS[sf_dir] = d
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


@query("similarity_topk_ivfpq_index_fullprobe", ORACLE_TOPK_EMB)
def similarity_topk_ivfpq_index_fullprobe(spark, sf_dir):
    """The persisted IVF-PQ serving path (similarity.ivfpq_query_index —
    quantizer fetch, probe assignment, partition-pruned CODE scan, ADC
    ranking, exact rerank) at nprobe = n_centroids and an unbounded
    pool: every cell is read and every row survives the ADC stage, so
    the roundtrip equals exact brute force regardless of where either
    trained quantizer landed — hash-verifying that build_ivfpq_index's
    parquet layout (codes + centroids + codebooks + residual meta)
    loses nothing."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_query_index(
        spark,
        _ivfpq_index_dir(spark, sf_dir),
        emb.where(F.col("vec_id") < 10),
        rerank_corpus=emb,
        k=5,
        nprobe=8,
        rerank_pool=1_000_000_000,
    )


_IVFPQ_APPEND_DIRS: dict[str, str] = {}


def _ivfpq_append_dir(spark, sf_dir: str) -> str:
    """Per-process INCREMENTALLY-built IVF-PQ index: built on the even
    vec_ids, then the odds appended under the frozen quantizers
    (similarity.ivfpq_index_append) — the nightly-ingest shape the PQ
    index gains in r13, mirroring _ivf_append_dir."""
    import atexit
    import shutil
    import tempfile

    d = _IVFPQ_APPEND_DIRS.get(sf_dir)
    if d is None:
        d = tempfile.mkdtemp(prefix="thoth_ivfpqapp_")
        emb = load_table(spark, sf_dir, "embeddings")
        similarity.build_ivfpq_index(
            emb.where(F.col("vec_id") % 2 == 0), d, n_centroids=8,
            m_subspaces=8, n_codes=16,
        )
        similarity.ivfpq_index_append(
            spark, d, emb.where(F.col("vec_id") % 2 == 1)
        )
        _IVFPQ_APPEND_DIRS[sf_dir] = d
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


@query("similarity_topk_ivfpq_index_append_fullprobe", ORACLE_TOPK_EMB)
def similarity_topk_ivfpq_index_append_fullprobe(spark, sf_dir):
    """Incremental PQ-index maintenance hash gate (r13,
    similarity.ivfpq_index_append): the index is built on HALF the
    corpus and the other half appended under the frozen coarse+PQ
    quantizers; probed at nprobe = n_centroids with an unbounded rerank
    pool the union must equal exact brute force over the whole corpus —
    proving the append path encodes with exactly the builder's rule
    (residual flag included) and loses nothing to the partition-append,
    the same storage-roundtrip trick as the IVF append gate."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_query_index(
        spark,
        _ivfpq_append_dir(spark, sf_dir),
        emb.where(F.col("vec_id") < 10),
        rerank_corpus=emb,
        k=5,
        nprobe=8,
        rerank_pool=1_000_000_000,
    )


@query("similarity_topk_ivf_index_join_serve", ORACLE_TOPK_EMB)
def similarity_topk_ivf_index_join_serve(spark, sf_dir):
    """The JOIN-BASED persisted-index serve (r12 verdict #2: the last
    collect() scale hole): similarity.ivf_query_index_join keeps the
    query set a DataFrame end-to-end — cell assignment via the
    Arrow-batched centroid UDF, candidates from a salted equi-join
    queries×cells (de-skewing the n_centroids-key join), JVM-side
    cosine, per-query window cut; only centroids and the bounded
    probed-cell set ever reach the driver (plan-locked by
    tests/test_plans.py::test_ann_join_serve_query_side_stays_distributed).
    At nprobe = n_centroids the result equals exact brute force, so the
    dataflow hash-verifies against the same top-k oracle as the collect
    path — and a pytest pins join == collect at partial probe too."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_query_index_join(
        spark,
        _ivf_index_dir(spark, sf_dir),
        emb.where(F.col("vec_id") < 10),
        k=5,
        nprobe=8,
    )


@query("similarity_topk_ivfpq_index_join_serve", ORACLE_TOPK_EMB)
def similarity_topk_ivfpq_index_join_serve(spark, sf_dir):
    """The IVF-PQ join serve (similarity.ivfpq_query_index_join): probe
    sets from the one normalized _ivfpq_probe rule, candidates from the
    salted cell equi-join (the join IS the probe mask — no in-UDF isin
    over a collected query list), ADC in a vectorized pandas UDF with
    only the codebooks in the closure, exact rerank joining corpus and
    queries by key. Full probe + unbounded pool ⇒ equals exact brute
    force ⇒ hash-verifiable; the ANN-join workloads (dedup-by-ANN,
    corpus-vs-corpus retrieval) run this exact dataflow with a query
    TABLE instead of a probe batch."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_query_index_join(
        spark,
        _ivfpq_index_dir(spark, sf_dir),
        emb.where(F.col("vec_id") < 10),
        rerank_corpus=emb,
        k=5,
        nprobe=8,
        rerank_pool=1_000_000_000,
    )


@query("similarity_topk_ivfpq_index", _ORACLE_TRAINED_ANN_RECALL)
def similarity_topk_ivfpq_index(spark, sf_dir):
    """PRODUCTION persisted IVF-PQ serving: nprobe=5 of 8 cell
    partitions pruned at the file listing (PartitionFilters —
    plan-locked in tests/test_operators.py::test_ivfpq_index_roundtrip),
    residual ADC over the stored codes, top-50 exact rerank — the
    compounded read: nprobe/n_centroids of the corpus × m ints per
    row. Hash-gated as corpus-mean recall@5 >= 0.1 vs brute force
    (the similarity_topk_ivfpq recipe — same trained quantizers, same
    measured means 0.36-0.50); the layout itself is hash-verified
    exactly by the fullprobe twin above."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    got = similarity.ivfpq_query_index(
        spark,
        _ivfpq_index_dir(spark, sf_dir),
        q,
        rerank_corpus=emb,
        k=5,
        nprobe=5,
        rerank_pool=50,
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    exact = similarity.brute_force_topk(emb, q, k=5).select(
        "query_id", "neighbor_id"
    )
    return (
        exact.join(got, ["query_id", "neighbor_id"], "left")
        .agg(
            F.count_distinct("query_id").alias("n_queries"),
            (
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                / F.count(F.lit(1))
                >= F.lit(_TRAINED_ANN_RECALL_FLOOR)
            ).alias("recall_ok"),
        )
    )


_ORACLE_IVFPQ_SCALE_INVARIANCE = """
SELECT vec_id AS query_id, TRUE AS scale_ok
FROM embeddings WHERE vec_id < 10
"""


@query(
    "similarity_topk_ivfpq_index_scale_invariance",
    _ORACLE_IVFPQ_SCALE_INVARIANCE,
)
def similarity_topk_ivfpq_index_scale_invariance(spark, sf_dir):
    """Driver gate for the r11 HIGH advice fix: cosine serving is
    scale-invariant in the query, so the PRUNED persisted-index serve
    must return the same neighbors for per-row-scaled query vectors as
    for the originals. The pre-fix code assigned the partition-pruning
    probe set from RAW queries while the ADC stage masked to cells from
    NORMALIZED ones — the ||c||²−2q·c rule is not scale-invariant in q,
    so scaled queries could have rank-side cells pruned out of the scan
    and candidates silently dropped (a NULL side in the join below).
    Both probe sets now come from one helper (similarity._ivfpq_probe).
    Per query: scale_ok = identical neighbor set AND |Δcos_sim| ≤ 1e-6
    (the serve rounds to 6, and rescaled-float cosine can differ in the
    last ulp — set equality is the invariant, bit equality is pinned by
    the unit-norm twin queries)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select("vec_id", "embedding")
    scaled = q.withColumn(
        "embedding",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x * (F.col("vec_id") % 7 + 2),
        ),
    )
    d = _ivfpq_index_dir(spark, sf_dir)
    kw = dict(rerank_corpus=emb, k=5, nprobe=5, rerank_pool=50)
    unit = similarity.ivfpq_query_index(spark, d, q, **kw).select(
        "query_id", "neighbor_id", F.col("cos_sim").alias("cu")
    )
    sc = similarity.ivfpq_query_index(spark, d, scaled, **kw).select(
        "query_id", "neighbor_id", F.col("cos_sim").alias("cs")
    )
    joined = unit.join(sc, ["query_id", "neighbor_id"], "full")
    bad = (
        F.col("cu").isNull()
        | F.col("cs").isNull()
        | (F.abs(F.col("cu") - F.col("cs")) > F.lit(1e-6))
    )
    return joined.groupBy("query_id").agg(
        (F.sum(bad.cast("int")) == 0).alias("scale_ok")
    )


@query("kmeans_refine_embeddings", ORACLE_KMEANS_REFINE)
def kmeans_refine_embeddings(spark, sf_dir):
    """Full-corpus distributed K-Means refinement
    (clustering.lloyd_refine): two Lloyd iterations from the
    deterministic smallest-id seeding, final assignment against the
    refined centroids. Per iteration: one Arrow-batched
    nearest-centroid matmul pass + one partial-aggregable
    groupBy(cluster, pos) mean — the accountable, engine-replayable
    complement of the sample-trained coarse_centroids quantizer.
    ORACLE_KMEANS_REFINE is the exact replay (wired in round 11)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.lloyd_refine(emb, k=8, iterations=2)


_CHAR_BUDGET = 8000

ORACLE_TOKEN_BUDGET = f"""
WITH r AS (
  SELECT doc_id, n_chars, {_SAMPLE_BUCKET} AS bkt,
         (({_SAMPLE_BUCKET}) * 1024) // 1000000 AS rng
  FROM documents
),
per AS (SELECT rng, sum(n_chars) AS s FROM r GROUP BY rng),
starts AS (SELECT rng, sum(s) OVER (ORDER BY rng) - s AS strt FROM per),
fine AS (
  SELECT doc_id, rng,
         sum(n_chars) OVER (PARTITION BY rng ORDER BY bkt, doc_id) AS fc
  FROM r
)
SELECT doc_id FROM fine JOIN starts USING (rng) WHERE strt + fc <= {_CHAR_BUDGET}
"""


@query("sample_documents_token_budget", ORACLE_TOKEN_BUDGET)
def sample_documents_token_budget(spark, sf_dir):
    """First ~8000 chars of the hash-shuffled corpus — the 'fill a token
    budget' curation op, computed without a global single-partition
    window (coarse hash-range offsets + per-range cumulative sums)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.token_budget_sample(docs, "doc_id", "n_chars", _CHAR_BUDGET).select(
        "doc_id"
    )


ORACLE_TOKEN_COUNT = f"""
WITH d AS ({_DOC_TOKENS})
SELECT doc_id, len(toks)::INT AS ws_tokens,
       -- closed form of the lookaround split: every \\w+ run is one token,
       -- every non-word non-space char is its own token
       (len(regexp_extract_all(text, '\\w+'))
        + length(regexp_replace(text, '[\\w\\s]', '', 'g')))::INT AS bpe_ish_tokens
FROM d JOIN documents USING (doc_id)
"""


@query("token_count_documents", ORACLE_TOKEN_COUNT)
def token_count_documents(spark, sf_dir):
    """Whitespace + BPE-ish (word-runs + punctuation chars) token counts.
    The Spark side splits on word/non-word boundaries; the oracle uses the
    equivalent closed-form count (lookarounds aren't RE2-expressible)."""
    docs = _documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(text.tokens(F.col("text"))).alias("ws_tokens"),
        text.bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"),
    )


ORACLE_FRAME_SAMPLE = """
WITH f AS (
  SELECT doc_id, text,
         unnest(range(0, least(1 + octet_length(text::BLOB) // 10, 8))) AS i
  FROM documents
)
SELECT doc_id, i::INT AS frame_idx, md5(text || i::VARCHAR) AS frame_md5 FROM f
"""


@query("multimodal_frame_sample", ORACLE_FRAME_SAMPLE)
def multimodal_frame_sample(spark, sf_dir):
    """1→N frame-sampling shape over binary media (mapInPandas explode;
    deterministic stub frames — decode libs aren't bundled)."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    frames = multimodal.frame_sample_stub(multimodal.attach_binary(docs, "text"))
    return frames.select("doc_id", "frame_idx", "frame_md5")


# Exact-replay oracle for multimodal_phash_neardup (wired in round
# 11). Why the replay is exact:
# the textured synth derives each image's pixel stream from the
# NORMALIZED text, so planted case/whitespace variants are byte-identical
# images (hamming 0) and distinct texts are independent 64-bit dHashes —
# a false pair within hamming 3 has probability ~C(64,≤3)/2^64 ≈ 2e-15
# per pair, nil over the ~1.7e5 pairs at any test SF (and the data is
# fixed, so the check is deterministic, verified at sf0.01/sf0.1).
ORACLE_PHASH_NEARDUP = r"""
WITH c AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, '  ' || replace(upper(text), ' ', '  ') || ' '
  FROM documents WHERE doc_id % 25 = 0
),
fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
  FROM c
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0::INT AS hamming
FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
"""


@query("multimodal_phash_neardup", ORACLE_PHASH_NEARDUP)
def multimodal_phash_neardup(spark, sf_dir):
    """Image near-duplicate pairs via perceptual dHash (Krawetz aHash/
    dHash, the LAION-scale image-dedup fingerprints) within Hamming
    distance 3, candidates by the Manku block-permutation scheme reused
    verbatim from the SimHash text path (dedup.simhash_near_dup_pairs on
    the image_phash frame — never a cartesian). The corpus carries no
    image files, so a deterministic textured PGM is synthesized per doc
    from its normalized text (multimodal.synth_ppm_textured) and a
    variant slice (case+whitespace mutations of every 25th doc) is
    planted — those normalize identically, so their images are
    byte-equal and the pipeline must recover exactly that pair set.
    ORACLE_PHASH_NEARDUP is the exact replay (wired in round 11)."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    variants = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat(
            F.lit("  "),
            F.regexp_replace(F.upper("text"), " ", "  "),
            F.lit(" "),
        ).alias("text"),
    )
    corpus = docs.unionByName(variants)
    pairs = multimodal.image_near_dup_pairs(
        multimodal.synth_ppm_textured(corpus), max_hamming=3
    )
    return pairs.select("id_a", "id_b", "hamming")


# Exact-replay oracle for multimodal_audio_neardup (wired in round 11). Exactness: synth_wav_textured derives the PCM stream
# from the NORMALIZED text, so the planted variants are byte-identical
# WAVs (fingerprint distance 0); distinct texts yield ~independent
# median-split signatures, and a false pair within hamming 3 is
# ~C(64,≤3)/C(64,32) ≈ 2.4e-14 per pair on the fixed corpus.
ORACLE_AUDIO_NEARDUP = r"""
WITH c AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, ' ' || upper(text) || '  '
  FROM documents WHERE doc_id % 25 = 3
),
fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
  FROM c
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0::INT AS hamming
FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
"""


@query("multimodal_audio_neardup", ORACLE_AUDIO_NEARDUP)
def multimodal_audio_neardup(spark, sf_dir):
    """Audio near-duplicate pairs via the 64-window energy-envelope
    fingerprint (median-relative RMS bits — gain-invariant) within
    Hamming distance 3; candidates via the SAME Manku block-permutation
    banding as text SimHash and image pHash (one shared engine, three
    modalities). Deterministic WAVs are synthesized per doc from its
    normalized text (multimodal.synth_wav_textured) with a planted
    case/whitespace variant slice — the pipeline must recover exactly
    those pairs. ORACLE_AUDIO_NEARDUP is the exact replay (wired in round 11)."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    variants = docs.where(F.col("doc_id") % 25 == 3).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat(F.lit(" "), F.upper("text"), F.lit("  ")).alias("text"),
    )
    corpus = docs.unionByName(variants)
    pairs = multimodal.audio_near_dup_pairs(
        multimodal.synth_wav_textured(corpus), max_hamming=3
    )
    return pairs.select("id_a", "id_b", "hamming")


# Exact-replay oracle for multimodal_video_neardup (wired in round 11). Replay logic: a frame's perceptual hash is a pure
# function of its chunk's normalized word-slice, so frame identity ↔
# chunk-text md5 identity; the SQL rebuilds the word→chunk assignment
# with the SAME closed-form boundary (word i → chunk i*8//n_words),
# applies the SAME hot-frame cap (chunk-md5 present in > 50 videos),
# and counts distinct shared chunk-md5s per pair.
ORACLE_VIDEO_NEARDUP = r"""
WITH c AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         regexp_replace(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                        '^[^ ]+', 'zzzqqq')
  FROM documents WHERE doc_id % 25 = 7
),
wl AS (SELECT doc_id, str_split(t, ' ') AS words FROM c),
w AS (
  SELECT doc_id, words, unnest(range(0, len(words))) AS wi FROM wl
),
chunks AS (
  SELECT doc_id, (wi * 8) // len(words) AS fi,
         md5(string_agg(words[wi + 1], ' ' ORDER BY wi)) AS h
  FROM w GROUP BY doc_id, (wi * 8) // len(words)
),
posting AS (SELECT DISTINCT doc_id, h FROM chunks),
hot AS (SELECT h FROM posting GROUP BY h HAVING count(*) > 50),
cold AS (SELECT * FROM posting WHERE h NOT IN (SELECT h FROM hot))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_frames
FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 6
"""


@query("multimodal_video_neardup", ORACLE_VIDEO_NEARDUP)
def multimodal_video_neardup(spark, sf_dir):
    """Video near-duplicate pairs: videos sharing >= 6 distinct
    per-frame perceptual-hash values (frame-fingerprint inverted index
    with a hot-frame drop — the visual twin of the hot-shingle-capped
    n-gram Jaccard join). Videos are synthesized deterministically as
    8-chunk frame sequences of each doc's normalized text
    (multimodal.synth_video_frames); a planted variant slice mutates
    ONLY the first word, so exactly one frame changes and the variant
    pair must surface with shared_frames counting its unchanged chunks.
    ORACLE_VIDEO_NEARDUP is the exact replay (wired in round 11)."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    variants = docs.where(F.col("doc_id") % 25 == 7).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.regexp_replace(
            F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "),
            r"^[^ ]+",
            "zzzqqq",
        ).alias("text"),
    )
    corpus = docs.unionByName(variants)
    frames = multimodal.synth_video_frames(corpus, n_frames=8)
    pairs = multimodal.video_near_dup_pairs(
        frames, min_shared=6, hot_frame_cap=50
    )
    return pairs.select(
        "id_a", "id_b", F.col("shared_frames").cast("long").alias("shared_frames")
    )


# Exact-replay oracle for knn_classify_embeddings (wired in round 11). The operator's neighbor order (cos DESC, seed id ASC)
# and vote tie-break (votes DESC, label ASC) are chosen precisely so a
# SQL engine can replay them; the numpy-vs-DuckDB float agreement on
# cosine ranking has precedent in the hash-green
# similarity_topk_vectorized (same data, same metric).
ORACLE_KNN_CLASSIFY = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
s AS (SELECT * FROM e WHERE vec_id % 5 = 0),
u AS (SELECT * FROM e WHERE vec_id % 5 <> 0),
scored AS (
  SELECT u.vec_id AS vec_id, s.vec_id AS sid, s.label AS slab,
         list_dot_product(u.v, s.v) /
         (sqrt(list_dot_product(u.v, u.v)) * sqrt(list_dot_product(s.v, s.v))) AS cos
  FROM u CROSS JOIN s WHERE s.vec_id != u.vec_id
),
nn AS (
  SELECT vec_id, slab,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, sid) AS rnk
  FROM scored QUALIFY rnk <= 5
),
votes AS (
  SELECT vec_id, slab, count(*) AS n FROM nn GROUP BY vec_id, slab
)
SELECT vec_id, slab::INT AS pred_label, n::INT AS votes
FROM votes
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY n DESC, slab) = 1
"""


@query("knn_classify_embeddings", ORACLE_KNN_CLASSIFY)
def knn_classify_embeddings(spark, sf_dir):
    """k-NN label propagation over the embeddings table: every 5th
    vector keeps its label as the seed set; the rest take the majority
    label of their 5 nearest seeds by cosine (similarity.knn_classify —
    seed matrix in a pandas-UDF closure, ONE narrow corpus pass, zero
    shuffles, plan-locked). Deterministic tie-breaks make the result an
    exact SQL replay. ORACLE_KNN_CLASSIFY is the exact replay (wired in round 11)."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.where(F.col("vec_id") % 5 == 0)
    rest = emb.where(F.col("vec_id") % 5 != 0)
    out = similarity.knn_classify(seeds, rest, k=5)
    return out.select(F.col("id").alias("vec_id"), "pred_label", "votes")


# Exact-replay oracle for winnow_fingerprints_documents (wired in
# round 11). The replay
# rebuilds the same 32-bit gram hashes (md5 first-8-hex, the portable
# _hex2int_sql digit sum) and the same window-min selection with
# first-position ties — list_min/list_position in DuckDB mirror
# array_min/array_position in Spark exactly.
ORACLE_WINNOW_FP = f"""
WITH d AS (
  SELECT doc_id,
         str_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
dk AS (SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) >= 5),
g AS (SELECT doc_id, t, n, unnest(range(1, n - 5 + 2)) AS i FROM dk),
h AS (
  SELECT doc_id, i,
         {_hex2int_sql("md5(array_to_string(t[i : i + 4], ' '))", 1, 8)}::BIGINT AS hv
  FROM g
),
hh AS (SELECT doc_id, list(hv ORDER BY i) AS harr FROM h GROUP BY doc_id),
w AS (
  SELECT doc_id, harr,
         unnest(range(1, greatest(1, len(harr) - 4 + 1) + 1)) AS s
  FROM hh
),
sel AS (
  SELECT doc_id,
         (s + list_position(harr[s : s + 3], list_min(harr[s : s + 3])) - 1)::INT AS pos,
         list_min(harr[s : s + 3])::BIGINT AS fp
  FROM w
)
SELECT DISTINCT doc_id, pos, fp FROM sel
"""


@query("winnow_fingerprints_documents", ORACLE_WINNOW_FP)
def winnow_fingerprints_documents(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken
    SIGMOD'03, the MOSS algorithm): 5-gram rolling hashes, window-4
    minimum selection, position-aware ``(doc_id, pos, fp)`` output with
    the winnowing guarantee (any shared 8-token run yields a shared
    fingerprint). Pure column expressions (text.winnow_fingerprints);
    the companion text.winnow_overlap_pairs turns the frame into MOSS
    plagiarism pairs via the posting-list join (pytest-pinned). Rows-only
    THIS round; ORACLE_WINNOW_FP above is the exact replay to wire in
    r11."""
    docs = _documents(spark, sf_dir)
    out = text.winnow_fingerprints(docs, "doc_id", "text", k=5, window=4)
    return out.select(F.col("id").alias("doc_id"), "pos", "fp")


def _semantic_decontaminate_oracle(nbits: int = 6, threshold: float = 0.4) -> str:
    """Exact replay of decontaminate_embeddings_semantic (wired in
    round 11): the seeded
    hyperplanes become SQL literals via the same `_sig_sql` trick as the
    hash-green embedding_neardup_lsh oracle; probes explode on the
    train side only, flagged train ids anti-join back."""
    from thoth_spark.operators.similarity import _hyperplanes

    sig = _sig_sql("v", _hyperplanes(64, nbits, seed=42))
    probe_legs = [f"SELECT id, v, {sig} AS bucket FROM train"] + [
        f"SELECT id, v, xor({sig}::BIGINT, {2**f})::BIGINT AS bucket FROM train"
        for f in range(nbits)
    ]
    return f"""
WITH base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
train AS (SELECT * FROM base WHERE id % 4 <> 0),
ev AS (SELECT id, v, {sig} AS bucket FROM base WHERE id % 4 = 0),
a AS ({' UNION ALL '.join(probe_legs)}),
flagged AS (
  SELECT DISTINCT a.id
  FROM a JOIN ev USING (bucket)
  WHERE round(list_dot_product(a.v, ev.v) /
        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(ev.v, ev.v))), 6)
        >= {threshold}
)
SELECT id AS vec_id FROM train WHERE id NOT IN (SELECT id FROM flagged)
"""


ORACLE_SEMANTIC_DECONTAMINATE = _semantic_decontaminate_oracle()


@query("decontaminate_embeddings_semantic", ORACLE_SEMANTIC_DECONTAMINATE)
def decontaminate_embeddings_semantic(spark, sf_dir):
    """Embedding-level benchmark decontamination: treat every 4th vector
    as the eval set and drop training vectors with cosine ≥ 0.4 to any
    eval vector (similarity.semantic_decontaminate — hyperplane-bucketed
    cross-corpus candidates with 1-bit-flip probes on the train side
    only; the eval set never cross-joins the corpus). The semantic twin
    of the hash-green n-gram `contamination_documents` gate;
    ORACLE_SEMANTIC_DECONTAMINATE is the exact replay (wired in round
    11)."""
    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.where(F.col("vec_id") % 4 != 0)
    ev = emb.where(F.col("vec_id") % 4 == 0)
    out = similarity.semantic_decontaminate(
        train, ev, threshold=0.4, nbits=6, dim=64
    )
    return out.select("vec_id")


ORACLE_MINHASH_SURVIVORS = f"""
WITH {_DOC_SHINGLES},
{_MINHASH_SIG_SQL},
banded AS (
  SELECT doc_id, b, md5(list_aggregate(sg[b * 4 + 1 : b * 4 + 4], 'string_agg', '|')) AS bh
  FROM sig CROSS JOIN generate_series(0, 7) t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (b, bh) WHERE a.doc_id < b.doc_id
),
losers AS (
  SELECT DISTINCT id_b
  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
  WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE /
        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8
)
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id_b FROM losers)
"""


@query("dedup_minhash_survivors", ORACLE_MINHASH_SURVIVORS)
def dedup_minhash_survivors(spark, sf_dir):
    """End-to-end near-dup dedup: LSH candidates → verify → min-id
    survivor policy (a doc is dropped iff a similar doc with smaller id
    exists)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_dedup(docs, "doc_id", "text", threshold=0.8).select("doc_id")


ORACLE_STREAM_WM = """
WITH e AS (SELECT date_trunc('day', ts::TIMESTAMP) AS d, * FROM events),
wm AS (SELECT max(ts::TIMESTAMP) - INTERVAL 1 DAY AS w FROM events),
m AS (
  SELECT d, 'Dataset' AS entity, '*' AS instance, 'Size' AS name, count(*)::DOUBLE AS value
  FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'value', 'Mean', avg(value) FROM e GROUP BY d
)
SELECT d::DATE AS ts, entity, instance, name, round(value, 6) AS value
FROM m, wm WHERE d + INTERVAL 1 DAY <= wm.w
"""


@query("streaming_watermark_profile_events", ORACLE_STREAM_WM)
def streaming_watermark_profile_events(spark, sf_dir):
    """Watermarked APPEND-mode streaming profiling: late rows within the
    watermark fold into their day bucket; finalized buckets emit exactly
    once. Rows-only (watermark finalization isn't SQL-expressible)."""
    import uuid

    from thoth_spark.profiler import Mean
    from thoth_spark.sources import load_events_stream
    from thoth_spark.streaming import profile_stream

    stream = load_events_stream(spark, sf_dir).select("ts", "value")
    metrics = profile_stream(
        stream, "ts", ProfilingBuilder(analyzers=[Mean("value"), Size()])
    )
    name = f"stream_wm_{uuid.uuid4().hex[:8]}"
    q = metrics.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name).select(
        F.col("ts").cast("date").alias("ts"),
        "entity",
        "instance",
        "name",
        F.round("value", 6).alias("value"),
    )


ORACLE_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type, date_trunc('day', ts)::DATE AS d FROM events
"""


@query("streaming_dedup_events", ORACLE_STREAM_DEDUP)
def streaming_dedup_events(spark, sf_dir):
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps one event per
    (user, type, day) and expires a key's state once the watermark
    passes it — the streaming twin of dedup_exact_events, and the only
    way exact dedup survives an unbounded stream (state size tracks the
    watermark horizon, not the stream length). Output is restricted to
    the key columns, so the arrival-order-dependent survivor choice
    can't affect the result. DISTINCT parity holds only while no key
    recurs later than the watermark delay after its first sighting —
    after expiry the key is legitimately re-emitted — so the delay here
    (90 days) deliberately exceeds the fixture's ~30-day span rather
    than relying on the whole file draining in one micro-batch."""
    import uuid

    from thoth_spark.sources import load_events_stream

    deduped = (
        load_events_stream(spark, sf_dir)
        .withColumn("d", F.date_trunc("day", "ts"))
        .withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "d"])
        .select("user_id", "event_type", F.col("d").cast("date").alias("d"))
    )
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


#: the stateful scorer's semantics are a plain rolling window once the
#: whole stream is drained: pred_i = mean(previous ≤7 values) per metric
ORACLE_RUNNING_SCORE = """
WITH series AS (
  SELECT 'Column' AS entity, 'value' AS instance, 'Mean' AS name,
         date_trunc('day', ts) AS ts, avg(value) AS value FROM events GROUP BY 4
  UNION ALL SELECT 'Dataset', '*', 'Size', date_trunc('day', ts), count(*)::DOUBLE FROM events GROUP BY 4
  UNION ALL SELECT 'Column', 'event_type', 'CountDistinct', date_trunc('day', ts),
         count(DISTINCT event_type)::DOUBLE FROM events GROUP BY 4
),
w AS (
  SELECT *, avg(value) OVER (PARTITION BY entity, instance, name ORDER BY ts
                             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS pred
  FROM series
)
SELECT entity, instance, name, ts::DATE AS ts, round(value, 6) AS value,
       round(pred, 6) AS predicted,
       round(CASE WHEN pred IS NOT NULL AND value != 0
                  THEN least(abs(value - pred) / value, 1.0) END, 6) AS error
FROM w
"""


@query("streaming_running_score", ORACLE_RUNNING_SCORE)
def streaming_running_score(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-metric rolling-mean forecast state scores each arriving metric
    point incrementally; once the stream drains, the result equals a
    rolling-window pass, which the oracle replays."""
    import tempfile
    import uuid

    from thoth_spark.streaming import running_score_stream

    metrics = _metric_series(spark, sf_dir).select(*KEY, "ts", "value")
    d = _scratch_dir("thoth_stream_")
    metrics.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(metrics.schema).parquet(d)
    name = f"stream_score_{uuid.uuid4().hex[:8]}"
    q = (
        running_score_stream(stream, window=7)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name).select(
        *KEY,
        F.col("ts").cast("date").alias("ts"),
        F.round("value", 6).alias("value"),
        F.round("predicted", 6).alias("predicted"),
        F.round("error", 6).alias("error"),
    )


@query("streaming_sessionize_events", ORACLE_SESSIONIZE)
def streaming_sessionize_events(spark, sf_dir):
    """Per-event session ids assigned CONTINUOUSLY (round 5,
    applyInPandasWithState: state = last event time + session index per
    user, O(1) per key): the events arrive as three time-ordered file
    slices (maxFilesPerTrigger=1), so sessions genuinely span
    micro-batch boundaries; once drained, the per-session rollup equals
    the batch sessionize oracle bit-for-bit."""
    import uuid

    from thoth_spark.streaming import sessionize_stream

    events = _events(spark, sf_dir).select("user_id", "event_id", "ts")
    d = _scratch_dir("thoth_sess_")
    for lo, hi in [(None, "2024-01-11"), ("2024-01-11", "2024-01-21"), ("2024-01-21", None)]:
        s = events
        if lo:
            s = s.where(F.col("ts") >= F.lit(lo).cast("timestamp"))
        if hi:
            s = s.where(F.col("ts") < F.lit(hi).cast("timestamp"))
        s.coalesce(1).write.mode("append").parquet(d)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    name = f"stream_sess_{uuid.uuid4().hex[:8]}"
    q = (
        sessionize_stream(stream, ("user_id",), "ts", 3600, ("event_id",))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return (
        spark.table(name)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


ORACLE_STREAM_COMPLETE = """
WITH e AS (SELECT date_trunc('day', ts::TIMESTAMP) AS d, * FROM events)
SELECT d::DATE AS ts, entity, instance, name, round(value, 6) AS value FROM (
  SELECT d, 'Dataset' AS entity, '*' AS instance, 'Size' AS name, count(*)::DOUBLE AS value
  FROM e GROUP BY d
  UNION ALL SELECT d, 'Column', 'value', 'Mean', avg(value) FROM e GROUP BY d
) t
"""


@query("streaming_profile_events", ORACLE_STREAM_COMPLETE)
def streaming_profile_events(spark, sf_dir):
    """The SAME profiling aggregation executed as a Structured Streaming
    query (parquet source → complete-mode agg → memory sink), proving the
    profiler is a pure DF→DF function usable under foreachBatch/streams;
    complete-mode output after processAllAvailable equals the batch
    aggregation, so it oracle-checks like any batch query."""
    import uuid

    from thoth_spark.profiler import Mean
    from thoth_spark.sources import load_events_stream

    stream = load_events_stream(spark, sf_dir)
    metrics = profile(
        stream.select("ts", "value"), "ts", ProfilingBuilder(analyzers=[Mean("value"), Size()])
    )
    name = f"stream_profile_{uuid.uuid4().hex[:8]}"
    q = (
        metrics.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name).select(
        F.col("ts").cast("date").alias("ts"),
        "entity",
        "instance",
        "name",
        F.round("value", 6).alias("value"),
    )


# Watermark (1 day) finalizes a daily bucket once max(ts) - 1 day passes
# its end, so the finalized-day set is a deterministic function of the
# data — the oracle reproduces it and rolls those days up to weeks.
ORACLE_STREAM_SKETCH_ROLLUP = """
WITH mx AS (SELECT max(ts::TIMESTAMP) AS m FROM events),
e AS (SELECT date_trunc('day', ts::TIMESTAMP) AS d, * FROM events),
fin AS (
  SELECT DISTINCT d FROM e, mx WHERE d + INTERVAL 1 DAY <= m - INTERVAL 1 DAY
)
SELECT date_trunc('week', d)::DATE AS ts, count(*) AS row_count,
       count(DISTINCT event_type) AS approx_distinct_event_type
FROM e JOIN fin USING (d) GROUP BY 1
"""


@query("streaming_sketch_rollup_events", ORACLE_STREAM_SKETCH_ROLLUP)
def streaming_sketch_rollup_events(spark, sf_dir):
    """Continuous mergeable-sketch profiling: the stream emits one
    finalized daily HLL-sketch row per bucket (append mode, KBs each);
    the weekly rollup then merges SKETCH BYTES only — the raw stream is
    read exactly once, ever, and any future granularity is a
    metadata-scale merge. Estimates are exact at fixture cardinality, so
    the result hash-matches the exact DISTINCT oracle restricted to the
    watermark-finalized days."""
    import uuid

    from thoth_spark.profiler.sketches import rollup_sketches
    from thoth_spark.sources import load_events_stream
    from thoth_spark.streaming import sketch_profile_stream

    stream = load_events_stream(spark, sf_dir).select("ts", "event_type")
    daily = sketch_profile_stream(
        stream, "ts", distinct_cols=["event_type"], watermark_delay="1 day"
    )
    name = f"stream_sketch_{uuid.uuid4().hex[:8]}"
    q = (
        daily.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    weekly = rollup_sketches(spark.table(name), "week")
    return weekly.select(
        F.col("ts").cast("date").alias("ts"),
        "row_count",
        "approx_distinct_event_type",
    )


# --- distribution drift: per-day PSI vs a frozen reference window

ORACLE_PSI_DRIFT = """
WITH clean AS (
  SELECT ts::TIMESTAMP AS ts, value FROM events WHERE value IS NOT NULL
),
ref AS (SELECT value FROM clean WHERE ts < TIMESTAMP '2024-01-08'),
ed AS (
  SELECT list_transform(
           quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
           x -> round(x, 6)) AS edges
  FROM ref
),
refb AS (
  SELECT len(list_filter(ed.edges, x -> value > x)) AS b, count(*) AS rc
  FROM ref CROSS JOIN ed GROUP BY 1
),
rn AS (SELECT CAST(sum(rc) AS DOUBLE) AS rn FROM refb),
cur AS (
  SELECT date_trunc('day', ts) AS d,
         len(list_filter(ed.edges, x -> value > x)) AS b
  FROM clean CROSS JOIN ed WHERE ts >= TIMESTAMP '2024-01-08'
),
dayb AS (SELECT d, b, count(*) AS c FROM cur GROUP BY 1, 2),
dayn AS (SELECT d, CAST(sum(c) AS BIGINT) AS n FROM dayb GROUP BY 1),
grid AS (
  SELECT days.d, gs.b
  FROM (SELECT DISTINCT d FROM dayb) days
  CROSS JOIN (SELECT unnest(range(10)) AS b) gs
),
terms AS (
  SELECT g.d,
         (coalesce(dayb.c, 0) + 0.5) / (dayn.n + 5.0) AS p,
         (coalesce(refb.rc, 0) + 0.5) / (rn.rn + 5.0) AS q,
         dayn.n AS n
  FROM grid g
  LEFT JOIN dayb ON g.d = dayb.d AND g.b = dayb.b
  LEFT JOIN refb ON g.b = refb.b
  JOIN dayn ON g.d = dayn.d
  CROSS JOIN rn
)
SELECT d::TIMESTAMP AS d, n, round(sum((p - q) * ln(p / q)), 6) AS psi
FROM terms GROUP BY 1, 2
"""


_KS_BINS = 20
_KS_PROBS = ",".join(repr(i / _KS_BINS) for i in range(1, _KS_BINS))

ORACLE_KS_DRIFT = f"""
WITH clean AS (
  SELECT ts::TIMESTAMP AS ts, value FROM events WHERE value IS NOT NULL
),
ref AS (SELECT value FROM clean WHERE ts < TIMESTAMP '2024-01-08'),
ed AS (
  SELECT list_transform(
           quantile_cont(value, [{_KS_PROBS}]),
           x -> round(x, 6)) AS edges
  FROM ref
),
refb AS (
  SELECT len(list_filter(ed.edges, x -> value > x)) AS b, count(*) AS rc
  FROM ref CROSS JOIN ed GROUP BY 1
),
rn AS (SELECT CAST(sum(rc) AS DOUBLE) AS rn FROM refb),
cur AS (
  SELECT date_trunc('day', ts) AS d,
         len(list_filter(ed.edges, x -> value > x)) AS b
  FROM clean CROSS JOIN ed WHERE ts >= TIMESTAMP '2024-01-08'
),
dayb AS (SELECT d, b, count(*) AS c FROM cur GROUP BY 1, 2),
dayn AS (SELECT d, CAST(sum(c) AS DOUBLE) AS n FROM dayb GROUP BY 1),
grid AS (
  SELECT days.d, gs.b
  FROM (SELECT DISTINCT d FROM dayb) days
  CROSS JOIN (SELECT unnest(range({_KS_BINS})) AS b) gs
),
cdf AS (
  SELECT g.d, g.b,
         sum(coalesce(dayb.c, 0)::DOUBLE) OVER (PARTITION BY g.d ORDER BY g.b) AS cum_c,
         sum(coalesce(refb.rc, 0)::DOUBLE) OVER (PARTITION BY g.d ORDER BY g.b) AS cum_rc,
         dayn.n, rn.rn
  FROM grid g
  LEFT JOIN dayb ON g.d = dayb.d AND g.b = dayb.b
  LEFT JOIN refb ON g.b = refb.b
  JOIN dayn ON g.d = dayn.d
  CROSS JOIN rn
)
SELECT d::TIMESTAMP AS d, CAST(n AS BIGINT) AS n,
       round(max(CASE WHEN b < {_KS_BINS - 1} THEN abs(cum_c / n - cum_rc / rn) END), 6) AS ks,
       CASE WHEN max(CASE WHEN b < {_KS_BINS - 1} THEN abs(cum_c / n - cum_rc / rn) END)
            > max(1.358 * sqrt((n + rn) / (n * rn))) THEN 1 ELSE 0 END AS ks_alarm
FROM cdf GROUP BY d, n
"""


@query("ks_drift_events", ORACLE_KS_DRIFT)
def ks_drift_events(spark, sf_dir):
    """Per-day two-sample Kolmogorov–Smirnov drift of `value` against
    the first week as the frozen reference: max CDF gap on the
    reference's 20-quantile grid, with the distribution-free α=0.05
    rejection bound as an alarm column. Complements psi_drift_events
    (probability-unit gap + principled threshold vs PSI's log-weighted
    index); identical scale shape — input rows never shuffle, all
    post-count frames are O(#days × bins)."""
    from thoth_spark.profiler import drift

    ev = _events(spark, sf_dir)
    return drift.ks_daily(ev, "ts", "value", "2024-01-08", n_bins=_KS_BINS)


@query("psi_drift_events", ORACLE_PSI_DRIFT)
def psi_drift_events(spark, sf_dir):
    """Per-day Population Stability Index of `value` against the first
    week as the frozen reference: detects SHAPE changes (variance blowup,
    bimodality) that mean/count monitors miss. One exact-percentile pass
    over the bounded reference window; bucketing is a JVM higher-order
    function; the only exchanges are O(#days × bins) count aggregations
    — input rows never shuffle."""
    from thoth_spark.profiler import drift

    ev = _events(spark, sf_dir)
    return drift.psi_daily(ev, "ts", "value", "2024-01-08")


_EMB_DIM = 64

ORACLE_EMBEDDING_DRIFT = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (SELECT unnest(generate_series(1, {_EMB_DIM})) AS i),
r AS (SELECT i, avg(v[i]) AS m FROM e, dims WHERE vec_id % 2 = 0 GROUP BY i),
c AS (SELECT i, avg(v[i]) AS m FROM e, dims WHERE vec_id % 2 = 1 GROUP BY i),
shift AS (SELECT sqrt(sum((r.m - c.m) * (r.m - c.m))) AS l2
          FROM r JOIN c USING (i)),
er AS (SELECT count(*)::BIGINT AS n_ref, avg(list_dot_product(v, v)) AS e
       FROM e WHERE vec_id % 2 = 0),
ec AS (SELECT count(*)::BIGINT AS n_cur, avg(list_dot_product(v, v)) AS e
       FROM e WHERE vec_id % 2 = 1)
SELECT n_ref, n_cur,
       round(l2, 6) AS l2_shift,
       round(ec.e / er.e, 6) AS energy_ratio,
       (l2 > 0.5 OR abs(ec.e / er.e - 1) > 0.5) AS drifted
FROM er, ec, shift
"""


@query("embedding_drift_snapshots", ORACLE_EMBEDDING_DRIFT)
def embedding_drift_snapshots(spark, sf_dir):
    """Embedding-SPACE drift between two corpus snapshots
    (drift.embedding_drift — the vector-column member of the
    PSI/KS/chi2 drift family): even vec_ids stand in for the frozen
    reference snapshot, odd for the new batch. Two statistics robust
    to embedding-cloud isotropy — the L2 shift of the mean vector
    (translation: new dominant domain, encoder drift) and the
    mean-squared-norm energy ratio (scale: normalization regressions,
    clipping) — with the alarm thresholds far above the same-
    distribution fixture values (measured l2_shift 0.04–0.09, ratio
    ≈1.0 across SFs vs bounds 0.5). Two single-row partial-aggregable
    scans, crossJoined 1×1; pure column expressions; the oracle
    replays per-dimension means via a 64-row dims explode."""
    from thoth_spark.profiler import drift

    emb = load_table(spark, sf_dir, "embeddings")
    return drift.embedding_drift(
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
        "embedding",
        dim=_EMB_DIM,
    )


# --- curation operators: PII redaction, chunking, repetition, contamination


def _pii_oracle() -> str:
    """Sequential regexp replace/count chain mirroring text.PII_PATTERNS
    order; synthetic PII is appended deterministically from doc_id so the
    patterns actually fire on the fixture corpus."""
    from thoth_spark.operators.text import PII_PATTERNS

    sql = """
WITH s0 AS (
  SELECT doc_id, text || ' contact user' || doc_id || '@example.com from 10.0.'
         || (doc_id % 256) || '.7 or call +1 555-867-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         AS t
  FROM documents
)"""
    prev = "s0"
    for i, (name, pattern, token) in enumerate(PII_PATTERNS, 1):
        # single-quote escape for the SQL literal (DuckDB standard
        # strings keep backslashes literal — do NOT double them)
        pat = pattern.replace("'", "''")
        sql += f""",
s{i} AS (
  SELECT * EXCLUDE (t), len(regexp_extract_all(t, '{pat}'))::INT AS n_{name},
         regexp_replace(t, '{pat}', '{token}', 'g') AS t
  FROM {prev}
)"""
        prev = f"s{i}"
    sql += f"""
SELECT doc_id, n_email, n_ipv4, n_ssn, n_phone, md5(t) AS redacted_md5 FROM {prev}
"""
    return sql


@query("redact_pii_documents", _pii_oracle())
def redact_pii_documents(spark, sf_dir):
    """PII scrubbing (emails/IPv4/SSN/phone → typed tokens) over the
    corpus with synthetic PII injected deterministically from doc_id (the
    fixture corpus is clean, so the injection makes every pattern fire).
    Pure sequential regexp expressions — full scan speed, no shuffle."""
    docs = _documents(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 or call +1 555-867-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    out = text.redact_pii(docs, "text")
    return out.select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_ssn",
        "n_phone",
        F.md5("text_redacted").alias("redacted_md5"),
    )


_CHUNK_T, _CHUNK_S = 32, 24

ORACLE_CHUNK_DOCS = f"""
WITH d AS ({_DOC_TOKENS}),
n AS (
  SELECT doc_id, toks, 1 + greatest(0, ceil((len(toks) - {_CHUNK_T}) / {_CHUNK_S}.0)::INT) AS nc
  FROM d
),
c AS (
  SELECT doc_id, unnest(range(0, nc))::INT AS chunk_idx, toks FROM n
)
SELECT doc_id, chunk_idx,
       array_to_string(toks[chunk_idx * {_CHUNK_S} + 1 : chunk_idx * {_CHUNK_S} + {_CHUNK_T}], ' ') AS chunk_text,
       len(toks[chunk_idx * {_CHUNK_S} + 1 : chunk_idx * {_CHUNK_S} + {_CHUNK_T}])::INT AS n_chunk_tokens
FROM c
"""


@query("chunk_documents", ORACLE_CHUNK_DOCS)
def chunk_documents_query(spark, sf_dir):
    """Overlapping token-window chunking (32-token chunks, stride 24 —
    8 tokens of shared context) — the training-example splitter. Output
    rows ∝ tokens/stride, no shuffle."""
    docs = _documents(spark, sf_dir)
    out = text.chunk_documents(docs, "doc_id", "text", _CHUNK_T, _CHUNK_S)
    return out.select(
        F.col("id").alias("doc_id"), "chunk_idx", "chunk_text", "n_chunk_tokens"
    )


ORACLE_REPETITION = f"""
WITH d AS ({_DOC_TOKENS}),
g AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
         i -> toks[i] || ' ' || toks[i+1])) AS g
  FROM d WHERE len(toks) >= 2
),
pg AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total_ngrams, max(c) AS top_ngram_count FROM pg GROUP BY 1)
SELECT d.doc_id, coalesce(pd.total_ngrams, 0) AS total_ngrams,
       coalesce(pd.top_ngram_count, 0) AS top_ngram_count,
       round(coalesce(pd.top_ngram_count / pd.total_ngrams::DOUBLE, 0.0), 6) AS top_ngram_ratio
FROM d LEFT JOIN pd USING (doc_id)
"""


@query("repetition_documents", ORACLE_REPETITION)
def repetition_documents(spark, sf_dir):
    """Gopher-style repetition signal: fraction of all word 2-grams taken
    by the most frequent one (template/boilerplate spam scores near 1)."""
    docs = _documents(spark, sf_dir)
    out = text.repetition_signals(docs, "doc_id", "text", n=2)
    return out.select(
        F.col("id").alias("doc_id"),
        "total_ngrams",
        "top_ngram_count",
        F.round("top_ngram_ratio", 6).alias("top_ngram_ratio"),
    )


ORACLE_CONTAMINATION = f"""
WITH d AS ({_DOC_TOKENS}),
g AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM d WHERE len(toks) >= 3
),
bench AS (SELECT DISTINCT unnest(sh) AS g FROM g WHERE doc_id % 10 = 0),
ds AS (SELECT doc_id, unnest(sh) AS g FROM g),
pd AS (
  SELECT ds.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN bench.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
  FROM ds LEFT JOIN bench ON ds.g = bench.g GROUP BY 1
)
SELECT d.doc_id, coalesce(pd.n_shingles, 0) AS n_shingles,
       coalesce(pd.n_matched, 0) AS n_matched,
       round(coalesce(pd.n_matched / pd.n_shingles::DOUBLE, 0.0), 6) AS contamination
FROM d LEFT JOIN pd USING (doc_id)
"""


@query("contamination_documents", ORACLE_CONTAMINATION)
def contamination_documents(spark, sf_dir):
    """Benchmark-contamination screen: per-document fraction of distinct
    3-gram shingles that appear anywhere in the 'benchmark' subset
    (doc_id % 10 = 0 stands in for an eval set). Benchmark shingles
    broadcast; the corpus side is one explode + one groupBy — never
    corpus × benchmark."""
    docs = _documents(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 10 == 0)
    out = text.contamination_check(docs, bench, "doc_id", "text", n=3)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_shingles",
        "n_matched",
        F.round("contamination", 6).alias("contamination"),
    )


# --- curation operators: line dedup, packing, mixing, training order


_LINE_W = 8  # tokens per synthesized line (the fixture corpus has no newlines)

ORACLE_LINE_DEDUP = f"""
WITH d AS ({_DOC_TOKENS}),
l AS (
  SELECT doc_id, unnest(range(0, (len(toks) + {_LINE_W} - 1) // {_LINE_W}))::INT AS pos,
         toks
  FROM d
),
l2 AS (
  SELECT doc_id, pos,
         array_to_string(toks[pos * {_LINE_W} + 1 : pos * {_LINE_W} + {_LINE_W}], ' ') AS line
  FROM l
),
l3 AS (
  SELECT *, md5(trim(line)) AS lh,
         row_number() OVER (PARTITION BY md5(trim(line)) ORDER BY doc_id, pos) AS rk
  FROM l2
),
kept AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM l3 WHERE rk = 1 GROUP BY 1
),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM l2 GROUP BY 1)
SELECT tot.doc_id, md5(coalesce(kept.t, '')) AS dedup_md5, tot.n_lines,
       coalesce(kept.n_kept, 0) AS n_kept
FROM tot LEFT JOIN kept USING (doc_id)
"""


@query("line_dedup_documents", ORACLE_LINE_DEDUP)
def line_dedup_documents(spark, sf_dir):
    """CCNet-style corpus-level line dedup: every document is split into
    lines (synthesized here as 8-token windows joined by newlines — the
    fixture corpus is newline-free), each distinct line keeps only its
    first occurrence by (doc_id, position), and documents are reassembled
    from their surviving lines. Two bounded shuffles: line-hash survivor
    election (map-side combined) + per-doc regroup."""
    docs = _documents(spark, sf_dir)
    toks = text.tokens(F.col("text"))
    n_lines = F.ceil(F.size(toks) / F.lit(_LINE_W)).cast("int")
    lined = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i * _LINE_W + 1, _LINE_W)),
            ),
            "\n",
        ).alias("text"),
    )
    out = curation.line_dedup(lined, "doc_id", "text")
    return out.select(
        F.col("id").alias("doc_id"),
        F.md5("text_deduped").alias("dedup_md5"),
        "n_lines",
        "n_kept",
    )


_LINE_MAX_DF = 2

ORACLE_LINE_DEDUP_NONE = f"""
WITH d AS ({_DOC_TOKENS}),
l AS (
  SELECT doc_id, unnest(range(0, (len(toks) + {_LINE_W} - 1) // {_LINE_W}))::INT AS pos,
         toks
  FROM d
),
l2 AS (
  SELECT doc_id, pos,
         array_to_string(toks[pos * {_LINE_W} + 1 : pos * {_LINE_W} + {_LINE_W}], ' ') AS line
  FROM l
),
l3 AS (SELECT *, md5(trim(line)) AS lh FROM l2),
freq AS (SELECT lh, count(DISTINCT doc_id) AS line_df FROM l3 GROUP BY 1),
kept AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM l3 JOIN freq USING (lh) WHERE line_df <= {_LINE_MAX_DF} GROUP BY 1
),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM l2 GROUP BY 1)
SELECT tot.doc_id, md5(coalesce(kept.t, '')) AS dedup_md5, tot.n_lines,
       coalesce(kept.n_kept, 0) AS n_kept
FROM tot LEFT JOIN kept USING (doc_id)
"""


@query("line_dedup_none_documents", ORACLE_LINE_DEDUP_NONE)
def line_dedup_none_documents(spark, sf_dir):
    """Boilerplate-removal line dedup (``keep='none'``): a line appearing
    in more than ``max_df`` distinct documents is dropped from ALL of
    them. Scale shape (round-3 fix): per-line doc-frequency is a
    two-phase ``groupBy(lh).agg(count_distinct)`` shuffle-joined back on
    ``lh`` — never a window ``collect_set`` (which would buffer a hot
    boilerplate line's entire partition in one task)."""
    docs = _documents(spark, sf_dir)
    toks = text.tokens(F.col("text"))
    n_lines = F.ceil(F.size(toks) / F.lit(_LINE_W)).cast("int")
    lined = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i * _LINE_W + 1, _LINE_W)),
            ),
            "\n",
        ).alias("text"),
    )
    out = curation.line_dedup(lined, "doc_id", "text", keep="none", max_df=_LINE_MAX_DF)
    return out.select(
        F.col("id").alias("doc_id"),
        F.md5("text_deduped").alias("dedup_md5"),
        "n_lines",
        "n_kept",
    )


_PASSAGE_W = 12  # duplicated-window length in tokens

ORACLE_PASSAGE_DEDUP = f"""
WITH d AS ({_DOC_TOKENS}),
w AS (
  SELECT doc_id, unnest(generate_series(1, len(toks) - {_PASSAGE_W} + 1))::INT - 1 AS pos,
         toks
  FROM d WHERE len(toks) >= {_PASSAGE_W}
),
wh AS (
  SELECT doc_id, pos,
         md5(array_to_string(toks[pos + 1 : pos + {_PASSAGE_W}], ' ')) AS h
  FROM w
),
dup AS (SELECT h FROM wh GROUP BY h HAVING count(*) >= 2),
starts AS (SELECT doc_id, pos FROM wh JOIN dup USING (h)),
cov AS (
  SELECT DISTINCT doc_id,
         unnest(generate_series(pos, pos + {_PASSAGE_W} - 1))::INT AS pos
  FROM starts
),
tok AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) - 1 AS pos
  FROM d
),
kept AS (
  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.pos) AS txt,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL GROUP BY 1
)
SELECT d.doc_id, md5(coalesce(kept.txt, '')) AS dedup_md5,
       CAST(len(d.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept
FROM d LEFT JOIN kept USING (doc_id)
"""


@query("passage_dedup_documents", ORACLE_PASSAGE_DEDUP)
def passage_dedup_documents(spark, sf_dir):
    """Exact-substring passage dedup (window-quantized Lee et al.
    ExactSubstr): every 12-token run whose exact content occurs >= 2
    times corpus-wide is removed from ALL occurrences, and documents are
    reassembled from surviving tokens. Catches duplicated REGIONS inside
    otherwise-unique documents (licence headers, templated paragraphs) —
    the gap document-level MinHash/SimHash leave open. Scale shape: one
    window explode + two-phase groupBy(window-hash) + instance join +
    per-doc regroup — candidate volume linear in corpus tokens, never
    all-pairs (operators/curation.py passage_dedup)."""
    docs = _documents(spark, sf_dir)
    out = curation.passage_dedup(docs, "doc_id", "text", window=_PASSAGE_W, min_count=2)
    return out.select(
        F.col("id").alias("doc_id"),
        F.md5("text_deduped").alias("dedup_md5"),
        "n_tokens",
        "n_kept",
    )


_PACK_BUDGET, _PACK_SHARDS = 64, 4

_PACK_SHARD_SQL = (
    "(" + _hex2int_sql("md5('42|' || doc_id::VARCHAR)", 1, 8)
    + f" % 1000000 % {_PACK_SHARDS})::INT"
)

ORACLE_PACK_DOCS = f"""
WITH RECURSIVE d AS ({_DOC_TOKENS}),
t0 AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, {_PACK_SHARD_SQL} AS shard
  FROM d
),
t AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM t0
),
p AS (
  SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS bin_idx,
         CAST(0 AS BIGINT) AS bin_pos, n_tokens AS fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN p.fill + t.n_tokens > {_PACK_BUDGET} THEN p.bin_idx + 1 ELSE p.bin_idx END,
         CASE WHEN p.fill + t.n_tokens > {_PACK_BUDGET} THEN CAST(0 AS BIGINT) ELSE p.bin_pos + 1 END,
         CASE WHEN p.fill + t.n_tokens > {_PACK_BUDGET} THEN t.n_tokens ELSE p.fill + t.n_tokens END
  FROM p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT doc_id, n_tokens, shard, bin_idx, bin_pos FROM p
"""


@query("pack_documents", ORACLE_PACK_DOCS)
def pack_documents(spark, sf_dir):
    """Greedy sequence packing into 64-token training bins across 4
    hash-distributed shards — the curated-corpus → dense-training-example
    step. The only Python path is the per-shard O(rows) greedy loop
    (applyInPandas, one Arrow batch per shard); the oracle replays it as
    a recursive CTE."""
    docs = _documents(spark, sf_dir)
    sized = docs.select("doc_id", F.size(text.tokens(F.col("text"))).alias("n_tokens"))
    return curation.pack_sequences(
        sized, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    ).select(
        F.col("id").alias("doc_id"), "n_tokens", "shard", "bin_idx", "bin_pos"
    )


_MIX_WEIGHTS = {"src0": 3.0, "src1": 1.0, "src2": 1.0, "src3": 0.5}

_MIX_W_CASE = "CASE source " + " ".join(
    f"WHEN '{s}' THEN {w!r}" for s, w in _MIX_WEIGHTS.items()
) + " END"

_MIX_BUCKET = _hex2int_sql("md5('42|' || doc_id::VARCHAR)", 1, 8) + " % 1000000"

ORACLE_MIX_DOCS = f"""
WITH c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS cnt, {_MIX_W_CASE} AS w
  FROM documents WHERE source IN ({", ".join(f"'{s}'" for s in _MIX_WEIGHTS)})
  GROUP BY source
),
s AS (SELECT min(cnt / w) AS scale FROM c),
t AS (
  SELECT c.source, CAST(floor(s.scale * c.w / c.cnt * 1000000) AS BIGINT) AS thr
  FROM c, s
)
SELECT d.doc_id, d.source, round(t.thr / 1000000.0, 6) AS mix_rate
FROM documents d JOIN t ON d.source = t.source
WHERE {_MIX_BUCKET} < t.thr
"""


@query("mix_documents", ORACLE_MIX_DOCS)
def mix_documents(spark, sf_dir):
    """Corpus mixing to target source weights (src0 3× the others, src3
    half): the binding source keeps rate 1.0, every other source is
    hash-sampled down so expected proportions match the weights. Driver
    collects only the per-source counts; the data path is one map-side
    filter — no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    out = curation.mix_corpora(docs, _MIX_WEIGHTS)
    return out.select("doc_id", "source", F.round("mix_rate", 6).alias("mix_rate"))


_ORDER_SHARDS = 8

_ORDER_BUCKET = "(" + _hex2int_sql("md5('42|' || doc_id::VARCHAR)", 1, 8) + " % 1000000)"

ORACLE_TRAINING_ORDER = f"""
SELECT doc_id, ({_ORDER_BUCKET} % {_ORDER_SHARDS})::INT AS shard,
       CAST(row_number() OVER (
         PARTITION BY {_ORDER_BUCKET} % {_ORDER_SHARDS}
         ORDER BY {_ORDER_BUCKET}, doc_id
       ) - 1 AS BIGINT) AS shard_pos
FROM documents
"""


@query("training_order_documents", ORACLE_TRAINING_ORDER)
def training_order_documents(spark, sf_dir):
    """Deterministic global training shuffle into 8 shards: shard and
    within-shard order both derive from the same md5 bucket stream, so
    the 'random' order is a pure function of the data — reproducible
    across reruns, retries, and engines, with no global sort (the
    per-shard sort rides the one shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    out = curation.training_order(docs, n_shards=_ORDER_SHARDS)
    return out.select("doc_id", "shard", F.col("shard_pos").cast("long").alias("shard_pos"))


# --- bigram-LM perplexity quality scoring


_LM_V, _LM_K = 24, 0.5

ORACLE_PERPLEXITY = f"""
WITH d AS ({_DOC_TOKENS}),
vocab AS (
  SELECT token FROM (
    SELECT unnest(toks) AS token FROM d
  ) WHERE token <> '' GROUP BY token
  ORDER BY count(*) DESC, token LIMIT {_LM_V}
),
v AS (SELECT list(token) AS vl, count(*)::BIGINT AS nv FROM vocab),
m AS (
  SELECT doc_id,
         ['<s>'] || list_transform(
           list_filter(toks, t -> t <> ''),
           t -> CASE WHEN list_contains(v.vl, t) THEN t ELSE '<unk>' END
         ) AS ws
  FROM d, v
),
bgi AS (
  SELECT doc_id, unnest(generate_series(1, len(ws) - 1))::INT AS i, ws
  FROM m WHERE len(ws) >= 2
),
bg2 AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM bgi),
bi AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg2 GROUP BY 1, 2),
uni AS (SELECT w1, count(*)::BIGINT AS c1 FROM bg2 GROUP BY 1),
sc AS (
  SELECT bg2.doc_id,
         -log2((coalesce(bi.c12, 0) + {_LM_K}) /
               (coalesce(uni.c1, 0) + {_LM_K} * (v.nv + 1))) AS nll
  FROM bg2
  LEFT JOIN bi USING (w1, w2)
  LEFT JOIN uni USING (w1)
  CROSS JOIN v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(nll), 6) AS avg_neg_log2_prob,
       round(pow(2.0, avg(nll)), 6) AS perplexity
FROM sc GROUP BY 1
"""


@query("perplexity_documents", ORACLE_PERPLEXITY)
def perplexity_documents(spark, sf_dir):
    """KenLM-style perplexity quality filter: train an add-k bigram LM
    with a frequency-capped vocabulary (24 of the corpus' 31 tokens, so
    <unk> genuinely fires) on the corpus, then score every document's
    bigram cross-entropy under it. Scoring is one scan + broadcast joins
    against the bounded model tables — the model never exceeds
    vocab²."""
    docs = _documents(spark, sf_dir)
    out = lm_ops.train_and_score(docs, vocab_size=_LM_V, add_k=_LM_K)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_bigrams",
        F.round("avg_neg_log2_prob", 6).alias("avg_neg_log2_prob"),
        F.round("perplexity", 6).alias("perplexity"),
    )


@query("classifier_quality_documents")
def classifier_quality_documents(spark, sf_dir):
    """Model-based quality filter (the fasttext-classifier step of a
    CCNet/LLaMA-style pipeline): weak-label the extremes of the
    heuristic quality distribution, train a hashed-feature logistic
    regression (MLlib — treeAggregate gradients, no vocabulary build),
    score the WHOLE corpus with the broadcast model. No oracle: L-BFGS
    training is iterative and not SQL-expressible; the driver records
    rows+schema, and tests/test_operators.py asserts the learned
    separation on held-out text."""
    docs = _documents(spark, sf_dir)
    labeled = classifier.weak_labels(docs, low=0.72, high=0.78)
    # 10 L-BFGS steps suffice (predictions within 0.5% of 20 steps on the
    # fixture) and each step is a full-pass treeAggregate job — iteration
    # count is the wall-time knob here, not data size
    model = classifier.train_quality_classifier(
        labeled, n_features=1 << 14, max_iter=10
    )
    out = classifier.score_quality(docs, model)
    return out.select("doc_id", "quality_prob", "quality_pred")


_NB_V, _NB_K = 4096, 1.0
_NB_LOW, _NB_HIGH = 0.72, 0.78

#: Per-class accuracy floor for the LR classifier bounds gate below.
#: Measured per-class accuracy on the weak-label extremes: 1.0 at
#: sf0.001/sf0.01, 0.9996 worst class at sf0.1 — 0.9 leaves an order of
#: magnitude of error margin over L-BFGS float-reduction jitter.
_LR_ACC_FLOOR = 0.9

# The label-side CTEs replay classifier.quality_score + weak_labels
# exactly as ORACLE_NB_CLASSIFIER's stats/q/lab0 do (hash-green via
# classifier_nb_documents); only the per-class count is exact here — the
# classifier's accuracy itself is pinned as a bound (TRUE), because
# L-BFGS training is iterative and not SQL-expressible.
ORACLE_LR_ACC_BOUND = f"""
WITH d AS ({_DOC_TOKENS}),
stats AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct_tokens,
         len(list_filter(toks, t -> list_contains(
             ['the','a','an','and','or','of','to','in','is','it'], t)))::DOUBLE
             / len(toks) AS stopword_ratio,
         (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
             / length(text) AS digit_ratio,
         (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
             / length(text) AS punct_ratio
  FROM d JOIN documents USING (doc_id)
),
q AS (
  SELECT doc_id, round(least(n_tokens / 64.0, 1.0) * 0.3
         + (n_distinct_tokens::DOUBLE / n_tokens) * 0.3
         + greatest(1.0 - abs(stopword_ratio - 0.08) * 2, 0.0) * 0.2
         + (1.0 - least((digit_ratio + punct_ratio) * 4, 1.0)) * 0.2, 6) AS qs
  FROM stats
),
lab AS (
  SELECT doc_id, CASE WHEN qs >= {_NB_HIGH} THEN 1 ELSE 0 END AS y
  FROM q WHERE qs <= {_NB_LOW} OR qs >= {_NB_HIGH}
)
SELECT y AS label, count(*)::BIGINT AS n_labeled, TRUE AS acc_ok
FROM lab GROUP BY y
"""


@query("classifier_quality_accuracy_bound", ORACLE_LR_ACC_BOUND)
def classifier_quality_accuracy_bound(spark, sf_dir):
    """Bounded accuracy oracle for the L-BFGS quality classifier (the
    production scorer `classifier_quality_documents` stays rows-only):
    train on the weak-label extremes, score them back, and assert
    PER-CLASS accuracy >= ``_LR_ACC_FLOOR`` — per-class, not overall, so
    a degenerate majority-class model fails the minority row. The
    per-class labeled counts are SQL-exact (the heuristic weak labels
    replay in DuckDB, same CTEs as the hash-green NB gate); the accuracy
    is a bounds-oracle boolean like `similarity_topk_ivf_recall`'s
    recall floor. Measured per-class accuracy 0.9996-1.0 across
    sf0.001-0.1 against the 0.9 floor."""
    docs = _documents(spark, sf_dir)
    labeled = classifier.weak_labels(docs, low=_NB_LOW, high=_NB_HIGH)
    model = classifier.train_quality_classifier(
        labeled, n_features=1 << 14, max_iter=10
    )
    out = classifier.score_quality(docs, model)
    j = labeled.select("doc_id", "label").join(
        out.select("doc_id", "quality_pred"), "doc_id"
    )
    return (
        j.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_labeled"),
            (
                F.avg((F.col("label") == F.col("quality_pred")).cast("double"))
                >= F.lit(_LR_ACC_FLOOR)
            ).alias("acc_ok"),
        )
        .select(F.col("label").cast("int").alias("label"), "n_labeled", "acc_ok")
    )



ORACLE_NB_CLASSIFIER = f"""
WITH d AS ({_DOC_TOKENS}),
stats AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct_tokens,
         len(list_filter(toks, t -> list_contains(
             ['the','a','an','and','or','of','to','in','is','it'], t)))::DOUBLE
             / len(toks) AS stopword_ratio,
         (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
             / length(text) AS digit_ratio,
         (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
             / length(text) AS punct_ratio
  FROM d JOIN documents USING (doc_id)
),
q AS (
  SELECT doc_id, round(least(n_tokens / 64.0, 1.0) * 0.3
         + (n_distinct_tokens::DOUBLE / n_tokens) * 0.3
         + greatest(1.0 - abs(stopword_ratio - 0.08) * 2, 0.0) * 0.2
         + (1.0 - least((digit_ratio + punct_ratio) * 4, 1.0)) * 0.2, 6) AS qs
  FROM stats
),
lab0 AS (
  SELECT doc_id, CASE WHEN qs >= {_NB_HIGH} THEN 1 ELSE 0 END AS y
  FROM q WHERE qs <= {_NB_LOW} OR qs >= {_NB_HIGH}
),
nmin AS (SELECT min(c)::DOUBLE AS m FROM (SELECT count(*) AS c FROM lab0 GROUP BY y)),
lab AS (
  SELECT doc_id, y FROM (
    SELECT doc_id, y,
           row_number() OVER (
             PARTITION BY y
             ORDER BY {_hex2int_sql("md5('42|' || doc_id::VARCHAR)", 1, 8)} % 1000000,
                      doc_id
           ) AS rk
    FROM lab0
  ), nmin WHERE rk <= m
),
lf AS (
  SELECT DISTINCT y, doc_id, {_hex2int_sql("md5(tok)", 1, 8)} % {_NB_V} AS f
  FROM (SELECT lab.y, d.doc_id, unnest(d.toks) AS tok FROM d JOIN lab USING (doc_id))
),
cnt AS (
  SELECT f, sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::DOUBLE AS d1,
         sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::DOUBLE AS d0
  FROM lf GROUP BY 1
),
wgt AS (
  SELECT f,
         ln(((d1 + {_NB_K}) / (m + 2 * {_NB_K})) / ((d0 + {_NB_K}) / (m + 2 * {_NB_K})))
         - ln((1 - (d1 + {_NB_K}) / (m + 2 * {_NB_K})) / (1 - (d0 + {_NB_K}) / (m + 2 * {_NB_K}))) AS w,
         ln((1 - (d1 + {_NB_K}) / (m + 2 * {_NB_K})) / (1 - (d0 + {_NB_K}) / (m + 2 * {_NB_K}))) AS cterm
  FROM cnt, nmin
),
bias AS (SELECT ln(m / m) + sum(cterm) AS b FROM wgt, nmin GROUP BY m),
dtok AS (
  SELECT DISTINCT doc_id, {_hex2int_sql("md5(tok)", 1, 8)} % {_NB_V} AS f
  FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
),
sc AS (
  SELECT dtok.doc_id, coalesce(wgt.w, 0.0) AS w
  FROM dtok LEFT JOIN wgt USING (f)
)
SELECT sc.doc_id, round(b + sum(w), 6) AS nb_log_odds,
       CASE WHEN b + sum(w) > 0 THEN 1 ELSE 0 END AS nb_pred
FROM sc, bias GROUP BY sc.doc_id, b
"""


@query("classifier_nb_documents", ORACLE_NB_CLASSIFIER)
def classifier_nb_documents(spark, sf_dir):
    """Naive Bayes quality filter — the hash-verifiable sibling of the
    L-BFGS logistic regression above: weak-label the extremes of the
    heuristic quality distribution, BALANCE the classes (deterministic
    smallest-hash subsample — unbalanced NB drifts with document
    length), train a Bernoulli NB over md5-hashed distinct-token
    presence in CLOSED FORM (one explode + one groupBy(feature) count —
    no iterations), then score the WHOLE corpus via a broadcast join
    against the ≤ 4096-row model. The full train+score dataflow replays
    exactly in the DuckDB oracle, so the classifier family gets a
    hash-green driver row alongside the rows-only LR one
    (operators/classifier.py train_nb_quality; 95% agreement with the
    quality-score midpoint on the fixture, 100% on the labeled
    extremes)."""
    docs = _documents(spark, sf_dir)
    labeled = classifier.balance_labels(
        classifier.weak_labels(docs, low=_NB_LOW, high=_NB_HIGH)
    )
    model = classifier.train_nb_quality(
        labeled, n_features=_NB_V, add_k=_NB_K
    )
    out = classifier.score_nb(docs, model)
    return out.select("doc_id", "nb_log_odds", "nb_pred")


# --- streaming curation: the batch quality pipeline under readStream


ORACLE_STREAM_CURATE = f"""
WITH d AS ({_DOC_TOKENS}),
stats AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct_tokens,
         len(list_filter(toks, t -> list_contains(
             ['the','a','an','and','or','of','to','in','is','it'], t)))::DOUBLE
             / len(toks) AS stopword_ratio,
         (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
             / length(text) AS digit_ratio,
         (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
             / length(text) AS punct_ratio
  FROM d JOIN documents USING (doc_id)
),
q AS (
  SELECT doc_id,
         least(n_tokens / 64.0, 1.0) * 0.3
         + (n_distinct_tokens::DOUBLE / n_tokens) * 0.3
         + greatest(1.0 - abs(stopword_ratio - 0.08) * 2, 0.0) * 0.2
         + (1.0 - least((digit_ratio + punct_ratio) * 4, 1.0)) * 0.2 AS qs
  FROM stats
)
SELECT doc_id, round(qs, 6) AS quality_score FROM q WHERE qs >= 0.5
"""


@query("streaming_curate_documents", ORACLE_STREAM_CURATE)
def streaming_curate_documents(spark, sf_dir):
    """The batch curation scoring path run UNCHANGED under Structured
    Streaming: `readStream` over the corpus → the same stateless
    `quality_score` column expressions → quality-threshold filter →
    sink. Stateless map transforms need no watermark and are exactly
    batch-equivalent regardless of micro-batch boundaries — the point:
    one code path curates both a static corpus and a live document
    feed. At scale the memory sink becomes a parquet/Kafka sink; the
    per-batch plan is the same scan-speed expression pipeline."""
    import uuid

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    scored = (
        text.quality_score(stream, "text")
        .where(F.col("quality_score") >= 0.5)
        .select("doc_id", F.round("quality_score", 6).alias("quality_score"))
    )
    name = f"stream_curate_{uuid.uuid4().hex[:8]}"
    q = scored.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


# --- BM25 keyword retrieval (operators/retrieval.py)


_BM25_TERMS = ("spark", "stream", "vector")
_BM25_K1, _BM25_B = 1.2, 0.75

ORACLE_BM25 = f"""
WITH d AS ({_DOC_TOKENS}),
dl AS (SELECT doc_id, len(toks) AS dl FROM d),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
post AS (
  SELECT doc_id, token AS term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS token FROM d)
  WHERE token IN ('spark', 'stream', 'vector')
  GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY 1),
sc AS (
  SELECT p.doc_id,
         ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (p.tf * {_BM25_K1 + 1})
           / (p.tf + {_BM25_K1} * (1 - {_BM25_B}
                                   + ({_BM25_B} * l.dl) / s.avgdl)) AS contrib
  FROM post p
  JOIN dfreq f USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN stats s
)
SELECT doc_id AS id, count(*)::BIGINT AS n_terms_matched,
       round(sum(contrib), 6) AS score
FROM sc GROUP BY 1
ORDER BY score DESC, id LIMIT 10
"""


@query("bm25_topk_documents", ORACLE_BM25)
def bm25_topk_documents(spark, sf_dir):
    """BM25 top-10 for a 3-term probe query — the eval-curation /
    corpus-audit search primitive. The corpus explode is filtered to the
    query terms BEFORE any aggregation (only matching postings shuffle),
    df/N/avgdl are tiny broadcast aggregates, and the top-k plans as
    TakeOrderedAndProject (partial per-partition top-k, no global
    sort). Scores rounded to 6 decimals on both sides (unordered double
    summation)."""
    docs = _documents(spark, sf_dir)
    return retrieval.bm25_topk(
        docs, "doc_id", "text", list(_BM25_TERMS), k=10, k1=_BM25_K1, b=_BM25_B
    )


ORACLE_BM25_MULTI = f"""
WITH d AS ({_DOC_TOKENS}),
q(query_id, term) AS (
  VALUES ('q_engine', 'spark'), ('q_engine', 'query'), ('q_engine', 'scan'),
         ('q_stream', 'stream'), ('q_stream', 'batch'), ('q_stream', 'window')
),
dl AS (SELECT doc_id, len(toks) AS dl FROM d),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
post AS (
  SELECT doc_id, token AS term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS token FROM d)
  WHERE token IN (SELECT DISTINCT term FROM q)
  GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY 1),
sc AS (
  SELECT q.query_id, p.doc_id,
         ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (p.tf * {_BM25_K1 + 1})
           / (p.tf + {_BM25_K1} * (1 - {_BM25_B}
                                   + ({_BM25_B} * l.dl) / s.avgdl)) AS contrib
  FROM post p
  JOIN q USING (term)
  JOIN dfreq f USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN stats s
),
agg AS (
  SELECT query_id, doc_id AS id, count(*)::BIGINT AS n_terms_matched,
         round(sum(contrib), 6) AS score
  FROM sc GROUP BY 1, 2
),
rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, id
  )::INT AS rank FROM agg
)
SELECT query_id, id, n_terms_matched, score, rank FROM rk WHERE rank <= 5
"""


@query("bm25_multiquery_documents", ORACLE_BM25_MULTI)
def bm25_multiquery_documents(spark, sf_dir):
    """Per-query BM25 top-5 for a TABLE of probe queries: ONE corpus
    explode serves every query (postings join the broadcast query table
    on term), so auditing a thousand probes costs one scan, not a scan
    per probe. Top-k per query is a single window partitioned by
    query_id."""
    docs = _documents(spark, sf_dir)
    queries = docs.sparkSession.createDataFrame(
        [
            ("q_engine", "spark"),
            ("q_engine", "query"),
            ("q_engine", "scan"),
            ("q_stream", "stream"),
            ("q_stream", "batch"),
            ("q_stream", "window"),
        ],
        "query_id string, term string",
    )
    out = retrieval.bm25_topk_multi(
        docs, "doc_id", "text", queries, k=5, k1=_BM25_K1, b=_BM25_B
    )
    return out.select(
        "query_id", "id", "n_terms_matched", "score", F.col("rank").cast("int").alias("rank")
    )


# --- weighted sampling without replacement (Efraimidis-Spirakis)


_WSAMPLE_N = 100

ORACLE_WEIGHTED_SAMPLE = f"""
WITH r AS (
  SELECT doc_id, source, n_chars,
         ln((({_SAMPLE_BUCKET}) + 0.5) / 1000000.0) / n_chars AS es
  FROM documents
)
SELECT doc_id, source, n_chars
FROM r ORDER BY es DESC, doc_id LIMIT {_WSAMPLE_N}
"""


@query("sample_documents_weighted", ORACLE_WEIGHTED_SAMPLE)
def sample_documents_weighted(spark, sf_dir):
    """Exactly 100 documents drawn without replacement with probability
    proportional to length (Efraimidis-Spirakis keys off the md5 bucket
    stream): the deterministic 'oversample long/high-quality docs'
    curation op. Rank key is ln(u)/w — engine-identical doubles — and
    the top-n plans as TakeOrderedAndProject, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.weighted_sample(docs, "doc_id", "n_chars", _WSAMPLE_N).select(
        "doc_id", "source", "n_chars"
    )


# --- DSIR importance resampling (hashed n-gram data selection)


_DSIR_BUCKETS, _DSIR_ALPHA, _DSIR_N = 8192, 0.5, 100

ORACLE_DSIR_SELECT = f"""
WITH d AS ({_DOC_TOKENS}),
uni AS (SELECT doc_id, unnest(toks) AS g FROM d WHERE len(toks) >= 1),
bi AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
         i -> toks[i] || ' ' || toks[i+1])) AS g
  FROM d WHERE len(toks) >= 2
),
grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
gb AS (
  SELECT doc_id,
         ({_hex2int_sql("md5('42|' || g)", 1, 8)}) % {_DSIR_BUCKETS} AS bucket
  FROM grams
),
flags AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t FROM documents
),
counts AS (
  SELECT bucket, count(*)::BIGINT AS raw, sum(t)::BIGINT AS tgt
  FROM gb JOIN flags USING (doc_id) GROUP BY 1
),
tot AS (SELECT sum(raw)::BIGINT AS r_total, sum(tgt)::BIGINT AS t_total FROM counts),
ratio AS (
  SELECT bucket,
         ln((tgt + {_DSIR_ALPHA}) / (t_total + {_DSIR_ALPHA} * {_DSIR_BUCKETS}))
       - ln((raw + {_DSIR_ALPHA}) / (r_total + {_DSIR_ALPHA} * {_DSIR_BUCKETS})) AS logr
  FROM counts, tot
),
w AS (
  SELECT doc_id, sum(logr) AS lw
  FROM gb JOIN ratio USING (bucket) GROUP BY 1
),
k AS (
  SELECT doc_id, lw,
         lw - ln(-ln((({_SAMPLE_BUCKET}) + 0.5) / 1000000.0)) AS gk
  FROM w
)
SELECT doc_id, round(lw, 6) AS log_weight
FROM k ORDER BY gk DESC, doc_id LIMIT {_DSIR_N}
"""


@query("dsir_select_documents", ORACLE_DSIR_SELECT)
def dsir_select_documents(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): treat the
    English subset as the trusted target distribution, fit hashed
    unigram+bigram multinomials for target vs raw corpus (8192 md5
    buckets, add-0.5 smoothing), weight every document by its target/raw
    log-likelihood ratio, and Gumbel-top-k sample exactly 100 docs with
    probability proportional to the importance weight — the published
    recipe for selecting
    domain-relevant pretraining data from a raw crawl. The bucket model
    is bounded at {_DSIR_BUCKETS} rows (broadcast both ways); corpus-
    sized shuffles are only the two gram-explode groupBys."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "__is_en", F.col("lang") == "en"
    )
    out = sampling.dsir_select(
        docs,
        "doc_id",
        "text",
        "__is_en",
        n_select=_DSIR_N,
        n_max=2,
        n_buckets=_DSIR_BUCKETS,
        alpha=_DSIR_ALPHA,
    )
    return out.select(
        F.col("id").alias("doc_id"), F.round("log_weight", 6).alias("log_weight")
    )


# --- corpus snapshot diff (incremental-pipeline audit primitive)


ORACLE_CORPUS_DIFF = """
WITH old AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents WHERE doc_id % 10 <> 0
),
new AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(
           CASE WHEN doc_id % 7 = 0 THEN text || ' refreshed' ELSE text END
         )), '\\s+', ' ', 'g')) AS fp
  FROM documents WHERE doc_id % 13 <> 0
)
SELECT coalesce(old.doc_id, new.doc_id) AS id,
       CASE WHEN old.fp IS NULL THEN 'added'
            WHEN new.fp IS NULL THEN 'removed'
            WHEN old.fp = new.fp THEN 'unchanged'
            ELSE 'changed' END AS status
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
"""


@query("corpus_diff_documents", ORACLE_CORPUS_DIFF)
def corpus_diff_documents(spark, sf_dir):
    """Diff two simulated snapshots of the corpus (10% of ids absent from
    the old crawl, every 7th doc's text refreshed, every 13th dropped
    from the new): one row per id with added/removed/changed/unchanged.
    Each side reduces to (id, md5 fingerprint) before the single
    full-outer join — shuffle carries 32-byte fingerprints, never
    text."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" refreshed"))
        ).otherwise(F.col("text")),
    )
    return curation.corpus_diff(old, new, "doc_id", "text")


# --- stream-stream interval join (attribution)


ORACLE_STREAM_INTERVAL_JOIN = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id AS user_id
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


@query("streaming_interval_join_events", ORACLE_STREAM_INTERVAL_JOIN)
def streaming_interval_join_events(spark, sf_dir):
    """Stream-stream attribution: purchases joined to the same user's
    clicks from the preceding 30 minutes, both sides LIVE streams — the
    canonical watermarked two-stream interval join. The time-bounded
    condition is what keeps state finite (a click expires once the
    purchase watermark passes click_ts + 30 min); with the watermark ≥
    the fixture's span the inner join is exactly batch-equivalent, which
    the SQL oracle replays."""
    import uuid

    from thoth_spark.sources import load_events_stream
    from thoth_spark.streaming.stream import interval_join_stream

    # Run on a CLONED session (shared SparkContext, isolated SQL conf)
    # with 8 shuffle partitions: a stream-stream join materializes FOUR
    # state stores per shuffle partition per micro-batch, so at this
    # fixture's state volume (hundreds of rows) wall is pure state-store
    # machinery ∝ partition count — measured at sf0.1: 8.2 s median at
    # 32 partitions → 2.7 s at 8, identical 183 output rows. Production
    # sizes stream shuffle partitions to state volume for the same
    # reason; the caller's session conf is untouched.
    spark = spark.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    ev = load_events_stream(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    joined = interval_join_stream(
        purchases,
        clicks,
        "user_id",
        "c_user_id",
        "p_ts",
        "c_ts",
        max_delay="30 minutes",
        watermark="90 days",
    ).select("purchase_id", "click_id", "user_id")
    name = f"stream_ij_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


# --- deterministic train/val/test split


ORACLE_SPLIT = f"""
SELECT doc_id,
       CASE WHEN {_SAMPLE_BUCKET} < 50000 THEN 'val'
            WHEN {_SAMPLE_BUCKET} < 100000 THEN 'test'
            ELSE 'train' END AS split
FROM documents
"""


@query("split_documents", ORACLE_SPLIT)
def split_documents(spark, sf_dir):
    """5%/5%/90% val/test/train assignment in one map-side pass off the
    md5 bucket stream: membership is a pure function of doc_id, so a
    corpus rebuild can never leak val docs into train. No shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.train_val_test_split(
        docs, "doc_id", val_fraction=0.05, test_fraction=0.05
    ).select("doc_id", "split")


# --- leakage-safe split: near-dup clusters land in ONE split

_COMP_BUCKET = (
    _hex2int_sql("md5('42|' || component::VARCHAR)", 1, 8) + " % 1000000"
)

ORACLE_LEAKAGE_SAFE_SPLIT = f"""
WITH RECURSIVE {_DOC_SHINGLES},
{_MINHASH_SIG_SQL},
banded AS (
  SELECT doc_id, b, md5(list_aggregate(sg[b * 4 + 1 : b * 4 + 4], 'string_agg', '|')) AS bh
  FROM sig CROSS JOIN generate_series(0, 7) t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (b, bh) WHERE a.doc_id < b.doc_id
),
vpairs AS (
  SELECT id_a, id_b
  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
  WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE /
        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8
),
edges AS (SELECT id_a AS s, id_b AS t FROM vpairs UNION SELECT id_b, id_a FROM vpairs),
reach AS (
  SELECT s, t FROM edges
  UNION
  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
),
comp AS (
  SELECT dd.doc_id, least(dd.doc_id, coalesce(min(r.t), dd.doc_id)) AS component
  FROM documents dd LEFT JOIN reach r ON r.s = dd.doc_id
  GROUP BY dd.doc_id
)
SELECT doc_id, component,
       CASE WHEN {_COMP_BUCKET} < 50000 THEN 'val'
            WHEN {_COMP_BUCKET} < 100000 THEN 'test'
            ELSE 'train' END AS split
FROM comp
"""


@query("leakage_safe_split_documents", ORACLE_LEAKAGE_SAFE_SPLIT)
def leakage_safe_split_documents(spark, sf_dir):
    """Near-dup-aware train/val/test split (sampling.leakage_safe_split):
    the hash bucket is computed on the MinHash duplicate-cluster label,
    so every member of a near-dup cluster shares one split — the
    eval-contamination guard `split_documents`' per-doc bucket cannot
    give (a near-copy of a val doc may land in train there). Oracle:
    the components recursive-CTE closure + the same md5 bucket CASE on
    the component label."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_sets(docs, "doc_id", "text", n=3).cache()
    sigs = dedup.minhash_signatures(
        docs, "doc_id", "text", num_hashes=32, n=3, shingles=sh
    )
    cands = dedup.minhash_lsh_pairs(sigs, bands=8, rows_per_band=4)
    verified = (
        cands.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .where(
            dedup.jaccard_sets("sh_a", "sh_b") >= 0.8
        )
        .select("id_a", "id_b")
    )
    return sampling.leakage_safe_split(
        docs, verified, "doc_id", val_fraction=0.05, test_fraction=0.05,
        component_col="component",
    ).select("doc_id", "component", "split")


# --- dedup evaluation harness: MinHash-LSH candidate recall/precision
#     against the exact-Jaccard ground truth


ORACLE_DEDUP_LSH_EVAL = f"""
WITH {_DOC_SHINGLES},
{_MINHASH_SIG_SQL},
banded AS (
  SELECT doc_id, b,
         md5(list_aggregate(list_transform(sg[b * 4 + 1 : b * 4 + 4],
             v -> v::VARCHAR), 'string_agg', '|')) AS bh
  FROM sig CROSS JOIN generate_series(0, 7) t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (b, bh) WHERE a.doc_id < b.doc_id
),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM g),
tp AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(sh) AS s FROM g),
truth AS (
  SELECT id_a, id_b
  FROM tp JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
  WHERE inter::DOUBLE / (sa.s + sb.s - inter) >= 0.8
),
hit AS (SELECT id_a, id_b FROM truth INTERSECT SELECT id_a, id_b FROM cand)
SELECT (SELECT count(*) FROM truth)::BIGINT AS n_true,
       (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
       (SELECT count(*) FROM hit)::BIGINT AS n_hits,
       round((SELECT count(*) FROM hit)::DOUBLE
             / nullif((SELECT count(*) FROM truth), 0), 6) AS pair_recall,
       round((SELECT count(*) FROM hit)::DOUBLE
             / nullif((SELECT count(*) FROM cand), 0), 6) AS pair_precision
"""


@query("dedup_lsh_eval", ORACLE_DEDUP_LSH_EVAL)
def dedup_lsh_eval(spark, sf_dir):
    """Dedup-pipeline evaluation: candidate recall AND precision of the
    MinHash-LSH banding (32 hashes, 8x4) against the exact 3-gram
    Jaccard >= 0.8 ground truth — the number you tune bands/rows against
    before trusting LSH on a corpus too big for the exact join. Both
    pipelines are deterministic, so the metrics themselves are
    hash-verifiable; at 100 TB the exact side runs on a held-out sample
    while the LSH side is the production path."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_sets(docs, "doc_id", "text", n=3).cache()
    truth = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=None
    ).select("id_a", "id_b").cache()
    sigs = dedup.minhash_signatures(
        docs, "doc_id", "text", num_hashes=32, n=3, shingles=sh
    )
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, rows_per_band=4).cache()
    hits = truth.join(cand, ["id_a", "id_b"], "inner")
    counts = (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
    )
    return counts.select(
        "n_true",
        "n_candidates",
        "n_hits",
        F.round(
            F.col("n_hits") / F.nullif(F.col("n_true"), F.lit(0)), 6
        ).alias("pair_recall"),
        F.round(
            F.col("n_hits") / F.nullif(F.col("n_candidates"), F.lit(0)), 6
        ).alias("pair_precision"),
    )


# --- hybrid retrieval: BM25 candidate generation + embedding rerank


ORACLE_HYBRID = f"""
WITH d AS ({_DOC_TOKENS}),
dl AS (SELECT doc_id, len(toks) AS dl FROM d),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
post AS (
  SELECT doc_id, token AS term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS token FROM d)
  WHERE token IN ('spark', 'stream', 'vector')
  GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY 1),
sc AS (
  SELECT p.doc_id,
         ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (p.tf * {_BM25_K1 + 1})
           / (p.tf + {_BM25_K1} * (1 - {_BM25_B}
                                   + ({_BM25_B} * l.dl) / s.avgdl)) AS contrib
  FROM post p
  JOIN dfreq f USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN stats s
),
cand AS (
  SELECT doc_id AS id, round(sum(contrib), 6) AS bm25_score
  FROM sc GROUP BY 1
  ORDER BY bm25_score DESC, id LIMIT 50
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
rer AS (
  SELECT cand.id, cand.bm25_score,
         list_dot_product(qv.q, e.v) /
         (sqrt(list_dot_product(qv.q, qv.q)) * sqrt(list_dot_product(e.v, e.v))) AS cos
  FROM cand JOIN e ON e.vec_id = cand.id CROSS JOIN qv
)
SELECT id, bm25_score, round(cos, 6) AS cos_sim,
       row_number() OVER (ORDER BY cos DESC, id)::INT AS rank
FROM rer QUALIFY rank <= 10
"""


@query("hybrid_retrieval_documents", ORACLE_HYBRID)
def hybrid_retrieval_documents(spark, sf_dir):
    """Retrieve-then-rerank, the standard two-stage search pipeline:
    BM25 pulls 50 lexical candidates (cheap inverted-postings pass over
    the whole corpus), then ONLY those 50 are reranked by embedding
    cosine against the probe vector. At 100 TB the corpus-wide stage
    stays keyword-cheap and the expensive vector math touches 50 rows —
    the composition is the point. Probe = the 3-term BM25 query + the
    vec_id-0 embedding; doc_id aligns with vec_id in the fixture."""
    from thoth_spark.operators.similarity import _as_double, cosine

    docs = _documents(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cand = retrieval.bm25_topk(
        docs, "doc_id", "text", list(_BM25_TERMS), k=50, k1=_BM25_K1, b=_BM25_B
    ).select("id", F.col("score").alias("bm25_score"))
    qv = (
        emb.where(F.col("vec_id") == 0)
        .select(_as_double(F.col("embedding")).alias("qv"))
    )
    rer = (
        cand.join(
            emb.select(
                F.col("vec_id").alias("id"), _as_double(F.col("embedding")).alias("cv")
            ),
            "id",
        )
        .crossJoin(F.broadcast(qv))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = W.orderBy(F.col("cos").desc(), F.col("id"))
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 10)
        .select("id", "bm25_score", F.round("cos", 6).alias("cos_sim"), "rank")
    )


# --- robust (median/MAD) outlier flags over the daily metric series


ORACLE_MAD_OUTLIERS = """
WITH s AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         round(avg(value), 6) AS daily_mean
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, quantile_cont(daily_mean, 0.5) AS grp_median
  FROM s GROUP BY 1
),
mad AS (
  SELECT s.event_type,
         quantile_cont(abs(s.daily_mean - med.grp_median), 0.5) AS grp_mad
  FROM s JOIN med USING (event_type) GROUP BY 1, grp_median
)
SELECT s.event_type, s.d, s.daily_mean,
       round(med.grp_median, 6) AS grp_median,
       round(mad.grp_mad, 6) AS grp_mad,
       CASE WHEN mad.grp_mad > 0
            THEN abs(s.daily_mean - med.grp_median) > 3.0 * 1.4826 * mad.grp_mad
            ELSE abs(s.daily_mean - med.grp_median) > 0 END AS is_outlier
FROM s JOIN med USING (event_type) JOIN mad USING (event_type)
"""


@query("mad_outliers_events", ORACLE_MAD_OUTLIERS)
def mad_outliers_events(spark, sf_dir):
    """Hampel-filter outlier flags on the per-type daily mean series:
    the cheap assumption-free sibling of the model-based scorers (50%
    breakdown point — anomalies can't drag the threshold). Runs on the
    profiled series (days x types rows), never raw events; exact
    medians, group stats broadcast back; fully SQL-replayed."""
    from thoth_spark.anomaly.robust import mad_outliers

    events = _events(spark, sf_dir)
    series = events.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.round(F.avg("value"), 6).alias("daily_mean"))
    out = mad_outliers(series, "daily_mean", ["event_type"], k=3.0)
    return out.select(
        "event_type",
        "d",
        "daily_mean",
        F.round("grp_median", 6).alias("grp_median"),
        F.round("grp_mad", 6).alias("grp_mad"),
        "is_outlier",
    )


# --- ordered funnel analysis (signup -> click -> purchase)


ORACLE_FUNNEL = """
WITH f AS (
  SELECT user_id, ts, event_type FROM events
  WHERE event_type IN ('signup', 'click', 'purchase')
),
s1 AS (SELECT user_id, min(ts) AS t1 FROM f WHERE event_type = 'signup' GROUP BY 1),
s2 AS (
  SELECT f.user_id, min(f.ts) AS t2
  FROM f JOIN s1 USING (user_id)
  WHERE f.event_type = 'click' AND f.ts > s1.t1 GROUP BY 1
),
s3 AS (
  SELECT f.user_id, min(f.ts) AS t3
  FROM f JOIN s2 USING (user_id)
  WHERE f.event_type = 'purchase' AND f.ts > s2.t2 GROUP BY 1
)
SELECT u.user_id, s1.t1 AS stage1_ts, s2.t2 AS stage2_ts, s3.t3 AS stage3_ts,
       ((s1.t1 IS NOT NULL)::INT + (s2.t2 IS NOT NULL)::INT
        + (s3.t3 IS NOT NULL)::INT) AS stages_completed
FROM (SELECT DISTINCT user_id FROM f) u
LEFT JOIN s1 USING (user_id)
LEFT JOIN s2 USING (user_id)
LEFT JOIN s3 USING (user_id)
"""


@query("funnel_events", ORACLE_FUNNEL)
def funnel_events(spark, sf_dir):
    """Ordered conversion funnel signup -> click -> purchase per user:
    each stage's earliest event strictly after the previous stage.
    One map-side step filter + ONE shuffle; the stage recursion folds
    over per-key events in JVM array expressions (the oracle replays it
    as chained per-stage min-aggregations — k passes, same answer)."""
    events = _events(spark, sf_dir)
    return relational.funnel(
        events, ["user_id"], "ts", "event_type", ["signup", "click", "purchase"]
    )


# --- quality percentile-rank normalization (distributed, no global sort)


ORACLE_QUALITY_PERCENTILE = f"""
WITH q AS ({ORACLE_TEXT_QUALITY.strip()})
SELECT doc_id, quality_score,
       round(row_number() OVER (ORDER BY quality_score, doc_id)
             / (count(*) OVER ())::DOUBLE, 6) AS quality_pct
FROM q
"""


@query("quality_percentile_documents", ORACLE_QUALITY_PERCENTILE)
def quality_percentile_documents(spark, sf_dir):
    """Percentile-rank normalization of the quality score: thresholds
    like 'drop the bottom 20%' stay meaningful when the raw score
    distribution drifts between crawls. The global ordinal rank uses the
    range-partition + offset scheme (`relational.global_rank`) — a
    parallel range sort plus a broadcast per-partition offset table,
    never a single-partition window; ties break on doc_id so the rank
    (and hash) is deterministic."""
    docs = _documents(spark, sf_dir)
    scored = text.quality_score(docs, "text").select("doc_id", "quality_score")
    ranked = relational.global_rank(
        scored, ["quality_score", "doc_id"], rank_col="__r", keep_total=True
    )
    return ranked.select(
        "doc_id",
        "quality_score",
        F.round(F.col("__r") / F.col("__total"), 6).alias("quality_pct"),
    )


# --- cohort retention triangle


ORACLE_COHORT = """
WITH first AS (
  SELECT user_id, min(date_trunc('week', ts))::DATE AS cohort
  FROM events GROUP BY 1
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS p FROM events
),
joined AS (
  SELECT f.cohort, datediff('day', f.cohort, a.p) AS "offset", a.user_id
  FROM active a JOIN first f USING (user_id)
),
counts AS (
  SELECT cohort, "offset", count(*)::BIGINT AS active FROM joined GROUP BY 1, 2
),
sizes AS (SELECT cohort, count(*)::BIGINT AS cohort_size FROM first GROUP BY 1)
SELECT c.cohort, c."offset"::INT AS offset, c.active, s.cohort_size,
       round(c.active / s.cohort_size::DOUBLE, 6) AS retention_rate
FROM counts c JOIN sizes s USING (cohort)
"""


@query("cohort_retention_events", ORACLE_COHORT)
def cohort_retention_events(spark, sf_dir):
    """Weekly cohort retention triangle over the events table: users
    bucketed by first-activity week, per (cohort, day-offset) the
    fraction still active. Shuffles stay keyed on user_id until the
    frame is aggregate-sized; cohort sizes broadcast back — the hot
    cohort key never partitions raw data."""
    events = _events(spark, sf_dir)
    out = relational.cohort_retention(events, ["user_id"], "ts", bucket="week")
    return out.select(
        "cohort", F.col("offset").cast("int").alias("offset"),
        "active", "cohort_size", "retention_rate",
    )


# --- per-source quality percentile (grouped distributed rank)


ORACLE_QUALITY_PCT_BY_SOURCE = f"""
WITH q AS ({ORACLE_TEXT_QUALITY.strip()})
SELECT d.source, q.doc_id, q.quality_score,
       round(row_number() OVER (PARTITION BY d.source
                                ORDER BY q.quality_score, q.doc_id)
             / (count(*) OVER (PARTITION BY d.source))::DOUBLE, 6)
         AS quality_pct_in_source
FROM q JOIN documents d USING (doc_id)
"""


@query("quality_percentile_by_source", ORACLE_QUALITY_PCT_BY_SOURCE)
def quality_percentile_by_source(spark, sf_dir):
    """Per-SOURCE quality percentiles: normalize each crawl source's
    score distribution onto [0,1] so one threshold means the same thing
    for every source. A window partitioned by source would funnel a
    dominant source through one task; `grouped_global_rank` range-
    partitions on (source, score) so hot groups span partitions, with
    per-(group, partition) offsets broadcast back — exact ranks, no
    hot-group bottleneck."""
    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_score(docs, "text").select(
        "doc_id", "source", "quality_score"
    )
    ranked = relational.grouped_global_rank(
        scored,
        ["source"],
        ["quality_score", "doc_id"],
        rank_col="__r",
        keep_group_total=True,
    )
    return ranked.select(
        "source",
        "doc_id",
        "quality_score",
        F.round(F.col("__r") / F.col("__gtotal"), 6).alias("quality_pct_in_source"),
    )


# --- PageRank calibration (2 unrolled iterations, hash-verified)


ORACLE_PAGERANK_CAL = """
WITH e AS (
  SELECT doc_id AS s, doc_id % 97 AS t FROM documents WHERE doc_id % 97 <> doc_id
),
nodes AS (SELECT DISTINCT id FROM (SELECT s AS id FROM e UNION SELECT t AS id FROM e)),
deg AS (SELECT s, count(*)::DOUBLE AS deg FROM e GROUP BY 1),
p AS (SELECT count(*)::BIGINT AS n FROM nodes),
r0 AS (SELECT id, 1.0 AS rank FROM nodes),
dang0 AS (
  SELECT coalesce(sum(r0.rank), 0) AS dm FROM r0
  WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.s = r0.id)
),
in1 AS (
  SELECT e.t AS id, sum(r0.rank / deg.deg) AS inflow
  FROM e JOIN deg USING (s) JOIN r0 ON r0.id = e.s GROUP BY 1
),
r1 AS (
  SELECT nodes.id,
         0.15 + 0.85 * (coalesce(in1.inflow, 0) + dang0.dm / p.n) AS rank
  FROM nodes LEFT JOIN in1 USING (id) CROSS JOIN dang0 CROSS JOIN p
),
dang1 AS (
  SELECT coalesce(sum(r1.rank), 0) AS dm FROM r1
  WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.s = r1.id)
),
in2 AS (
  SELECT e.t AS id, sum(r1.rank / deg.deg) AS inflow
  FROM e JOIN deg USING (s) JOIN r1 ON r1.id = e.s GROUP BY 1
),
r2 AS (
  SELECT nodes.id,
         0.15 + 0.85 * (coalesce(in2.inflow, 0) + dang1.dm / p.n) AS rank
  FROM nodes LEFT JOIN in2 USING (id) CROSS JOIN dang1 CROSS JOIN p
)
SELECT id, round(rank, 6) AS rank FROM r2
"""


@query("pagerank_documents_calibration", ORACLE_PAGERANK_CAL)
def pagerank_documents_calibration(spark, sf_dir):
    """The PageRank dataflow hash-verified end-to-end: two power
    iterations (unrolled in the SQL oracle) over a deterministic hub
    graph on the documents table (doc -> doc_id % 97; ids < 97 are
    dangling, so the dangling-mass redistribution is exercised too).
    Production runs `pagerank` to convergence on a real link/similarity
    graph — this is the calibration point proving join + inflow +
    dangling arithmetic, the same pattern as the IVF full-probe
    query."""
    from thoth_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    edges = docs.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") % 97).alias("dst")
    ).where(F.col("src") != F.col("dst"))
    out = pagerank(edges, tol=None, max_iterations=2)
    return out.select("id", F.round("rank", 6).alias("rank"))


# --- per-source distinguishing keywords (class-based TF-IDF)


ORACLE_SOURCE_KEYWORDS = f"""
WITH d AS ({_DOC_TOKENS}),
tok AS (
  SELECT doc.source, t.token
  FROM d JOIN documents doc USING (doc_id), unnest(d.toks) AS t(token)
  WHERE t.token <> ''
),
tf AS (SELECT source, token, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
stot AS (SELECT source, sum(tf)::DOUBLE AS n_tok FROM tf GROUP BY 1),
sdf AS (SELECT token, count(DISTINCT source)::BIGINT AS df FROM tf GROUP BY 1),
ns AS (SELECT count(DISTINCT source)::BIGINT AS n FROM tf),
sc AS (
  SELECT tf.source, tf.token,
         (tf.tf / stot.n_tok) * ln(1.0 + ns.n / sdf.df) AS score
  FROM tf JOIN stot USING (source) JOIN sdf USING (token) CROSS JOIN ns
),
rk AS (
  SELECT source, token, round(score, 6) AS ctfidf,
         row_number() OVER (PARTITION BY source
                            ORDER BY score DESC, token)::INT AS rank
  FROM sc
)
SELECT source, token, ctfidf, rank FROM rk WHERE rank <= 5
"""


@query("source_keywords_documents", ORACLE_SOURCE_KEYWORDS)
def source_keywords_documents(spark, sf_dir):
    """Top-5 distinguishing terms per source (class-based TF-IDF,
    BERTopic's c-TF-IDF recipe): term rate within the source weighted by
    cross-source rarity — the 'what is this crawl source actually made
    of' audit. One corpus explode + aggregate-sized frames; the
    per-source top-k window runs on #sources x #terms rows, never raw
    tokens."""
    docs = _documents(spark, sf_dir)
    tok = docs.select(
        "source", F.explode(text.tokens(F.col("text"))).alias("token")
    ).where(F.col("token") != "")
    tf = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("tf"))
    stot = tf.groupBy("source").agg(F.sum("tf").cast("double").alias("n_tok"))
    sdf = tf.groupBy("token").agg(F.count_distinct("source").alias("df"))
    ns = tf.agg(F.count_distinct("source").alias("n"))
    sc = (
        tf.join(F.broadcast(stot), "source")
        .join(F.broadcast(sdf), "token")
        .crossJoin(F.broadcast(ns))
        .withColumn(
            "score",
            (F.col("tf") / F.col("n_tok")) * F.log(1.0 + F.col("n") / F.col("df")),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(F.col("score").desc(), F.col("token"))
    )
    return (
        sc.withColumn("rank", rk.cast("int"))
        .where(F.col("rank") <= 5)
        .select("source", "token", F.round("score", 6).alias("ctfidf"), "rank")
    )


# --- profiling-run diff (metric regression detection)


ORACLE_PROFILE_DIFF = """
WITH oldm AS (
  SELECT date_trunc('day', ts)::DATE AS ts, 'Dataset' AS entity, '*' AS instance,
         'Size' AS name, count(*)::DOUBLE AS value
  FROM events WHERE ts < TIMESTAMP '2024-01-21' GROUP BY 1
  UNION ALL
  SELECT date_trunc('day', ts)::DATE, 'Column', 'value', 'Mean', avg(value)
  FROM events WHERE ts < TIMESTAMP '2024-01-21' GROUP BY 1
),
newm AS (
  SELECT date_trunc('day', ts)::DATE AS ts, 'Dataset' AS entity, '*' AS instance,
         'Size' AS name, count(*)::DOUBLE AS value
  FROM events GROUP BY 1
  UNION ALL
  SELECT date_trunc('day', ts)::DATE, 'Column', 'value', 'Mean',
         avg(CASE WHEN user_id % 5 = 0 THEN value * 2 ELSE value END)
  FROM events GROUP BY 1
),
o AS (SELECT ts, entity, instance, name, round(value, 6) AS old_value FROM oldm),
n AS (SELECT ts, entity, instance, name, round(value, 6) AS new_value FROM newm)
SELECT coalesce(o.ts, n.ts) AS ts,
       coalesce(o.entity, n.entity) AS entity,
       coalesce(o.instance, n.instance) AS instance,
       coalesce(o.name, n.name) AS name,
       o.old_value, n.new_value,
       CASE WHEN o.old_value IS NULL THEN 'added'
            WHEN n.new_value IS NULL THEN 'removed'
            WHEN o.old_value = n.new_value THEN 'unchanged'
            ELSE 'changed' END AS status
FROM o FULL OUTER JOIN n
  ON o.ts = n.ts AND o.entity = n.entity AND o.instance = n.instance AND o.name = n.name
"""


@query("profile_diff_events", ORACLE_PROFILE_DIFF)
def profile_diff_events(spark, sf_dir):
    """Metric-regression detection between two pipeline versions: the
    'old' run profiles the first 20 days, the 'new' run profiles all 30
    days of a changed pipeline (every 5th user's values doubled). The
    diff pinpoints WHICH statistic moved on WHICH day — Means change,
    Sizes stay, days 21+ are added. One full-outer join over
    aggregate-sized metric frames; raw data never joins."""
    from thoth_spark.profiler import Mean, ProfilingBuilder, Size
    from thoth_spark.profiler.drift import profile_diff

    events = _events(spark, sf_dir)
    builder = ProfilingBuilder(analyzers=[Size(), Mean("value")])
    old = profile(
        events.where(F.col("ts") < "2024-01-21").select("ts", "value"), "ts", builder
    )
    changed = events.withColumn(
        "value",
        F.when(F.col("user_id") % 5 == 0, F.col("value") * 2).otherwise(
            F.col("value")
        ),
    )
    new = profile(changed.select("ts", "value"), "ts", builder)
    diff = profile_diff(_round_metrics(old), _round_metrics(new))
    return diff.select(
        F.col("ts").cast("date").alias("ts"),
        "entity",
        "instance",
        "name",
        "old_value",
        "new_value",
        "status",
    )


# --- collocation mining (pointwise mutual information over bigrams)


_PMI_MIN_COUNT = 5  # the conventional phrase-mining noise floor

ORACLE_COLLOCATIONS = f"""
WITH d AS ({_DOC_TOKENS}),
bg AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM d, unnest(generate_series(1, len(toks) - 1)) AS t(i)
  WHERE toks[i] <> '' AND toks[i + 1] <> ''
),
n AS (SELECT count(*)::DOUBLE AS total FROM bg),
bc AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY 1, 2),
u1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM bg GROUP BY 1),
u2 AS (SELECT w2, count(*)::BIGINT AS c2 FROM bg GROUP BY 1),
sc AS (
  SELECT bc.w1, bc.w2, bc.c12,
         ln((bc.c12 / n.total) / ((u1.c1 / n.total) * (u2.c2 / n.total))) AS pmi
  FROM bc JOIN u1 USING (w1) JOIN u2 USING (w2) CROSS JOIN n
  WHERE bc.c12 >= {_PMI_MIN_COUNT}
)
SELECT w1, w2, c12, round(pmi, 6) AS pmi
FROM sc ORDER BY pmi DESC, w1, w2 LIMIT 20
"""


@query("collocations_documents", ORACLE_COLLOCATIONS)
def collocations_documents(spark, sf_dir):
    """Top-20 collocations by PMI (adjacent-bigram pointwise mutual
    information, min count 5 — the conventional phrase-mining noise
    floor; the top-k LIMIT, not the floor, bounds output at any corpus
    scale) — the phrase-mining primitive behind tokenizer merge
    candidates and boilerplate phrase discovery. One corpus bigram explode + one groupBy; unigram margins
    are vocabulary-sized broadcast joins; top-k is TakeOrdered."""
    docs = _documents(spark, sf_dir)
    toks = text.tokens(F.col("text"))
    bg = (
        docs.select(
            F.explode(
                F.when(
                    F.size(toks) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(toks) - 1),
                        lambda i: F.struct(
                            F.element_at(toks, i).alias("w1"),
                            F.element_at(toks, i + 1).alias("w2"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")).cache()
    total = bc.agg(F.sum("c12").cast("double").alias("total"))
    u1 = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    u2 = bc.groupBy("w2").agg(F.sum("c12").alias("c2"))
    sc = (
        bc.where(F.col("c12") >= _PMI_MIN_COUNT)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "pmi",
            F.log(
                (F.col("c12") / F.col("total"))
                / ((F.col("c1") / F.col("total")) * (F.col("c2") / F.col("total")))
            ),
        )
    )
    return (
        sc.select("w1", "w2", "c12", F.round("pmi", 6).alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Prefix-filtered exact similarity joins (round 5 continuation)
# ---------------------------------------------------------------------------

ORACLE_JACCARD_PREFIX = f"""
WITH {_DOC_SHINGLES},
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM g),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(sh) AS s FROM g)
SELECT id_a, id_b, round(inter::DOUBLE / (sa.s + sb.s - inter), 6) AS jaccard
FROM pairs JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE inter::DOUBLE / (sa.s + sb.s - inter) >= 0.6
"""


@query("dedup_jaccard_prefix_documents", ORACLE_JACCARD_PREFIX)
def dedup_jaccard_prefix_documents(spark, sf_dir):
    """EXACT Jaccard >= 0.6 pairs via AllPairs/PPJoin prefix filtering
    (dedup.jaccard_prefix_pairs): each document indexes only its
    |s| - ceil(t|s|) + 1 globally-RAREST shingles, so hot boilerplate
    never generates candidates and no df cap (with its semantics trade)
    is needed — the scale path that stays exact. The oracle is the
    straightforward full-inverted-index Jaccard join: prefix filtering
    must reproduce it verbatim (completeness theorem + exact verify)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_prefix_pairs(docs, "doc_id", "text", n=3, threshold=0.6)


ORACLE_CONTAINMENT = f"""
WITH {_DOC_SHINGLES},
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM g),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id <> b.doc_id GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(sh) AS s FROM g)
SELECT id_a, id_b, round(inter::DOUBLE / sa.s, 6) AS containment
FROM pairs JOIN sz sa ON sa.doc_id = id_a
WHERE inter::DOUBLE / sa.s >= 0.7
"""


@query("dedup_containment_documents", ORACLE_CONTAINMENT)
def dedup_containment_documents(spark, sf_dir):
    """Asymmetric near-containment pairs (|A∩B|/|A| >= 0.7): subsumption
    duplicates (a short doc quoted inside a long one) that symmetric
    Jaccard structurally misses when |B| >> |A|. Prefix filter applies
    on the contained side only; max_token_df=None pins exact semantics
    to match the oracle (production keeps the finite default)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.7, max_token_df=None
    )


#: document-frequency cap for the CAPPED containment query — small enough
#: to bind at sf0.01 (shingle df reaches 7 there), so the driver's hash
#: actually exercises the cap's semantics trade, not just the exact path
_CONTAINMENT_CAP_DF = 5

# The capped path's OUTPUT semantics are exactly SQL-expressible without
# replaying any prefix machinery: capped tokens have df > cap >= df of
# every surviving token, so they sort strictly LAST in the global
# ascending-df token order — hence the first shared token of a pair with
# >=1 surviving shared token IS a surviving token, and the prefix-filter
# theorem places it inside A's prefix. Therefore a pair is emitted iff
# full-set containment >= t AND min df over the shared shingles <= cap
# (the same reference semantics test_containment_capped_equals_cap_only
# pins brute-force in Python; dedup.py:containment_candidates docstring
# carries the proof).
ORACLE_CONTAINMENT_CAPPED = f"""
WITH {_DOC_SHINGLES},
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM g),
dfreq AS (SELECT shingle, count(*) AS df FROM inv GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         count(*) AS inter, min(f.df) AS min_df
  FROM inv a JOIN inv b USING (shingle) JOIN dfreq f USING (shingle)
  WHERE a.doc_id <> b.doc_id GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(sh) AS s FROM g)
SELECT id_a, id_b, round(inter::DOUBLE / sa.s, 6) AS containment
FROM pairs JOIN sz sa ON sa.doc_id = id_a
WHERE inter::DOUBLE / sa.s >= 0.7 AND min_df <= {_CONTAINMENT_CAP_DF}
"""


@query("dedup_containment_capped_documents", ORACLE_CONTAINMENT_CAPPED)
def dedup_containment_capped_documents(spark, sf_dir):
    """The PRODUCTION containment path (finite ``max_token_df``):
    prefix-filtered candidates against a df-capped container index +
    per-meeting positional filter + full-set verify
    (dedup.containment_candidates / containment_pairs). The cap bounds
    candidate volume ∝ true-pair density on boilerplate corpora (the r8
    skew program's measured 46-candidates-for-46-true-pairs fixture);
    its documented semantics trade — pairs whose every shared shingle is
    over-cap are not found — is replayed verbatim by the oracle's
    ``min_df <= cap`` predicate, so the driver hash-verifies the capped
    dataflow, not just the exact one."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.7,
        max_token_df=_CONTAINMENT_CAP_DF,
    )


def _ewma_oracle(lam: float = 0.2, L: float = 3.0) -> str:
    """EWMA recurrence as a recursive CTE, mirroring ewma_control's
    Python operation order (constants injected via repr, same
    expression shapes) so DuckDB's doubles land within round(6) of
    Spark's; the alarm MARGIN is rounded on both sides, so a boundary
    alarm cannot flip on FP dust."""
    la, ila, l_ = repr(float(lam)), f"(1.0 - {lam!r})", repr(float(L))
    return f"""WITH RECURSIVE {_SERIES_SQL},
idx AS (
  SELECT *, row_number() OVER (PARTITION BY entity, instance, name ORDER BY ts) AS i
  FROM series
),
m AS (SELECT entity, instance, name, avg(value) AS mu FROM series GROUP BY 1, 2, 3),
stats AS (
  SELECT s.entity, s.instance, s.name, m.mu,
         sqrt(sum((s.value - m.mu) * (s.value - m.mu)) / count(*)) AS sigma
  FROM series s JOIN m USING (entity, instance, name)
  GROUP BY 1, 2, 3, m.mu
),
rec AS (
  SELECT entity, instance, name, 0 AS i, mu AS z FROM stats
  UNION ALL
  SELECT r.entity, r.instance, r.name, r.i + 1,
         {la} * x.value + {ila} * r.z
  FROM rec r JOIN idx x USING (entity, instance, name)
  WHERE x.i = r.i + 1
),
chart AS (
  SELECT x.entity, x.instance, x.name, x.ts, x.value, r.z, s.mu,
         ({l_} * s.sigma * sqrt({la} / (2.0 - {la})))
           * sqrt(1.0 - power({ila}, 2 * x.i)) AS lim
  FROM idx x
  JOIN rec r USING (entity, instance, name, i)
  JOIN stats s USING (entity, instance, name)
)
SELECT entity, instance, name, ts::DATE AS ts,
       round(value, 6) AS value, round(z, 6) AS ewma,
       round(mu - lim, 6) AS lcl, round(mu + lim, 6) AS ucl,
       (round(abs(z - mu) - lim, 6) > 0) AS is_alarm
FROM chart
"""


@query("ewma_control_events", _ewma_oracle())
def ewma_control_events(spark, sf_dir):
    """EWMA control chart on the profiled metric series: the classic
    small-persistent-shift detector (smoothed state accumulates drift a
    memoryless rule dilutes), with the exact time-varying control limit.
    One applyInPandas task per series over the days x metrics frame;
    the recurrence replays exactly in a recursive-CTE oracle."""
    from thoth_spark.anomaly.robust import ewma_control

    metrics = _metric_series(spark, sf_dir)
    out = ewma_control(metrics, "value", KEY, "ts", lam=0.2, L=3.0)
    return out.select(
        *KEY,
        F.col("ts").cast("date").alias("ts"),
        F.round("value", 6).alias("value"),
        F.round("ewma", 6).alias("ewma"),
        F.round("lcl", 6).alias("lcl"),
        F.round("ucl", 6).alias("ucl"),
        "is_alarm",
    )


ORACLE_GAP_FILL = """
WITH ev AS (SELECT * FROM events WHERE date_part('day', ts) % 5 <> 0),
series AS (
  SELECT 'Column' AS entity, 'value' AS instance, 'Mean' AS name,
         date_trunc('day', ts) AS ts, avg(value) AS value FROM ev GROUP BY 4
  UNION ALL SELECT 'Dataset', '*', 'Size', date_trunc('day', ts), count(*)::DOUBLE
  FROM ev GROUP BY 4
),
bounds AS (SELECT min(ts) AS lo, max(ts) AS hi FROM series),
grid AS (SELECT unnest(generate_series(lo, hi, interval '1 day')) AS ts FROM bounds),
keys AS (SELECT DISTINCT entity, instance, name FROM series),
dense AS (SELECT g.ts, k.entity, k.instance, k.name FROM grid g CROSS JOIN keys k)
SELECT d.ts::DATE AS ts, d.entity, d.instance, d.name,
       round(CASE WHEN s.entity IS NULL AND d.name = 'Size' THEN 0.0 ELSE s.value END, 6) AS value,
       (s.entity IS NULL) AS is_gap
FROM dense d LEFT JOIN series s
  ON s.ts = d.ts AND s.entity = d.entity AND s.instance = d.instance AND s.name = d.name
"""


@query("profile_events_gap_fill", ORACLE_GAP_FILL)
def profile_events_gap_fill(spark, sf_dir):
    """Dense metric series via fill_gaps: days with zero rows are
    invisible to groupBy(date_trunc) but are often the strongest signal
    (the pipeline didn't run) — and window/lag models need a dense grid
    to mean anything. The fixture filters out every 5th calendar day to
    create REAL gaps, profiles Mean+Size, then densifies: gap rows get
    Size = 0 (an absent day had zero rows) and null Mean, flagged
    is_gap. Grid built from a one-row bounds aggregate x distinct keys;
    nothing collected to the driver."""
    from thoth_spark.profiler import fill_gaps

    ev = _events(spark, sf_dir).where(F.dayofmonth("ts") % 5 != 0)
    builder = ProfilingBuilder(analyzers=[Mean("value"), Size()])
    m = profile(ev.select("ts", "value"), "ts", builder)
    out = fill_gaps(m, fill={"Size": 0.0})
    return out.select(
        F.col("ts").cast("date").alias("ts"),
        *KEY,
        F.round("value", 6).alias("value"),
        "is_gap",
    )


ORACLE_TRAILING_WAU = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, user_id FROM events
),
days AS (SELECT DISTINCT d FROM daily)
SELECT days.d::DATE AS ts,
       count(DISTINCT daily.d) AS trailing_buckets,
       count(*) AS trailing_rows,
       TRUE AS wau_within
FROM days JOIN daily
  ON daily.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
GROUP BY 1
"""


@query("sketch_trailing_wau_events", ORACLE_TRAILING_WAU)
def sketch_trailing_wau_events(spark, sf_dir):
    """Trailing-7-day active users (WAU) from per-day HLL sketches: the
    raw events are scanned ONCE into daily sketches; every trailing
    window is then a union of 7 sketch blobs — distincts don't sum
    (overlapping users double-count), which is exactly what the
    mergeable sketch solves, and at 100 TB it turns a 7-day rescan per
    dashboard point into byte-sized merges. Gate design (r12):
    trailing_buckets/trailing_rows stay hash-EXACT (additive); the WAU
    estimate is gated as a ±3·rsd BOUND against the exact trailing
    count_distinct computed here via the same day-range join the
    DuckDB oracle uses (the r9 gate hash-matched the estimate itself,
    which only holds below the HLL exactness threshold — already 0.8%
    off at sf0.1)."""
    from thoth_spark.profiler.sketches import sketch_profile, trailing_distinct

    ev = _events(spark, sf_dir)
    daily = sketch_profile(ev, "ts", distinct_cols=["user_id"])
    out = trailing_distinct(daily, window_buckets=7).select(
        F.col("ts").cast("date").alias("ts"),
        "trailing_buckets",
        "trailing_rows",
        "trailing_distinct_user_id",
    )
    d_ev = ev.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    )
    days = d_ev.select("d").distinct().withColumnRenamed("d", "wd")
    exact = (
        days.join(
            d_ev,
            (F.col("d") >= F.col("wd") - F.expr("INTERVAL 6 DAY"))
            & (F.col("d") <= F.col("wd")),
        )
        .groupBy(F.col("wd").cast("date").alias("ts"))
        .agg(F.count_distinct("user_id").alias("__ex"))
    )
    return out.join(exact, "ts").select(
        "ts",
        "trailing_buckets",
        "trailing_rows",
        (
            F.abs(F.col("trailing_distinct_user_id") - F.col("__ex"))
            / F.col("__ex")
            <= F.lit(_HLL_MARGIN)
        ).alias("wau_within"),
    )


def _chi2_oracle(ref_end: str = "2024-01-08", eps: float = 0.5,
                 critical: float = 11.070497693516351) -> str:
    return f"""
WITH clean AS (SELECT ts, event_type AS c FROM events WHERE event_type IS NOT NULL),
ref AS (SELECT * FROM clean WHERE ts < TIMESTAMP '{ref_end}'),
refn AS (SELECT count(*) AS rn FROM ref),
rc AS (SELECT c, count(*) AS rc FROM ref GROUP BY 1),
k AS (SELECT count(*) AS k FROM rc),
probs AS (
  SELECT c, (rc + {eps!r}) / (refn.rn + {eps!r} * (k.k + 1)) AS p FROM rc, refn, k
  UNION ALL
  SELECT '__other__', {eps!r} / (refn.rn + {eps!r} * (k.k + 1)) FROM refn, k
),
cur AS (
  SELECT date_trunc('day', ts) AS d,
         CASE WHEN c IN (SELECT c FROM rc) THEN c ELSE '__other__' END AS c
  FROM clean WHERE ts >= TIMESTAMP '{ref_end}'
),
dc AS (SELECT d, c, count(*) AS o FROM cur GROUP BY 1, 2),
days AS (SELECT d, sum(o) AS n FROM dc GROUP BY 1),
dense AS (
  SELECT days.d, days.n, probs.c, probs.p, coalesce(dc.o, 0)::DOUBLE AS o
  FROM days CROSS JOIN probs LEFT JOIN dc ON dc.d = days.d AND dc.c = probs.c
)
SELECT d::DATE AS d, CAST(n AS BIGINT) AS n,
       round(sum((o - n * p) * (o - n * p) / (n * p)), 6) AS chi2,
       (sum((o - n * p) * (o - n * p) / (n * p)) > {critical!r}) AS chi2_alarm
FROM dense GROUP BY 1, 2
"""


@query("chi2_drift_events", _chi2_oracle())
def chi2_drift_events(spark, sf_dir):
    """Per-day chi-square drift of the event-type MIX vs the first week
    — the categorical member of the drift family (PSI = numeric shape,
    KS = numeric CDF gap, chi2 = category shares: language mix, source
    mix). The reference freeze carries Laplace-smoothed probabilities
    plus an __other__ slot, so a category never seen in the reference
    alarms loudly instead of leaking into the freeze (no look-ahead);
    the same frozen probs drive the streaming monitor bit-equally.
    Alarm at the α=0.05, df=5 critical value (5 reference categories +
    other-slot − 1). All post-count frames are days x categories
    metadata."""
    from thoth_spark.profiler.drift import chi2_daily

    ev = _events(spark, sf_dir)
    out = chi2_daily(ev, "ts", "event_type", "2024-01-08")
    return out.select(
        F.col("d").cast("date").alias("d"),
        "n",
        F.round("chi2", 6).alias("chi2"),
        "chi2_alarm",
    )


ORACLE_ROLLING_BAND = f"""
WITH {_SERIES_SQL}
SELECT entity, instance, name, ts::DATE AS ts, round(value, 6) AS value,
       count(*) OVER w AS band_n,
       round(avg(value) OVER w, 6) AS roll_mean,
       round(quantile_cont(value, 0.5) OVER w, 6) AS roll_median,
       round(avg(value) OVER w - 2.0 * coalesce(stddev_pop(value) OVER w, 0.0), 6) AS band_lo,
       round(avg(value) OVER w + 2.0 * coalesce(stddev_pop(value) OVER w, 0.0), 6) AS band_hi
FROM series
WINDOW w AS (PARTITION BY entity, instance, name ORDER BY ts
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


@query("viz_rolling_band_events", ORACLE_ROLLING_BAND)
def viz_rolling_band_events(spark, sf_dir):
    """Rolling-statistics dashboard band (trailing-7 mean ± 2·stddev +
    rolling exact median) over the profiled metric series — the smoothed
    trend + shaded normal band every metrics dashboard draws. Trailing
    ROW frames partitioned per metric key on the aggregate-sized
    frame."""
    from thoth_spark.viz import rolling_band_view

    metrics = _metric_series(spark, sf_dir)
    out = rolling_band_view(metrics, window=7, k=2.0)
    return out.select(
        *KEY,
        F.col("ts").cast("date").alias("ts"),
        F.round("value", 6).alias("value"),
        "band_n",
        F.round("roll_mean", 6).alias("roll_mean"),
        F.round("roll_median", 6).alias("roll_median"),
        F.round("band_lo", 6).alias("band_lo"),
        F.round("band_hi", 6).alias("band_hi"),
    )


ORACLE_CONTAINMENT_DEDUP = f"""
WITH {_DOC_SHINGLES},
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM g),
ip AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id <> b.doc_id GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(sh) AS s FROM g),
pairs AS (
  SELECT id_a, id_b FROM ip JOIN sz sa ON sa.doc_id = id_a
  WHERE inter::DOUBLE / sa.s >= 0.7
),
mutual AS (
  SELECT p.id_a, p.id_b FROM pairs p
  JOIN pairs q ON q.id_a = p.id_b AND q.id_b = p.id_a
),
drops AS (
  SELECT id_a AS d FROM pairs
  WHERE NOT EXISTS (SELECT 1 FROM mutual m WHERE m.id_a = pairs.id_a AND m.id_b = pairs.id_b)
  UNION
  SELECT id_a FROM mutual WHERE id_a > id_b
)
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT d FROM drops)
"""


@query("dedup_containment_survivors", ORACLE_CONTAINMENT_DEDUP)
def dedup_containment_survivors(spark, sf_dir):
    """Containment-dedup survivors: drop documents (nearly) contained in
    another (threshold 0.7), keep containers; mutual containment keeps
    the smaller id — the deterministic subsumption policy applied
    corpus-wide via a broadcast anti-join on the duplicate-density-sized
    drop list."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_dedup(
        docs, "doc_id", "text", n=3, threshold=0.7, max_token_df=None
    ).select("doc_id")


# ---------------------------------------------------------------------------
# Round-13 additions: Gopher rules, domain caps, kNN graph, diversity
# sampling, fuzzy decontamination
# ---------------------------------------------------------------------------

# Gopher quality-rule signal CTE, shared by the batch oracle and the
# streaming twin's replay (the two must never drift apart) —
# thresholds are applied to the ROUNDED signal columns because the
# operator compares after round(…, 6), making the verdict a pure
# function of the emitted row.
_GOPHER_SIG_SQL = """
d AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\\s+') AS toks,
         string_split(text, chr(10)) AS ls
  FROM documents
),
sig AS (
  SELECT doc_id,
    len(toks)::INT AS n_words,
    round(list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks), 6)
      AS avg_word_len,
    round((len(text) - len(replace(text, '#', '')))::DOUBLE
          / len(toks), 6) AS hash_word_ratio,
    round(((len(text) - len(replace(text, '...', ''))) / 3
           + (len(text) - len(replace(text, '…', ''))))::DOUBLE
          / len(toks), 6) AS ellipsis_word_ratio,
    round(len(list_filter(ls, l ->
          list_contains(['-', '*', '•'], substr(ltrim(l), 1, 1))))::DOUBLE
          / len(ls), 6) AS bullet_ratio,
    round(len(list_filter(ls, l -> ends_with(rtrim(l), '...')
                               OR ends_with(rtrim(l), '…')))::DOUBLE
          / len(ls), 6) AS ellipsis_ratio,
    round(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::DOUBLE
          / len(toks), 6) AS alpha_word_ratio,
    len(list_intersect(list_distinct(toks),
        ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))::INT
      AS stop_hits
  FROM d
)"""

_GOPHER_PASS_SQL = """n_words BETWEEN 50 AND 100000
   AND avg_word_len BETWEEN 3.0 AND 10.0
   AND hash_word_ratio <= 0.1
   AND ellipsis_word_ratio <= 0.1
   AND bullet_ratio <= 0.9
   AND ellipsis_ratio <= 0.3
   AND alpha_word_ratio >= 0.8
   AND stop_hits >= 1"""

ORACLE_GOPHER = f"""
WITH {_GOPHER_SIG_SQL}
SELECT *, ({_GOPHER_PASS_SQL}) AS pass_gopher
FROM sig
"""


@query("gopher_rules_documents", ORACLE_GOPHER)
def gopher_rules_documents(spark, sf_dir):
    """Gopher document-quality rules (text.gopher_rules) — the standard
    pre-dedup heuristic gate, one map-side built-in-expression pass (no
    UDF, no shuffle: runs at scan speed at any corpus size). Emits the
    measured signals plus the verdict so rejected docs stay
    inspectable. ``min_stop_hits=1``: the fixture's synthetic vocabulary
    carries at most one Gopher stopword per doc, so the paper's ≥2
    (the operator default) would make the verdict constant-false here —
    at 1 the gate discriminates on BOTH the word-count and stopword
    rules at every sf."""
    docs = _documents(spark, sf_dir)
    return text.gopher_rules(docs, min_stop_hits=1).select(
        "doc_id",
        "n_words",
        "avg_word_len",
        "hash_word_ratio",
        "ellipsis_word_ratio",
        "bullet_ratio",
        "ellipsis_ratio",
        "alpha_word_ratio",
        "stop_hits",
        "pass_gopher",
    )


_DOMAIN_CAP = 10

ORACLE_DOMAIN_CAP = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY {_SAMPLE_BUCKET}, doc_id) AS rn
  FROM documents)
WHERE rn <= {_DOMAIN_CAP}
"""


@query("domain_cap_sample_documents", ORACLE_DOMAIN_CAP)
def domain_cap_sample_documents(spark, sf_dir):
    """Per-source frequency cap (sampling.domain_cap_sample): at most
    {cap} docs per source, chosen by the content-key hash — the
    RefinedWeb-style guard against mega-domains dominating a crawl. The
    operator runs the skew-proof two-stage salted cut; its contract is
    the oracle's ONE window — cap smallest-hash rows per domain."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.domain_cap_sample(
        docs, "source", "doc_id", cap=_DOMAIN_CAP
    ).select("doc_id", "source")


ORACLE_KNN_GRAPH = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v) /
         (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM e c CROSS JOIN e q WHERE c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos_sim,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::INT AS rank
FROM scored QUALIFY rank <= 3
"""


@query("knn_graph_embeddings", ORACLE_KNN_GRAPH)
def knn_graph_embeddings(spark, sf_dir):
    """Corpus-wide kNN graph (similarity.knn_graph): every vector's
    top-3 neighbors through the persisted-index JOIN serve — the corpus
    is BOTH sides, so the query side never collects to the driver (the
    workload the r12 verdict's join-serve task exists for). At
    nprobe = n_centroids the graph is exact, hash-verified against the
    full n² oracle; production dials nprobe down and pays recall, not
    correctness of the dataflow."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_graph(
        spark, _ivf_index_dir(spark, sf_dir), emb, k=3, nprobe=8
    )


# Assignment leg is the kmeans oracle's a0 (argmin ||c||² − 2x·c, ties
# to the lower cid) against the 8 smallest-id seed centroids; the
# per-cluster cut is the hash-rank window of the sampling family.
ORACLE_CLUSTER_BALANCED = f"""
WITH base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
init AS (
  SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS c
  FROM (SELECT id, v FROM base ORDER BY id LIMIT 8)
),
c0 AS (SELECT cid, t.pos - 1 AS pos, c[t.pos] AS val
       FROM init, generate_series(1, 64) t(pos)),
u AS (SELECT id, t.pos - 1 AS pos, v[t.pos] AS x
      FROM base, generate_series(1, 64) t(pos)),
d0 AS (
  SELECT u.id, c.cid, sum(c.val * c.val) - 2 * sum(u.x * c.val) AS dist
  FROM u JOIN c0 c ON u.pos = c.pos GROUP BY u.id, c.cid
),
a0 AS (
  SELECT id, cid FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rn
    FROM d0)
  WHERE rn = 1
)
SELECT vec_id, cluster FROM (
  SELECT id AS vec_id, cid::INT AS cluster,
         row_number() OVER (PARTITION BY cid
                            ORDER BY {_hex2int_sql("md5('42|' || id::VARCHAR)", 1, 8)} % 1000000,
                                     id) AS rn
  FROM a0)
WHERE rn <= 10
"""


@query("cluster_balanced_sample_embeddings", ORACLE_CLUSTER_BALANCED)
def cluster_balanced_sample_embeddings(spark, sf_dir):
    """Diversity sampling (sampling.cluster_balanced_sample): 10
    smallest-hash rows from each of 8 embedding clusters, so the sample
    spans the embedding space instead of re-drawing the majority mode.
    Assignment is the Arrow-batched IVF argmin against the reproducible
    seed centroids (the kmeans determinism contract), hash-replayed
    exactly; the cut is one bounded-state window."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sampling.cluster_balanced_sample(
        emb, "vec_id", "embedding", n_clusters=8, per_cluster=10
    ).select("vec_id", "cluster")


ORACLE_NGRAM_DECONTAMINATE = f"""
WITH {_DOC_SHINGLES},
t AS (SELECT * FROM g WHERE doc_id % 10 != 0),
b AS (SELECT * FROM g WHERE doc_id % 10 = 0),
ti AS (SELECT doc_id, unnest(sh) AS s FROM t),
bi AS (SELECT doc_id AS bid, unnest(sh) AS s FROM b),
inter AS (
  SELECT ti.doc_id, bi.bid, count(*) AS i
  FROM ti JOIN bi USING (s) GROUP BY 1, 2
),
j AS (
  SELECT doc_id, i::DOUBLE / (len(tt.sh) + len(bb.sh) - i) AS jac
  FROM inter JOIN t tt USING (doc_id) JOIN b bb ON bb.doc_id = bid
)
SELECT doc_id, round(max(jac), 6) AS max_jaccard
FROM j WHERE jac >= 0.5 GROUP BY doc_id
"""


@query("ngram_decontaminate_documents", ORACLE_NGRAM_DECONTAMINATE)
def ngram_decontaminate_documents(spark, sf_dir):
    """Fuzzy eval-set decontamination (dedup.ngram_decontaminate):
    train docs whose 3-gram Jaccard vs ANY benchmark doc (here the
    doc_id % 10 == 0 slice) reaches 0.5 — catches the paraphrased leaks
    verbatim-overlap contamination_check misses. Exact by construction
    (shingle equi-join has no false negatives); the benchmark inverted
    index broadcasts, the corpus streams through one explode +
    partial agg."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 10 != 0)
    bench = docs.where(F.col("doc_id") % 10 == 0)
    return dedup.ngram_decontaminate(
        train, bench, "doc_id", "text", n=3, threshold=0.5
    ).select(F.col("id").alias("doc_id"), "max_jaccard")


ORACLE_STREAMING_GOPHER = f"""
WITH {_GOPHER_SIG_SQL}
SELECT doc_id, n_words, avg_word_len, stop_hits
FROM sig
WHERE {_GOPHER_PASS_SQL}
"""


@query("streaming_gopher_documents", ORACLE_STREAMING_GOPHER)
def streaming_gopher_documents(spark, sf_dir):
    """The Gopher quality gate run UNCHANGED under Structured Streaming
    (the streaming_curate recipe): readStream over the corpus → the same
    stateless text.gopher_rules column pass → pass_gopher filter → sink.
    Zero state, no watermark, batch-equivalent at any micro-batch
    boundary — a live document feed gets the same front-line filter as
    the static corpus, at the same scan speed."""
    import uuid

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    gated = (
        text.gopher_rules(stream, min_stop_hits=1)
        .where(F.col("pass_gopher"))
        .select("doc_id", "n_words", "avg_word_len", "stop_hits")
    )
    name = f"stream_gopher_{uuid.uuid4().hex[:8]}"
    q = gated.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


ORACLE_GOPHER_REPETITION = """
WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
           FROM documents),
nn AS (SELECT unnest([2, 3, 4, 5, 10]) AS n),
grid AS (SELECT doc_id, n, toks FROM d CROSS JOIN nn),
grams AS (
  SELECT doc_id, n,
         unnest(list_transform(generate_series(1, len(toks) - n + 1),
                i -> array_to_string(toks[i:i+n-1], ' '))) AS g
  FROM grid WHERE len(toks) >= n
),
per AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
agg AS (SELECT doc_id, n, sum(c) AS total, count(*) AS dist, max(c) AS topc
        FROM per GROUP BY 1, 2)
SELECT grid.doc_id AS id, grid.n::INT AS n,
       coalesce(total, 0)::BIGINT AS total_ngrams,
       coalesce(dist, 0)::BIGINT AS distinct_ngrams,
       coalesce(topc, 0)::BIGINT AS top_count,
       round(coalesce(topc::DOUBLE / total, 0.0), 6) AS top_ratio,
       round(coalesce((total - dist)::DOUBLE / total, 0.0), 6) AS dup_ratio
FROM grid LEFT JOIN agg ON agg.doc_id = grid.doc_id AND agg.n = grid.n
"""


@query("gopher_repetition_documents", ORACLE_GOPHER_REPETITION)
def gopher_repetition_documents(spark, sf_dir):
    """Gopher repetition signals (text.gopher_repetition) for orders
    2/3/4 (top-n-gram share) and 5/10 (duplicate-n-gram fraction) in one
    dataflow — long format, one row per (doc, order)."""
    docs = _documents(spark, sf_dir)
    return text.gopher_repetition(docs, ns=(2, 3, 4, 5, 10))


ORACLE_GOPHER_REPETITION_CHARW = """
WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
           FROM documents),
dd AS (SELECT doc_id, toks,
              greatest(coalesce(list_sum(list_transform(toks, t -> len(t))), 0)
                       + len(toks) - 1, 0)::BIGINT AS doc_chars
       FROM d),
nn AS (SELECT unnest([2, 3]) AS n),
grid AS (SELECT doc_id, n, toks, doc_chars FROM dd CROSS JOIN nn),
grams AS (
  SELECT doc_id, n,
         unnest(list_transform(generate_series(1, len(toks) - n + 1),
                i -> array_to_string(toks[i:i+n-1], ' '))) AS g
  FROM grid WHERE len(toks) >= n
),
per AS (SELECT doc_id, n, g, count(*) AS c, count(*) * len(g) AS mass
        FROM grams GROUP BY 1, 2, 3),
per2 AS (SELECT *, max(c) OVER (PARTITION BY doc_id, n) AS cmax FROM per),
agg AS (SELECT doc_id, n, sum(c) AS total, count(*) AS dist, max(c) AS topc,
               max(CASE WHEN c = cmax THEN mass END) AS topmass,
               sum(CASE WHEN c > 1 THEN mass ELSE 0 END) AS dupmass
        FROM per2 GROUP BY 1, 2)
SELECT grid.doc_id AS id, grid.n::INT AS n,
       coalesce(total, 0)::BIGINT AS total_ngrams,
       coalesce(dist, 0)::BIGINT AS distinct_ngrams,
       coalesce(topc, 0)::BIGINT AS top_count,
       round(coalesce(topc::DOUBLE / total, 0.0), 6) AS top_ratio,
       round(coalesce((total - dist)::DOUBLE / total, 0.0), 6) AS dup_ratio,
       round(coalesce(topmass::DOUBLE / nullif(doc_chars, 0), 0.0), 6)
         AS top_char_ratio,
       round(coalesce(dupmass::DOUBLE / nullif(doc_chars, 0), 0.0), 6)
         AS dup_char_ratio
FROM grid LEFT JOIN agg ON agg.doc_id = grid.doc_id AND agg.n = grid.n
"""


@query(
    "gopher_repetition_charweighted_documents",
    ORACLE_GOPHER_REPETITION_CHARW,
)
def gopher_repetition_charweighted_documents(spark, sf_dir):
    """The paper's CHARACTER-fraction repetition signals
    (text.gopher_repetition char_weighted=True, r14): top-gram and
    duplicate-gram char mass over the coverable token chars, riding the
    SAME per-gram partial-agg chain as the occurrence ratios — closing
    the r13-ADVICE occurrence-vs-character deviation as an opt-in
    column pair (dup_char_ratio stays a documented upper bound: no
    overlap de-duplication). Orders 2/3 keep the oracle's window pass
    cheap; the operator is order-count-invariant either way."""
    docs = _documents(spark, sf_dir)
    return text.gopher_repetition(
        docs, ns=(2, 3), char_weighted=True
    )


ORACLE_GOPHER_REPETITION_VERDICT = """
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
),
lined AS (
  SELECT doc_id,
         list_concat(
           list_transform([0, 1, 2], i ->
             coalesce(array_to_string(toks[1 + i * 8: (i + 1) * 8], ' '), '')),
           CASE WHEN doc_id % 4 = 0
                THEN [coalesce(array_to_string(toks[1:8], ' '), '')]
                ELSE [] END) AS ls
  FROM base
),
linesig AS (
  SELECT doc_id, list_filter(ls, l -> len(trim(l)) > 0) AS nls, ls
  FROM lined
),
linestats AS (
  SELECT doc_id,
    CASE WHEN len(nls) > 0
         THEN round((len(nls) - len(list_distinct(nls)))::DOUBLE / len(nls), 6)
         ELSE 0.0 END AS dup_line_ratio,
    CASE WHEN coalesce(list_sum(list_transform(nls, l -> len(l))), 0) > 0
         THEN round(
           (list_sum(list_transform(nls, l -> len(l)))
            - list_sum(list_transform(list_distinct(nls), l -> len(l))))::DOUBLE
           / list_sum(list_transform(nls, l -> len(l))), 6)
         ELSE 0.0 END AS dup_line_char_ratio,
    string_split_regex(lower(trim(array_to_string(ls, chr(10)))), '\\s+')
      AS gtoks
  FROM linesig
),
nn AS (SELECT unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS n),
grid AS (SELECT doc_id, n, gtoks FROM linestats CROSS JOIN nn),
grams AS (
  SELECT doc_id, n,
         unnest(list_transform(generate_series(1, len(gtoks) - n + 1),
                i -> array_to_string(gtoks[i:i+n-1], ' '))) AS g
  FROM grid WHERE len(gtoks) >= n
),
per AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
agg AS (SELECT doc_id, n, sum(c) AS total, count(*) AS dist, max(c) AS topc
        FROM per GROUP BY 1, 2),
long AS (
  SELECT grid.doc_id, grid.n,
         round(coalesce(topc::DOUBLE / total, 0.0), 6) AS top_ratio,
         round(coalesce((total - dist)::DOUBLE / total, 0.0), 6) AS dup_ratio
  FROM grid LEFT JOIN agg ON agg.doc_id = grid.doc_id AND agg.n = grid.n
),
wide AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 THEN top_ratio END) AS top_2gram_ratio,
         max(CASE WHEN n = 3 THEN top_ratio END) AS top_3gram_ratio,
         max(CASE WHEN n = 4 THEN top_ratio END) AS top_4gram_ratio,
         max(CASE WHEN n = 5 THEN dup_ratio END) AS dup_5gram_ratio,
         max(CASE WHEN n = 6 THEN dup_ratio END) AS dup_6gram_ratio,
         max(CASE WHEN n = 7 THEN dup_ratio END) AS dup_7gram_ratio,
         max(CASE WHEN n = 8 THEN dup_ratio END) AS dup_8gram_ratio,
         max(CASE WHEN n = 9 THEN dup_ratio END) AS dup_9gram_ratio,
         max(CASE WHEN n = 10 THEN dup_ratio END) AS dup_10gram_ratio
  FROM long GROUP BY doc_id
)
SELECT l.doc_id AS id, l.dup_line_ratio, l.dup_line_char_ratio,
       w.top_2gram_ratio, w.top_3gram_ratio, w.top_4gram_ratio,
       w.dup_5gram_ratio, w.dup_6gram_ratio, w.dup_7gram_ratio,
       w.dup_8gram_ratio, w.dup_9gram_ratio, w.dup_10gram_ratio,
       (l.dup_line_ratio <= 0.30 AND l.dup_line_char_ratio <= 0.20
        AND w.top_2gram_ratio <= 0.20 AND w.top_3gram_ratio <= 0.18
        AND w.top_4gram_ratio <= 0.16 AND w.dup_5gram_ratio <= 0.15
        AND w.dup_6gram_ratio <= 0.14 AND w.dup_7gram_ratio <= 0.13
        AND w.dup_8gram_ratio <= 0.12 AND w.dup_9gram_ratio <= 0.11
        AND w.dup_10gram_ratio <= 0.10) AS pass_repetition
FROM linestats l JOIN wide w USING (doc_id)
"""


@query(
    "gopher_repetition_verdict_documents",
    ORACLE_GOPHER_REPETITION_VERDICT,
)
def gopher_repetition_verdict_documents(spark, sf_dir):
    """The WIDE Gopher repetition verdict (text.gopher_repetition_verdict)
    — the frame the curation showcase actually filters on: the 2/3/4
    top-n-gram gates, the 5..10 duplicate-n-gram gates, and the two
    line-level rules (repeated-line fraction and repeated-line CHAR
    fraction, blank lines excluded per the r14 semantics change), fused
    into pass_repetition. The fixture corpus has no newlines, so the
    query derives a deterministic line-structured corpus first (three
    8-word lines per doc; docs with doc_id % 4 == 0 get their first
    line REPEATED — the same expression in the oracle) so the dup-line
    rules genuinely discriminate: every fourth doc carries a 25%
    duplicate-line ratio and fails or passes on the char ratio by its
    own line lengths."""
    docs = _documents(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    parts = [F.concat_ws(" ", F.slice(toks, 1 + i * 8, 8)) for i in range(3)]
    dup_leg = F.when(
        F.col("doc_id") % 4 == 0, F.array(parts[0])
    ).otherwise(F.array().cast("array<string>"))
    lined = docs.select(
        "doc_id",
        F.array_join(F.concat(F.array(*parts), dup_leg), "\n").alias("text"),
    )
    return text.gopher_repetition_verdict(lined)


ORACLE_C4_RULES = """
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
),
lined AS (
  SELECT doc_id,
         list_transform([0, 1, 2], i ->
           array_to_string(toks[1 + i * 8: (i + 1) * 8], ' ')
           || CASE WHEN (doc_id + i) % 2 = 0 THEN '.' ELSE '' END) AS ls
  FROM base
),
sig AS (
  SELECT doc_id,
    list_filter(ls, l ->
      len(trim(l)) > 0
      AND list_contains(['.', '!', '?', '"'],
                        substr(trim(l), len(trim(l)), 1))
      AND len(string_split_regex(trim(l), '\\s+')) >= 3
      AND NOT contains(lower(trim(l)), 'javascript')
      AND NOT (contains(lower(trim(l)), 'terms of use')
               OR contains(lower(trim(l)), 'privacy policy')
               OR contains(lower(trim(l)), 'cookie policy')
               OR contains(lower(trim(l)), 'uses cookies'))) AS kept_raw,
    ls
  FROM lined
),
sig2 AS (
  SELECT doc_id, list_transform(kept_raw, l -> trim(l)) AS kept, ls
  FROM sig
),
fin AS (
  SELECT doc_id,
         coalesce(array_to_string(kept, chr(10)), '') AS kept_text,
         len(ls)::INT AS n_lines,
         len(kept)::INT AS n_kept_lines
  FROM sig2
)
SELECT doc_id, kept_text, n_lines, n_kept_lines,
       (len(kept_text) - len(regexp_replace(kept_text, '[.!?]', '', 'g')))::INT
         AS n_sentences,
       (len(kept_text) - len(regexp_replace(kept_text, '[.!?]', '', 'g'))) >= 2
         AS pass_c4
FROM fin
"""


@query("c4_rules_documents", ORACLE_C4_RULES)
def c4_rules_documents(spark, sf_dir):
    """The C4 cleaning recipe (text.c4_rules, r14) — terminal-punct /
    min-words / javascript / policy line gates plus the doc-level
    sentence floor. The fixture corpus has no newlines or punctuation,
    so the query derives a deterministic line-structured corpus first
    (three 8-word lines per doc; lines where (doc_id + line) is even
    get a terminal '.') — the SAME expression in the oracle — so the
    gate genuinely discriminates: even doc_ids pass the 2-sentence
    floor, odd ones fail, and short docs fail the per-line word floor.
    lorem-ipsum/brace columns are dropped from the driver result (the
    fixture cannot produce them; they are unit-tested instead)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    line_parts = []
    for i in range(3):
        body = F.concat_ws(" ", F.slice(toks, 1 + i * 8, 8))
        dot = F.when((F.col("doc_id") + i) % 2 == 0, F.lit(".")).otherwise(
            F.lit("")
        )
        line_parts.append(F.concat(body, dot))
    lined = docs.select(
        "doc_id", F.concat_ws("\n", *line_parts).alias("text")
    )
    return text.c4_rules(lined, min_sentences=2).select(
        "doc_id",
        "kept_text",
        "n_lines",
        "n_kept_lines",
        "n_sentences",
        "pass_c4",
    )


ORACLE_STREAMING_C4 = f"""
WITH oc AS ({ORACLE_C4_RULES})
SELECT doc_id, kept_text, n_sentences FROM oc WHERE pass_c4
"""


@query("streaming_c4_documents", ORACLE_STREAMING_C4)
def streaming_c4_documents(spark, sf_dir):
    """The C4 gate run UNCHANGED under Structured Streaming: readStream
    over the corpus → the same stateless text.c4_rules column pass (on
    the derived line-structured corpus, as in c4_rules_documents) →
    pass_c4 filter → sink. Zero state, batch-equivalent at any
    micro-batch boundary — same oracle as the batch query, filtered to
    the survivors."""
    import uuid

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    line_parts = []
    for i in range(3):
        body = F.concat_ws(" ", F.slice(toks, 1 + i * 8, 8))
        dot = F.when((F.col("doc_id") + i) % 2 == 0, F.lit(".")).otherwise(
            F.lit("")
        )
        line_parts.append(F.concat(body, dot))
    lined = stream.select(
        "doc_id", F.concat_ws("\n", *line_parts).alias("text")
    )
    gated = (
        text.c4_rules(lined, min_sentences=2)
        .where(F.col("pass_c4"))
        .select("doc_id", "kept_text", "n_sentences")
    )
    name = f"stream_c4_{uuid.uuid4().hex[:8]}"
    q = gated.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


@query("streaming_gopher_repetition_documents", ORACLE_GOPHER_REPETITION)
def streaming_gopher_repetition_documents(spark, sf_dir):
    """The Gopher REPETITION pass under Structured Streaming
    (streaming.gopher_repetition_foreach_batch): per micro-batch, the
    exact batch groupBy(doc, n, gram) plan runs via foreachBatch; the
    grouping key is the document id and a doc's text lives in one row,
    so per-batch outputs concatenate to the batch operator's result at
    ANY trigger cadence — same oracle as the batch query. Batch results
    stay distributed (localCheckpoint + union), never driver-collected;
    at scale the callback appends to the curation audit table instead."""
    from thoth_spark.streaming import gopher_repetition_foreach_batch

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    parts: list[DataFrame] = []
    cb = gopher_repetition_foreach_batch(
        lambda out, _bid: parts.append(out.localCheckpoint())
    )
    q = stream.writeStream.foreachBatch(cb).start()
    q.processAllAvailable()
    q.stop()
    if not parts:  # empty source: zero rows, stable schema
        return spark.createDataFrame(
            [],
            "id long, n int, total_ngrams long, distinct_ngrams long,"
            " top_count long, top_ratio double, dup_ratio double",
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


ORACLE_TEMPERATURE_MIX = f"""
WITH counts AS (SELECT lang AS s, count(*) AS c FROM documents
                WHERE lang IS NOT NULL GROUP BY 1),
scale AS (SELECT min(c / pow(c, 0.5)) AS sc FROM counts),
thr AS (
  SELECT s, floor(((sc * pow(c, 0.5)) / c) * 1000000)::BIGINT AS t
  FROM counts, scale
)
SELECT doc_id, lang, t / 1000000.0 AS mix_rate
FROM documents JOIN thr ON s = lang
WHERE {_hex2int_sql("md5('42|' || doc_id::VARCHAR)", 1, 8)} % 1000000 < t
"""


@query("temperature_mix_documents", ORACLE_TEMPERATURE_MIX)
def temperature_mix_documents(spark, sf_dir):
    """Temperature corpus rebalancing (curation.temperature_mix,
    α = 0.5) over the skewed ``lang`` strata — output proportions follow
    count^α renormalized, the binding (scarcest-per-weight) stratum kept
    whole. The counts CTE excludes NULL langs exactly as the operator
    does (curation.py) — a NULL stratum must never set the binding
    scale."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.temperature_mix(
        docs, source_col="lang", key_col="doc_id", alpha=0.5
    ).select("doc_id", "lang", "mix_rate")


ORACLE_C4_SPAN_DEDUP = """
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
),
lined AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0
         THEN 'alpha shared span one. beta shared span two. gamma shared span three. '
         ELSE '' END
    || coalesce(array_to_string(toks[1:8], ' '), '') || '. '
    || coalesce(array_to_string(toks[9:16], ' '), '') || '. '
    || coalesce(array_to_string(toks[17:24], ' '), '') || '.' AS text
  FROM base
),
sents AS (
  SELECT doc_id,
         string_split(
           regexp_replace(trim(text), '([.!?])\\s+', '\\1' || chr(1), 'g'),
           chr(1)) AS s
  FROM lined
),
spans AS (
  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(s) - 2),
             i -> struct_pack(pos := i,
                              g := array_to_string(s[i:i+2], chr(1))))) AS u
    FROM sents WHERE len(s) >= 3
  ) q
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY g) AS occ
  FROM spans
),
rmpos AS (
  SELECT doc_id, unnest(generate_series(pos, pos + 2)) AS ri
  FROM ranked WHERE occ > 1 AND rn > 1
),
rm AS (
  SELECT doc_id, list_sort(list(DISTINCT ri)) AS rml
  FROM rmpos GROUP BY doc_id
)
SELECT s.doc_id,
  coalesce(array_to_string(
    list_filter(
      list_transform(generate_series(1, len(s.s)),
        i -> CASE WHEN rm.rml IS NULL OR NOT list_contains(rm.rml, i)
                  THEN s.s[i] END),
      x -> x IS NOT NULL),
    ' '), '') AS text,
  len(s.s)::INT AS n_sentences,
  coalesce(len(rm.rml), 0)::INT AS n_removed
FROM sents s LEFT JOIN rm USING (doc_id)
"""


def _c4_lined_corpus(docs):
    """The derived 3-pseudo-sentence corpus BOTH span-dedup queries (and
    their shared oracle's ``lined`` CTE) must compute identically —
    8-word sentences from the fixture text, the fixed shared phrase
    prepended to every fifth doc so the dedup genuinely fires. One
    definition keeps the batch query, the incremental query, and the
    SQL in structural lockstep."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    parts = [
        F.concat(F.concat_ws(" ", F.slice(toks, 1 + i * 8, 8)), F.lit("."))
        for i in range(3)
    ]
    body = F.concat_ws(" ", *parts)
    shared = (
        "alpha shared span one. beta shared span two. gamma shared span three."
    )
    text = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.lit(shared + " "), body)
    ).otherwise(body)
    return docs.select("doc_id", text.alias("text"))


@query("c4_span_dedup_documents", ORACLE_C4_SPAN_DEDUP)
def c4_span_dedup_documents(spark, sf_dir):
    """C4's exact span deduplication (dedup.c4_span_dedup, r15): the
    globally FIRST occurrence of any duplicated 3-sentence span
    survives, later occurrences lose those sentences — the other half
    of the C4 recipe next to c4_rules. The fixture has no punctuation,
    so the query derives a 3-pseudo-sentence corpus (8-word sentences)
    and PREPENDS a fixed shared 3-sentence phrase to every fifth doc —
    the same expression in the oracle — so the dedup genuinely
    fires: the smallest doc_id % 5 == 0 doc keeps the phrase, every
    other fifth doc loses exactly those three sentences (plus whatever
    organic duplicate spans the derived corpus carries — the oracle
    replays the global (id, pos) keeper rule exactly)."""
    lined = _c4_lined_corpus(_documents(spark, sf_dir))
    return dedup.c4_span_dedup(lined).select(
        F.col("id").alias("doc_id"), "text", "n_sentences", "n_removed"
    )


@query("c4_span_dedup_incremental_documents", ORACLE_C4_SPAN_DEDUP)
def c4_span_dedup_incremental_documents(spark, sf_dir):
    """Incremental keep-first span dedup against the persisted span-hash
    index (dedup.c4_span_dedup_incremental, r16): the SAME derived
    corpus as c4_span_dedup_documents arrives as THREE ascending-id
    batches against a fresh index — batch N+1 dedups against every
    span batches 1..N already ingested, plus its own earlier
    occurrences. Under ascending arrival the arrival-first keeper IS
    the global (id, pos) keeper, so the union of the three per-batch
    outputs must equal one batch c4_span_dedup run — the oracle
    is therefore the same global-replay SQL, and a drift between the
    incremental path and the batch path fails the oracle gate. The range
    split is derived from the id span (a 2-scalar driver collect), so
    the batches are deterministic at every sf."""
    lined = _c4_lined_corpus(_documents(spark, sf_dir))
    lo, hi = lined.agg(F.min("doc_id"), F.max("doc_id")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * ((hi - lo) // 3)
    idx = f"{_scratch_dir('thoth_spanidx_')}/idx"
    dedup.build_span_index(lined.limit(0), idx, n_buckets=16)
    outs = [
        dedup.c4_span_dedup_incremental(b, idx, batch_tag=k)
        for k, b in enumerate(
            (
                lined.where(F.col("doc_id") <= cut1),
                lined.where(
                    (F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)
                ),
                lined.where(F.col("doc_id") > cut2),
            )
        )
    ]
    return (
        outs[0]
        .unionByName(outs[1])
        .unionByName(outs[2])
        .select(
            F.col("id").alias("doc_id"), "text", "n_sentences", "n_removed"
        )
    )
