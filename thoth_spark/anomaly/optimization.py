"""Anomaly optimization: cross-validate models per metric, grid-search the
error threshold, select the best model.

Semantics replicated from ``/root/reference/thoth/anomaly/optimization.py``:

- forward-chaining CV with a warm-up: folds whose index is below
  ``int(start_proportion * n)`` produce no error (``162-191``);
- start-proportion heuristic from series length: ≥100 → 0.1, ≥50 → 0.2,
  ≥25 → 0.4, else 0.8 (``271-281``);
- threshold = the smallest t in {0.01 … 1.00, step 0.01} such that the
  fraction of validation errors ≤ t reaches the confidence (``103-138``);
- best model = minimum threshold, ties resolved to factory order — the
  reference's ``ValidationTimeSeries.__lt__`` (``48-49``) compares
  ``(self.threshold, self.mean_error) < (other.threshold, SELF.mean_error)``
  so mean error can never break a tie; first-in-factory-order wins;
- optimization FAILS if the best threshold is 1.0 (``200-214``);
- the final threshold is floored at ``min_threshold`` (``246-251``);
- constant series are forced onto SimpleModel (``217-231``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from thoth_spark.anomaly.error_metrics import APE_MIN_TRUE_VALUE
from thoth_spark.anomaly.models import (
    DEFAULT_MODEL_NAMES,
    MODEL_REGISTRY,
    SimpleModel,
    metric_key_columns,
)


class OptimizationFailedError(Exception):
    """No model/threshold below the 1.0 precision limit met the confidence,
    or a series is unusable (too short / degenerate APE denominator)."""


def find_start_proportion_column(n):
    """The reference's warm-up heuristic as a column expression."""
    return (
        F.when(n >= 100, F.lit(0.1))
        .when(n >= 50, F.lit(0.2))
        .when(n >= 25, F.lit(0.4))
        .otherwise(F.lit(0.8))
    )


def validate_series(metrics_df: DataFrame, key_cols: list[str]) -> None:
    """Reject series the reference errors on: values below the APE
    denominator floor (``error_metrics.py:6-11``) and series too short to
    train the shortest window. One small aggregate job."""
    bad = (
        metrics_df.groupBy(*key_cols)
        .agg(
            F.min("value").alias("mn"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").isNull().cast("int")).alias("nulls"),
        )
        .where(
            (F.col("mn") < APE_MIN_TRUE_VALUE)
            | (F.col("n") < 5)
            | (F.col("nulls") > 0)
            | F.col("mn").isNull()
        )
        .limit(20)
        .collect()
    )
    if bad:
        details = ", ".join(
            "/".join(str(r[c]) for c in key_cols)
            + f" (min={r['mn']}, n={r['n']}, nulls={r['nulls']})"
            for r in bad
        )
        raise OptimizationFailedError(
            f"Unusable metric series (value < {APE_MIN_TRUE_VALUE} makes APE "
            f"undefined, null values present, or fewer than 5 points): {details}"
        )


def cross_validation(
    metrics_df: DataFrame,
    model,
    key_cols: list[str],
    start_proportion: float | None = None,
) -> DataFrame:
    """All forward-chaining folds for one model over every metric series.

    Returns ``key_cols + (model_name, ts, true_value, predicted, error)``
    with predicted/error null for warm-up folds — matching the reference's
    ValidationPoint list, including the error-less warm-up points.
    """
    folds = model.folds(metrics_df, key_cols=key_cols)
    start = (
        F.lit(start_proportion)
        if start_proportion is not None
        else find_start_proportion_column(F.col("__n"))
    )
    start_idx = F.floor(start * F.col("__n"))
    validated = F.col("__idx") >= start_idx
    return folds.select(
        *key_cols,
        F.lit(model.name).alias("model_name"),
        F.col("ts"),
        F.col("value").alias("true_value"),
        F.when(validated, F.col("predicted")).alias("predicted"),
        F.when(validated, F.col("error")).alias("error"),
    )


def find_best_threshold(validation_df: DataFrame, confidence: float, key_cols: list[str]) -> DataFrame:
    """Per (metric, model): smallest grid threshold meeting the confidence.

    Grid = {0.01 … 1.00}; since errors are clamped to 1.0 a qualifying
    threshold always exists. Returns ``key_cols + (model_name, threshold,
    below_threshold_proportion, mean_error)``.
    """
    keys = [*key_cols, "model_name"]
    errors = validation_df.where(F.col("error").isNotNull())
    grid = errors.withColumn("__t", F.explode(F.sequence(F.lit(1), F.lit(100)))).withColumn(
        "threshold", F.col("__t") / 100.0
    )
    per_t = grid.groupBy(*keys, "threshold").agg(
        F.avg((F.col("error") <= F.col("threshold")).cast("double")).alias(
            "below_threshold_proportion"
        ),
        F.avg("error").alias("mean_error"),
    )
    qualifying = per_t.where(F.col("below_threshold_proportion") >= confidence)
    pick = W.partitionBy(*keys).orderBy("threshold")
    return (
        qualifying.withColumn("__rk", F.row_number().over(pick))
        .where(F.col("__rk") == 1)
        .drop("__rk")
    )


@dataclass
class AnomalyOptimization:
    """Result of :func:`optimize` — per-metric best model + threshold, plus
    the full validation curves (the reference persists both)."""

    optimization_df: DataFrame
    validation_df: DataFrame
    confidence: float
    key_cols: list[str]
    last_n: int | None = None
    model_names: list[str] = field(default_factory=lambda: ["SimpleModel"])


def _tail_last_n(metrics_df: DataFrame, key_cols: list[str], last_n: int | None) -> DataFrame:
    if last_n is None:
        return metrics_df
    w = W.partitionBy(*key_cols).orderBy(F.col("ts").desc())
    return (
        metrics_df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= last_n)
        .drop("__rk")
    )


def optimize(
    metrics_df: DataFrame,
    start_proportion: float | None = None,
    confidence: float = 0.99,
    model_names: list[str] | None = None,
    last_n: int | None = None,
    min_threshold: float = 0.1,
    key_cols: list[str] | None = None,
) -> AnomalyOptimization:
    """Optimize the anomaly strategy for every metric series in one pass.

    The returned ``optimization_df`` has one row per metric:
    ``key_cols + (best_model_name, threshold, mean_error,
    below_threshold_proportion)``. Raises
    :class:`OptimizationFailedError` when any metric's best threshold hits
    the 1.0 precision limit, naming the metrics.
    """
    key_cols = key_cols or metric_key_columns(metrics_df)
    model_names = model_names or list(DEFAULT_MODEL_NAMES)
    metrics_df = _tail_last_n(metrics_df.select(*key_cols, "ts", "value"), key_cols, last_n)
    # post-aggregation metric series are tiny relative to the profiled
    # data — cache so validation, per-model CV, and the constant-series
    # check don't re-run the upstream profiling scan. Released on the way
    # out: nothing returned reads it once ``best`` is checkpointed and
    # ``validation_df``'s cache is filled.
    metrics_df = metrics_df.cache()
    try:
        validate_series(metrics_df, key_cols)

        validations = []
        for name in model_names:
            model = MODEL_REGISTRY[name]() if name in MODEL_REGISTRY else None
            if model is None:
                raise KeyError(f"Unknown model '{name}'. Registered: {list(MODEL_REGISTRY)}")
            validations.append(
                cross_validation(metrics_df, model, key_cols, start_proportion)
            )
        validation_df = validations[0]
        for v in validations[1:]:
            validation_df = validation_df.unionByName(v)
        validation_df = validation_df.cache()

        thresholds = find_best_threshold(validation_df, confidence, key_cols)

        # Constant-series short-circuit (reference ``optimization.py:217-231``):
        # a series with a single distinct value is forced onto SimpleModel —
        # fancy forecasters add nothing and may misbehave on flat input.
        if "SimpleModel" in model_names and len(model_names) > 1:
            constant = metrics_df.groupBy(*key_cols).agg(
                (F.count_distinct(F.col("value")) == 1).alias("__is_constant")
            )
            thresholds = thresholds.join(F.broadcast(constant), on=key_cols, how="left").where(
                (~F.col("__is_constant")) | (F.col("model_name") == "SimpleModel")
            ).drop("__is_constant")

        # Model selection: min threshold, tie → factory order (see module doc).
        order = F.array_position(
            F.array(*[F.lit(n) for n in model_names]), F.col("model_name")
        )
        pick = W.partitionBy(*key_cols).orderBy(F.col("threshold"), order)
        best = (
            thresholds.withColumn("__rk", F.row_number().over(pick))
            .where(F.col("__rk") == 1)
            .drop("__rk")
            # one row per metric — model-sized, never data-sized. Pinning it
            # means the failure probe below and every consumer of
            # ``optimization_df`` (scoring join, assessment) reuse ONE
            # materialization of the grid + selection window instead of
            # re-running it per action (the probe used to execute the whole
            # threshold pipeline a second time just to find zero failures).
            .localCheckpoint()
        )

        failed = best.where(F.col("threshold") >= 1.0).limit(20).collect()
        if failed:
            validation_df.unpersist()
            names = ", ".join("/".join(str(r[c]) for c in key_cols) for r in failed)
            raise OptimizationFailedError(
                f"No threshold below 1.0 meets confidence={confidence} for "
                f"metric(s): {names}"
            )

        optimization_df = best.select(
            *key_cols,
            F.col("model_name").alias("best_model_name"),
            F.greatest(F.col("threshold"), F.lit(min_threshold)).alias("threshold"),
            "mean_error",
            "below_threshold_proportion",
        )
        return AnomalyOptimization(
            optimization_df=optimization_df,
            validation_df=validation_df,
            confidence=confidence,
            key_cols=key_cols,
            last_n=last_n,
            model_names=model_names,
        )
    finally:
        metrics_df.unpersist()
