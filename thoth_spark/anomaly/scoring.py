"""Anomaly scoring: forecast error of the latest point of each metric.

Parity with ``/root/reference/thoth/anomaly/scoring.py:54-99``: for each
metric, a fresh instance of the optimization's best model is trained on
all points but the last and scores the last point (APE). With SimpleModel
that is exactly the final forward-chaining fold, so scoring reuses the
same vectorized fold computation filtered to the last index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thoth_spark.anomaly.models import MODEL_REGISTRY, metric_key_columns
from thoth_spark.anomaly.optimization import AnomalyOptimization, _tail_last_n


def last_points(
    metrics_df: DataFrame,
    model_names: list[str],
    key_cols: list[str],
    last_n: int | None = None,
) -> DataFrame:
    """The last point of every metric series scored by every model in
    ``model_names``: one row per metric and model,
    ``key_cols + (best_model_name, ts, value, predicted, error)``, the
    model in the column that :func:`score` matches against the
    optimization's choice."""
    series = _tail_last_n(metrics_df.select(*key_cols, "ts", "value"), key_cols, last_n)

    scored_parts = []
    for name in model_names:
        model = MODEL_REGISTRY[name]()
        folds = model.folds(series, key_cols=key_cols)
        last = folds.where(F.col("__idx") == F.col("__n") - 1).select(
            *key_cols,
            F.lit(name).alias("best_model_name"),
            "ts",
            "value",
            "predicted",
            "error",
        )
        scored_parts.append(last)
    all_scored = scored_parts[0]
    for p in scored_parts[1:]:
        all_scored = all_scored.unionByName(p)
    return all_scored


def score(
    metrics_df: DataFrame,
    optimization: AnomalyOptimization,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Score the last point of every metric series.

    Returns one row per metric:
    ``key_cols + (ts, value, predicted, error)`` where ``error`` is the
    anomaly score (APE of the forecast vs. the observed value) — the
    reference's ``Score(metric, value=error, predicted)``.
    """
    key_cols = key_cols or optimization.key_cols or metric_key_columns(metrics_df)
    all_scored = last_points(
        metrics_df, optimization.model_names, key_cols, optimization.last_n
    )
    # Keep each metric's score from its optimized best model only.
    best = optimization.optimization_df.select(*key_cols, "best_model_name")
    return all_scored.join(F.broadcast(best), on=[*key_cols, "best_model_name"]).drop(
        "best_model_name"
    )
