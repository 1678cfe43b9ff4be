"""Quality assessment: compare anomaly scores against optimized thresholds
and notify handlers (flow C — ``/root/reference/thoth/quality.py:84-113``)."""

from __future__ import annotations

import abc
import dataclasses
import datetime
import logging
import math
from collections.abc import Sequence

from pyspark.sql import DataFrame

logger = logging.getLogger("thoth_spark.quality")


@dataclasses.dataclass
class AnomalousScore:
    """One metric whose score exceeded its optimized threshold."""

    metric: tuple[str, ...]
    score: float
    threshold: float


class NotificationHandler(abc.ABC):
    """Warning hook fired when a batch assessment finds anomalies.

    ``notify`` builds the scoring-view dashboard deep-link (filtered to
    the anomalous instances) and hands it to the subclass ``_notify`` —
    the reference's handler contract (``thoth/quality.py:39-62``)."""

    @abc.abstractmethod
    def _notify(
        self,
        dataset_uri: str,
        ts: datetime.datetime | None,
        anomalous_scores: list[AnomalousScore],
        dashboard_link: str | None = None,
    ) -> None: ...

    def notify(
        self,
        dataset_uri: str,
        ts: datetime.datetime | None,
        anomalous_scores: list[AnomalousScore],
    ) -> None:
        from thoth_spark.dashboard import SCORING_VIEW, build_dashboard_link

        # metric tuple layout is (dataset_uri?, entity, instance, name) —
        # instance is always second-from-last
        instances = sorted({a.metric[-2] for a in anomalous_scores if len(a.metric) >= 2})
        self._notify(
            dataset_uri,
            ts,
            anomalous_scores,
            dashboard_link=build_dashboard_link(
                dataset_uri=dataset_uri, view=SCORING_VIEW, instances=instances
            ),
        )


class LogHandler(NotificationHandler):
    """Logs anomalies as errors (the reference's default handler),
    including the dashboard deep-link (``thoth/quality.py:64-81``)."""

    def _notify(self, dataset_uri, ts, anomalous_scores, dashboard_link=None):
        logger.error(
            "Anomaly detected for ts=%s on dataset_uri=%s! Metrics above "
            "their optimized threshold: %s. Please check the dataset "
            "dashboard for more information: %s",
            ts,
            dataset_uri,
            anomalous_scores,
            dashboard_link,
        )


def _exceeds(error, threshold) -> bool:
    """Spark's ``error > threshold``: a null never exceeds, and NaN is
    larger than every number."""
    if error is None or threshold is None:
        return False
    return error > threshold or (math.isnan(error) and not math.isnan(threshold))


def assess_scores(
    optimization_rows: Sequence,
    scoring_rows: Sequence,
    key_cols: list[str],
    notification_handlers: Sequence[NotificationHandler] | None = None,
    dataset_uri: str = "",
) -> bool:
    """:func:`assess_quality` over collected rows: the optimization's
    ``key_cols + threshold`` and the scores' ``key_cols + (ts, error)``.
    A score is judged against its metric's threshold, matched on
    ``key_cols`` as an inner equi-join matches (a null key matches
    nothing); a score with no threshold is not judged."""
    thresholds = {}
    for r in optimization_rows:
        key = tuple(r[c] for c in key_cols)
        if None not in key:
            thresholds[key] = r["threshold"]
    scores, ts = [], None
    for r in scoring_rows:
        metric = tuple(r[c] for c in key_cols)
        threshold = thresholds.get(metric)
        if _exceeds(r["error"], threshold):
            if not scores:
                ts = r["ts"]
            scores.append(AnomalousScore(metric=metric, score=r["error"], threshold=threshold))
    if not scores:
        logger.info("Quality assessment finished, everything good.")
        return True
    for handler in notification_handlers or [LogHandler()]:
        handler.notify(dataset_uri=dataset_uri, ts=ts, anomalous_scores=scores)
    return False


def assess_quality(
    optimization_df: DataFrame,
    scoring_df: DataFrame,
    key_cols: list[str] | None = None,
    notification_handlers: Sequence[NotificationHandler] | None = None,
    dataset_uri: str = "",
) -> bool:
    """True when every metric scored within its threshold; otherwise
    notifies the handlers with the anomalous metrics and returns False.
    Collects the thresholds (one row per metric) and the scores, and
    judges them with :func:`assess_scores`."""
    key_cols = key_cols or [
        c for c in ("dataset_uri", "entity", "instance", "name") if c in scoring_df.columns
    ]
    return assess_scores(
        optimization_df.select(*key_cols, "threshold").collect(),
        scoring_df.select(*key_cols, "ts", "error").collect(),
        key_cols,
        notification_handlers,
        dataset_uri,
    )
