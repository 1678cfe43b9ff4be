"""Service layer: the reference's public entry points re-expressed over the
DataFrame pipeline + the repository port (the reference's
``thoth/service_layer.py:400-508``). The end-to-end calls compose the
standalone flows: ``profile_create_optimize`` is ``profile_create`` then
``optimize``; ``assess_new_ts`` is ``profile``, then the scoring step
``score`` shares, then the quality assessment."""

from __future__ import annotations

from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame

from thoth_spark.anomaly.models import MODEL_REGISTRY
from thoth_spark.anomaly.optimization import AnomalyOptimization
from thoth_spark.anomaly.optimization import optimize as _optimize_core
from thoth_spark.anomaly.scoring import score as _score_core
from thoth_spark.profiler import Granularity, ProfilingBuilder
from thoth_spark.profiler import profile as _profile_core
from thoth_spark.quality import NotificationHandler
from thoth_spark.quality import assess_quality as _assess_quality_core
from thoth_spark.repository import MetricsRepository, RepositoryPort

# the module-level names `profile`/`optimize`/`score`/`assess_quality`
# defined below are the SERVICE-LAYER versions (repo-persisted flows,
# reference thoth/service_layer.py:157,245,307,355); the composable core
# functions are aliased with _core suffixes and keep their direct
# exports via the package root's type-dispatching wrappers

_KEY = ["entity", "instance", "name"]


class ThothServiceError(Exception):
    """Service-layer failure (e.g. operating on an unregistered dataset)
    — reference ``thoth.service_layer.ThothServiceError``."""


def profile_create_optimize(
    df: DataFrame,
    dataset_uri: str,
    ts_column: str,
    repo: RepositoryPort,
    profiling_builder: ProfilingBuilder | None = None,
    granularity: str = Granularity.DAY,
    confidence: float = 0.99,
    min_threshold: float = 0.1,
    start_proportion: float | None = None,
    last_n: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Onboard a dataset: :func:`profile_create`, then :func:`optimize`
    over the stored history.

    Returns (metrics_df, optimization_df)."""
    metrics = profile_create(
        df, dataset_uri, ts_column, repo, profiling_builder, granularity
    )
    opt = optimize(
        dataset_uri,
        last_n=last_n,
        start_proportion=start_proportion,
        target_confidence=confidence,
        min_threshold=min_threshold,
        repo=repo,
    )
    opt.validation_df.unpersist()
    return metrics, opt.optimization_df


def assess_new_ts(
    df: DataFrame,
    ts,
    dataset_uri: str,
    repo: RepositoryPort,
    profiling_builder: ProfilingBuilder | None = None,
    notification_handlers: Sequence[NotificationHandler] | None = None,
) -> bool:
    """Score one new batch against the stored optimization: service
    :func:`profile` (same-ts re-profiling replaces the stored report —
    reference ``service_layer.py:481-486``), then :func:`score` of the
    last point per metric and the quality assessment. Returns True when
    no metric breaches its threshold.
    """
    profile(df, dataset_uri, profiling_builder, repo=repo)
    history = repo.select_profiling(dataset_uri, end_ts=ts)
    opt_df = repo.get_optimization(dataset_uri)
    with _scored(repo, dataset_uri, history, opt_df) as scoring:
        return _assess_quality_core(
            opt_df,
            scoring,
            key_cols=_KEY,
            notification_handlers=notification_handlers,
            dataset_uri=dataset_uri,
        )


@contextmanager
def _scored(repo: RepositoryPort, dataset_uri: str, history: DataFrame, opt_df: DataFrame):
    """Score ``history`` against the optimization ``opt_df`` and persist
    the scoring; yields the scoring frame, cached only inside the
    ``with`` block.

    One collect of the (model-sized) optimization gives its confidence
    and the models to score with — every model it actually selected:
    scoring only with a default model would silently drop the scores of
    any metric whose best model is different (the core ``score``
    inner-joins on ``best_model_name``) and report a false "all good"."""
    rows = opt_df.collect()
    if not rows:
        raise ValueError(
            "profiling and optimization can't be None. Values were not found in repo."
        )
    model_names = sorted({r["best_model_name"] for r in rows})
    unknown = [m for m in model_names if m not in MODEL_REGISTRY]
    if unknown:
        raise ValueError(
            f"Stored optimization for '{dataset_uri}' references unregistered "
            f"model(s) {unknown}; registered: {sorted(MODEL_REGISTRY)}"
        )
    optimization = AnomalyOptimization(
        optimization_df=opt_df,
        validation_df=None,
        confidence=rows[0]["confidence"],
        key_cols=_KEY,
        model_names=model_names,
    )
    scoring = _score_core(
        history.select(*_KEY, "ts", "value"), optimization, key_cols=_KEY
    ).cache()
    try:
        repo.add_scoring(dataset_uri, scoring)
        yield scoring
    finally:
        scoring.unpersist()


# ---------------------------------------------------------------------------
# Thin service wrappers — API parity with the reference's 18 exported
# functions (``/root/reference/thoth/__init__.py:20-38``). The reference
# builds a SQLAlchemy engine from env config; the Spark-native analogue
# of "the database" is a MetricsRepository rooted at a storage path
# (parquet) — or the JDBC adapter for an actual RDBMS.
# ---------------------------------------------------------------------------


def init_db(spark, base_path: str) -> MetricsRepository:
    """Create (or open) the metrics repository at ``base_path`` —
    reference ``init_db``/``build_engine`` (``service_layer.py:24-36``):
    there is no DDL to run for parquet tables, so init is just rooting
    the repository; tables materialize on first write."""
    return MetricsRepository(spark, base_path)


def is_db_initialized(repo: RepositoryPort) -> bool:
    """True once the repository's dataset registry exists — reference
    ``is_db_initialized`` (``service_layer.py:38-41``) checks for the
    ``dataset`` table's existence, as does every adapter here."""
    return repo.registry_exists()


def profile_create(
    df: DataFrame,
    dataset_uri: str,
    ts_column: str,
    repo: RepositoryPort,
    profiling_builder: ProfilingBuilder | None = None,
    granularity: str = Granularity.DAY,
) -> DataFrame:
    """Profile a dataset AND register it + persist the metrics —
    reference ``profile_create`` (``service_layer.py:207-242``).
    Returns the metrics DataFrame (long format)."""
    metrics = _profile_core(df, ts_column, profiling_builder, granularity)
    repo.add_dataset(
        dataset_uri, ts_column, [c for c in df.columns if c != ts_column], granularity
    )
    repo.add_profiling(dataset_uri, metrics, granularity)
    return metrics


def add_dataset(
    repo: RepositoryPort,
    dataset_uri: str,
    ts_column: str,
    columns: Sequence[str],
    granularity: str = Granularity.DAY,
) -> None:
    """Register a dataset without profiling it — reference
    ``add_dataset`` (``service_layer.py:163-177``). ``profile_create``
    registers implicitly; this is the explicit-registration path."""
    repo.add_dataset(dataset_uri, ts_column, list(columns), granularity)


def get_datasets(repo: RepositoryPort) -> list[dict]:
    """All registered datasets — reference ``get_datasets``."""
    return repo.get_datasets()


def get_dataset(repo: RepositoryPort, dataset_uri: str) -> dict | None:
    """One dataset's registration record — reference ``get_dataset``."""
    return repo.get_dataset(dataset_uri)


def get_optimization(repo: RepositoryPort, dataset_uri: str) -> DataFrame:
    """The stored optimization for a dataset — reference
    ``get_optimization``."""
    return repo.get_optimization(dataset_uri)


def get_scoring(
    repo: RepositoryPort, dataset_uri: str, start_ts=None, end_ts=None
) -> DataFrame:
    """Stored scoring events (closed interval) — reference
    ``get_scoring``."""
    return repo.select_scoring(dataset_uri, start_ts=start_ts, end_ts=end_ts)


def select_profiling(
    repo: RepositoryPort, dataset_uri: str, start_ts=None, end_ts=None
) -> DataFrame:
    """Stored profiling metrics (closed interval) — reference
    ``select_profiling``."""
    return repo.select_profiling(dataset_uri, start_ts=start_ts, end_ts=end_ts)


# ---------------------------------------------------------------------------
# Standalone service flows — the reference's four repo-persisted entry
# points (``/root/reference/thoth/service_layer.py:157,245,307,355``,
# re-exported at ``thoth/__init__.py:48-62``). Each takes/returns
# DataFrames and persists through the repository, mirroring the
# reference's DataFrame-in/ORM-persisted-out contract. The package root
# re-exports them through type-dispatching wrappers so reference code
# like ``thoth.optimize("my://uri", repo=repo)`` ports verbatim while
# the composable core functions keep their DataFrame-first call shapes.
# ---------------------------------------------------------------------------


def profile(
    df: DataFrame,
    dataset_uri: str,
    profiling_builder: ProfilingBuilder | None = None,
    *,
    repo: RepositoryPort,
) -> DataFrame:
    """Profile a REGISTERED dataset and persist the metrics — reference
    ``service_layer.profile`` (``service_layer.py:157-205``): the
    positional order matches the reference (``profiling_builder`` third,
    so ``profile(df, uri, builder, repo=repo)`` ports verbatim), the
    ts-column and granularity come from the dataset registration (use
    :func:`profile_create` to register-and-profile in one step), and an
    unregistered URI raises :class:`ThothServiceError`, exactly the
    reference's behavior. Returns the metrics DataFrame (long format)."""
    dataset = repo.get_dataset(dataset_uri)
    if dataset is None:
        raise ThothServiceError(
            f"No dataset was found for the giving uri={dataset_uri}"
        )
    metrics = _profile_core(
        df, dataset["ts_column"], profiling_builder, dataset["granularity"]
    )
    repo.add_profiling(dataset_uri, metrics, dataset["granularity"])
    return metrics


def optimize(
    dataset_uri: str,
    profiling: DataFrame | None = None,
    last_n: int | None = None,
    start_proportion: float | None = None,
    target_confidence: float | None = None,
    min_threshold: float = 0.1,
    repo: RepositoryPort | None = None,
) -> AnomalyOptimization:
    """Optimize the anomaly strategy for a dataset from its profiling
    history and persist the result — reference ``service_layer.optimize``
    (``service_layer.py:245-305``): ``profiling`` defaults to the
    dataset's stored history, ``last_n`` truncates to the most recent
    points, and the optimization lands in the repository."""
    if repo is None:
        raise ValueError("optimize(dataset_uri=...) requires repo=")
    history = (
        profiling
        if profiling is not None
        else repo.select_profiling(dataset_uri)
    ).select(*_KEY, "ts", "value")
    confidence = 0.99 if target_confidence is None else target_confidence
    opt = _optimize_core(
        history,
        confidence=confidence,
        min_threshold=min_threshold,
        start_proportion=start_proportion,
        last_n=last_n,
        key_cols=_KEY,
    )
    repo.add_optimization(dataset_uri, opt.optimization_df, confidence)
    return opt


def score(
    dataset_uri: str,
    ts,
    optimization: DataFrame | None = None,
    profiling_history: DataFrame | None = None,
    repo: RepositoryPort | None = None,
) -> DataFrame:
    """Score the profiling batch at ``ts`` against the stored (or given)
    optimization and persist the scoring — reference
    ``service_layer.score`` (``service_layer.py:307-353``): history
    defaults to the stored profiling up to ``ts`` (closed interval), the
    optimization to the stored one, and both missing raises, matching
    the reference's ValueError."""
    if repo is None:
        raise ValueError("score(dataset_uri=...) requires repo=")
    history = (
        profiling_history
        if profiling_history is not None
        else repo.select_profiling(dataset_uri, end_ts=ts)
    )
    if history.limit(1).count() == 0:
        raise ValueError(
            "profiling and optimization can't be None. Values were not found in repo."
        )
    opt_df = (
        optimization if optimization is not None else repo.get_optimization(dataset_uri)
    )
    with _scored(repo, dataset_uri, history, opt_df) as scoring:
        return scoring


def assess_quality(
    dataset_uri: str,
    ts,
    optimization: DataFrame | None = None,
    scoring: DataFrame | None = None,
    notification_handlers: Sequence[NotificationHandler] | None = None,
    repo: RepositoryPort | None = None,
) -> bool:
    """Quality assessment for the scoring at ``ts`` — reference
    ``service_layer.assess_quality`` (``service_layer.py:355-398``):
    optimization and scoring default to the stored records, handlers
    fire on breach, returns False when any metric's score exceeds its
    threshold."""
    if repo is None:
        raise ValueError("assess_quality(dataset_uri=...) requires repo=")
    opt_df = (
        optimization if optimization is not None else repo.get_optimization(dataset_uri)
    )
    scoring_df = (
        scoring
        if scoring is not None
        else repo.select_scoring(dataset_uri, start_ts=ts, end_ts=ts)
    )
    # Reference service_layer.py:388-391: an unregistered URI or a
    # mistyped ts yields EMPTY stored frames; the gate must fail loudly,
    # not report "everything good" on zero anomaly rows.
    if scoring_df.limit(1).count() == 0 or opt_df.limit(1).count() == 0:
        raise ValueError(
            "scoring and optimization can't be None. Values were not found in repo."
        )
    return _assess_quality_core(
        opt_df,
        scoring_df,
        key_cols=_KEY,
        notification_handlers=notification_handlers,
        dataset_uri=dataset_uri,
    )
