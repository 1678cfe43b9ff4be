"""The benchmark's workloads. Each is a closed loop with one client: the
next call starts when the previous one returns. A run is set-up, then
whole rounds of the same calls until ``seconds`` have passed; every
output is checked against ``oracles`` outside the timed calls.

Each timed call records its wall time and the CPU time the whole
process tree spent in it (this process, the JVM and the Python workers
under it). The end-to-end metrics are ``setup_s`` (process start to the
first round) and, as medians over the run's rounds, ``round_p50_s`` (the
wall of a round's calls) and ``round_cpu_s`` (their CPU time).
"""

from __future__ import annotations

import dataclasses
import datetime
import os
import statistics
import time
from collections import defaultdict

from perfbench import inputs, oracles
from perfbench.tracing import span

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by this process plus ``root_pid`` and every
    process under it, reaped children included."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                children[int(_stat_fields(name)[1])].append(int(name))
            except OSError:  # the process ended while listing
                continue
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            ticks += sum(int(x) for x in _stat_fields(pid)[11:15])
        except OSError:
            continue
        todo.extend(children[pid])
    own = os.times()
    return ticks / _TICK + own.user + own.system


@dataclasses.dataclass
class Tally:
    """Operations attempted and failed. A public call is one operation
    (failed when it raises); each correctness check is one more (failed
    when it does not hold). ``wrong`` counts the failed checks and the
    calls that raise anything but their known fault; the run is correct
    only while it is 0."""

    jvm_pid: int
    tracer: object = None
    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    notes: list = dataclasses.field(default_factory=list)

    def call(self, fn, *args, trace_as: str | None = None, known_fault: str | None = None, **kwargs):
        """Run ``fn``; return ((wall, cpu), result), result None if it
        raised. ``trace_as`` names the span of a call whose function
        returns a lazy frame, so the span covers the action that runs it.
        ``known_fault`` is text of the error a known program fault raises:
        such a call counts as failed only, any other error also as wrong."""
        self.attempted += 1
        c0, t0 = tree_cpu_s(self.jvm_pid), time.perf_counter()
        try:
            if trace_as:
                with span(self.tracer, trace_as, forced=True):
                    out = fn(*args, **kwargs)
            else:
                out = fn(*args, **kwargs)
        except Exception as e:  # a failing call is counted, not fatal
            self.failed += 1
            if known_fault is None or known_fault not in str(e):
                self.wrong += 1
            self._note(f"{getattr(fn, '__name__', fn)}: {type(e).__name__}: {str(e)[:160]}")
            out = None
        return (time.perf_counter() - t0, tree_cpu_s(self.jvm_pid) - c0), out

    def check(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.wrong += 1
            self._note(f"check {what}: {'; '.join(problems[:3])}")

    def _note(self, msg: str) -> None:
        if msg not in self.notes and len(self.notes) < 20:
            self.notes.append(msg)


@dataclasses.dataclass
class Result:
    tally: Tally
    setup_s: float
    rounds: list  # (wall, cpu) of each measured round
    overhead_pair: tuple  # round walls (untraced, traced) of a traced run
    repo_path: str | None = None

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "round_p50_s": statistics.median(w for w, _ in self.rounds),
            "round_cpu_s": statistics.median(c for _, c in self.rounds),
        }


class Round:
    """Adds up the calls of one round."""

    def __init__(self):
        self.wall = self.cpu = 0.0

    def add(self, cost) -> None:
        self.wall += cost[0]
        self.cpu += cost[1]


def _loop(one_round, seconds: float, tracer):
    """Whole rounds until ``seconds`` have passed (at least one); returns
    their (wall, cpu). With a tracer, the same number of rounds again
    untraced and then traced; also returns the walls of those two, from
    which the tracing overhead is taken."""
    rounds = []
    t0 = time.perf_counter()
    while not rounds or time.perf_counter() - t0 < seconds:
        r = one_round()
        rounds.append((r.wall, r.cpu))
    if tracer is None:
        return rounds, ([], [])
    untraced = [one_round().wall for _ in rounds]
    tracer.enabled = True
    traced = [one_round().wall for _ in rounds]
    tracer.enabled = False
    return rounds, (untraced, traced)


# --- daily_monitor -------------------------------------------------------------------

LIVE = "bench://daily/live"
PROBE = "bench://daily/onboarding-probe"
DASHBOARD_DAYS = 30  # profiling history shown; >= max(oracles.WINDOWS)
SCORE_DAYS = 6


def daily_monitor(spark, workdir: str, seed: int, seconds: float, tracer, t_start: float) -> Result:
    """Onboard a 60-day history, re-optimize it once and assess one clean
    warm-up day (set-up), then simulate days. Each day first assesses an
    anomalous batch (numeric columns x3), then re-assesses the clean batch
    for the same ts, and a dashboard reads the recent profiling and scores
    once."""
    from thoth_spark import service
    from thoth_spark.quality import NotificationHandler
    from thoth_spark.repository import MetricsRepository

    class Capture(NotificationHandler):
        def __init__(self):
            self.flagged = []

        def _notify(self, dataset_uri, ts, anomalous_scores, dashboard_link=None):
            self.flagged.extend(a.metric for a in anomalous_scores)

    jvm_pid = spark.sparkContext._gateway.proc.pid
    repo_path = os.path.join(workdir, "metrics_repo")
    repo = MetricsRepository(spark, repo_path)
    hist = _parquet_frame(spark, inputs.history(seed), os.path.join(workdir, "history.parquet"))
    expected_keys = set(oracles.expected_profile(inputs.day_batch(seed, 0)))

    def assess(tally, batch_pdf, day, injected):
        capture = Capture()
        batch = spark.createDataFrame(batch_pdf)
        cost, ok = tally.call(
            service.assess_new_ts, batch, inputs.day_ts(day), LIVE, repo,
            notification_handlers=[capture],
        )
        if ok is not None:
            tally.check("assessment", oracles.check_assessment(ok, capture.flagged, injected))
        return cost

    # set-up: onboarding, then re-optimizing the unchanged history, which
    # must reproduce it, then one clean day that pays the cold costs of the
    # assessment path; its checks gate `correct` but are not counted as
    # operations, so every run's operations are whole rounds
    setup = Tally(jvm_pid)
    service.profile_create_optimize(hist, LIVE, "ts", repo)
    onboarded = [r.asDict() for r in repo.get_optimization(LIVE).collect()]
    service.optimize(LIVE, repo=repo)
    reoptimized = [r.asDict() for r in repo.get_optimization(LIVE).collect()]
    stored = _profiling_rows(repo, LIVE)
    setup.check("onboarding optimization", oracles.check_optimization(onboarded, expected_keys))
    setup.check("re-optimization", oracles.check_same_optimization(onboarded, reoptimized))
    setup.check("onboarding one report per day", oracles.check_one_report_per_day(stored))
    for day in range(inputs.HISTORY_DAYS):
        setup.check(
            f"onboarding profile day {day}",
            oracles.check_profile(_day_report(stored, inputs.day_ts(day)),
                                  oracles.expected_profile(inputs.day_batch(seed, day))),
        )
    warm_up_day = inputs.HISTORY_DAYS
    assess(setup, inputs.day_batch(seed, warm_up_day), warm_up_day, injected=False)
    setup_s = time.perf_counter() - t_start

    tally = Tally(jvm_pid, tracer)
    state = {"day": warm_up_day + 1}

    def read_and_check(day, batch_pdf):
        ts = inputs.day_ts(day)
        cost, rows = tally.call(_dashboard_read, repo, LIVE, ts, tracer)
        if rows is not None:
            prof, scores = rows
            tally.check("profile", oracles.check_profile(_day_report(prof, ts), oracles.expected_profile(batch_pdf)))
            tally.check("one report per day", oracles.check_one_report_per_day(prof))
            tally.check("scores", oracles.check_scores([s[1:] for s in scores if s[0] == ts], prof, ts))
        return cost

    def one_round():
        r = Round()
        day = state["day"]
        state["day"] += 1
        clean = inputs.day_batch(seed, day)
        r.add(assess(tally, inputs.anomalous(clean), day, injected=True))
        r.add(assess(tally, clean, day, injected=False))
        r.add(read_and_check(day, clean))
        return r

    rounds, pair = _loop(one_round, seconds, tracer)
    if tracer is not None:
        _probe_lazy_flows(spark, workdir, seed, repo, tracer)
    tally.wrong += setup.wrong
    tally.notes.extend(setup.notes)
    return Result(tally, setup_s, rounds, pair, repo_path)


def _probe_lazy_flows(spark, workdir, seed, repo, tracer) -> None:
    """Time at their own boundaries what the traced rounds only time inside
    the repository writes that run them. ``profile`` and ``score`` return
    lazy plans: ``add_profiling`` runs the profile scan and ``add_scoring``
    the scoring folds. So the profile of the history is forced alone with a
    no-op sink; then a warm onboarding and re-optimization of a second
    dataset; then its stored history up to its last day is scored against
    its stored optimization, both read as ``assess_new_ts`` reads them,
    also with a no-op sink. Every forced plan is new to the session: the
    frames cached by the set-up onboarding, the rounds and the
    re-optimization would otherwise answer it without running it (the
    cache matches a plan by the paths it reads)."""
    from thoth_spark import service
    from thoth_spark.anomaly.optimization import AnomalyOptimization
    from thoth_spark.anomaly.scoring import score
    from thoth_spark.profiler import profile

    copy = _parquet_frame(spark, inputs.history(seed), os.path.join(workdir, "history-copy.parquet"))
    tracer.enabled = True
    with tracer.span("profiler.profile", forced=True):
        profile(copy, "ts").write.format("noop").mode("overwrite").save()
    service.profile_create_optimize(copy, PROBE, "ts", repo)
    service.optimize(PROBE, repo=repo)
    tracer.enabled = False
    key = ["entity", "instance", "name"]
    opt_df = repo.get_optimization(PROBE)
    confidence = opt_df.select("confidence").first()[0]
    models = sorted(r[0] for r in opt_df.select("best_model_name").distinct().collect())
    optimization = AnomalyOptimization(opt_df, None, confidence, key, model_names=models)
    last_day = inputs.day_ts(inputs.HISTORY_DAYS - 1)
    history = repo.select_profiling(PROBE, end_ts=last_day).select(*key, "ts", "value")
    tracer.enabled = True
    with tracer.span("anomaly.scoring.score", forced=True):
        score(history, optimization, key_cols=key).write.format("noop").mode("overwrite").save()
    tracer.enabled = False


def _parquet_frame(spark, pdf, path: str):
    """Store a generated frame as parquet (timestamps as UTC instants) and
    read it back, so the program scans a file like a real dataset."""
    pdf.assign(ts=pdf["ts"].dt.tz_localize("UTC")).to_parquet(
        path, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    return spark.read.parquet(path)


def _dashboard_read(repo, uri, ts, tracer=None):
    # the select_* functions return lazy frames: each span covers the collect
    with span(tracer, "repository.select_profiling", forced=True):
        prof = (
            repo.select_profiling(uri, start_ts=ts - datetime.timedelta(days=DASHBOARD_DAYS), end_ts=ts)
            .select("ts", "entity", "instance", "name", "value")
            .collect()
        )
    with span(tracer, "repository.select_scoring", forced=True):
        scores = (
            repo.select_scoring(uri, start_ts=ts - datetime.timedelta(days=SCORE_DAYS), end_ts=ts)
            .select("ts", "entity", "instance", "name", "value", "predicted", "error")
            .collect()
        )
    return [tuple(r) for r in prof], [tuple(r) for r in scores]


def _profiling_rows(repo, uri):
    return [
        tuple(r)
        for r in repo.select_profiling(uri).select("ts", "entity", "instance", "name", "value").collect()
    ]


def _day_report(rows, ts):
    return {(e, i, n): v for t, e, i, n, v in rows if t == ts}


# --- ann_dedup ----------------------------------------------------------------------


def ann_dedup(spark, workdir: str, seed: int, seconds: float, tracer, t_start: float) -> Result:
    """Build the IVF index over a clustered corpus with planted
    near-duplicates, serve fixed query batches from it, build the kNN
    graph, run exact top-k for a batch, and semantic dedup.

    The coarse quantizer is trained once in set-up (``coarse_centroids``)
    and every round rebuilds the index with it frozen, the maintenance
    recipe ``ivf_index_append`` documents; K-Means itself is pyspark.ml
    code, not this program's. One untimed warm-up round in set-up pays
    JIT, codegen and Python-worker start, as the onboarding does in
    ``daily_monitor``, so the measured rounds time the operators warm."""
    import thoth_spark.operators.similarity as sim

    jvm_pid = spark.sparkContext._gateway.proc.pid
    e = inputs.embeddings(seed)
    corpus = spark.createDataFrame(inputs.vector_frame(e.corpus_ids, e.corpus)).cache()
    corpus.count()
    batches = []
    for ids, vecs in e.query_batches:
        q = spark.createDataFrame(inputs.vector_frame(ids, vecs)).cache()
        q.count()
        batches.append((ids, vecs, q))
    path = os.path.join(workdir, "ivf")
    quantizer = sim.coarse_centroids(corpus, "embedding", inputs.N_CELLS, seed=seed)
    k, nprobe = inputs.TOP_K, inputs.NPROBE
    sim_span = "operators.similarity."

    def one_round(tally):
        r = Round()
        cost, cent = tally.call(sim.build_ivf_index, corpus, path, centroids=quantizer,
                                trace_as=sim_span + "build_ivf_index")
        r.add(cost)
        if cent is None:
            return r
        stored = [tuple(x) for x in spark.read.parquet(f"{path}/cells").select("vec_id", "cell").collect()]
        tally.check("index cells", oracles.check_cells(stored, e.corpus_ids, e.corpus, cent))
        for ids, vecs, q in batches:
            cost, res = tally.call(lambda: sim.ivf_query_index(spark, path, q, k=k, nprobe=nprobe).collect(),
                                   trace_as=sim_span + "ivf_query_index")
            r.add(cost)
            if res is not None:
                cand = oracles.cell_candidates(e.corpus, vecs, cent, nprobe)
                tally.check("ivf top-k", oracles.check_topk([tuple(x) for x in res], ids, vecs,
                                                            e.corpus_ids, e.corpus, k, cand))
        cost, res = tally.call(lambda: sim.knn_graph(spark, path, corpus, k=k, nprobe=nprobe).collect(),
                               trace_as=sim_span + "knn_graph")
        r.add(cost)
        if res is not None:
            cand = oracles.cell_candidates(e.corpus, e.corpus, cent, nprobe)
            tally.check("knn graph", oracles.check_topk([tuple(x) for x in res], e.corpus_ids, e.corpus,
                                                        e.corpus_ids, e.corpus, k, cand))
        ids, vecs, q = batches[0]
        cost, res = tally.call(lambda: sim.brute_force_topk(corpus, q, k=k).collect(),
                               trace_as=sim_span + "brute_force_topk")
        r.add(cost)
        if res is not None:
            tally.check("exact top-k", oracles.check_topk([tuple(x) for x in res], ids, vecs,
                                                          e.corpus_ids, e.corpus, k))
        cost, res = tally.call(
            lambda: sim.semdedup(corpus, threshold=inputs.DEDUP_THRESHOLD, centroids=cent).collect(),
            trace_as=sim_span + "semdedup",
            known_fault="NUM_COLUMNS_MISMATCH",
        )
        r.add(cost)
        if res is not None:
            tally.check("semdedup", oracles.check_semdedup([tuple(x) for x in res], e.corpus_ids, e.corpus,
                                                           cent, inputs.DEDUP_THRESHOLD))
        return r

    # the warm-up round's checks gate `correct` but are not counted as
    # operations, so every run's operations are whole measured rounds
    warm_up = Tally(jvm_pid)
    one_round(warm_up)
    setup_s = time.perf_counter() - t_start

    tally = Tally(jvm_pid, tracer)
    rounds, pair = _loop(lambda: one_round(tally), seconds, tracer)
    for *_, q in batches:
        q.unpersist()
    corpus.unpersist()
    tally.wrong += warm_up.wrong
    tally.notes.extend(n for n in warm_up.notes if n not in tally.notes)
    return Result(tally, setup_s, rounds, pair)


WORKLOADS = {"daily_monitor": daily_monitor, "ann_dedup": ann_dedup}
