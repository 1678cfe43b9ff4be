"""Correctness oracles, computed apart from the program: plain numpy over
the generated inputs. Each ``check_*`` returns a list of problems; an
empty list means the output holds. They take collected rows (tuples and
dicts), never Spark objects, so ``selftest.py`` exercises them without
Spark.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
import pandas as pd

from perfbench import inputs

REL_TOL = 1e-9
QUANTILES = (0.25, 0.5, 0.75)
#: ApproxQuantiles' rank accuracy (``percentile_approx`` accuracy 10000)
QUANTILE_EPS = 1.0 / 10000
#: rolling-mean windows SimpleModel may pick (anomaly.models.DEFAULT_WINDOWS)
WINDOWS = (3, 5, 7, 30)
MIN_THRESHOLD = 0.1

Key = tuple  # (entity, instance, name)


def _close(a: float, b: float, tol: float = REL_TOL) -> bool:
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


# --- profiler ------------------------------------------------------------------


def expected_profile(batch: pd.DataFrame) -> dict[Key, object]:
    """Per-metric expectation for one day's batch: a float for exact
    metrics, a (lo, hi) pair of order statistics for ApproxQuantiles."""
    n = len(batch)
    out: dict[Key, object] = {("Dataset", "*", "Size"): float(n)}
    for c in inputs.NUMERIC_COLUMNS:
        v = batch[c].to_numpy(dtype=np.float64)
        v = np.sort(v[~np.isnan(v)])
        m = len(v)
        out[("Column", c, "Completeness")] = m / n
        out[("Column", c, "Mean")] = float(v.mean())
        out[("Column", c, "StandardDeviation")] = float(v.std())
        for q in QUANTILES:
            lo = max(0, math.floor((q - QUANTILE_EPS) * m) - 1)
            hi = min(m - 1, math.ceil((q + QUANTILE_EPS) * m))
            out[("Column", c, f"ApproxQuantiles-{q}")] = (float(v[lo]), float(v[hi]))
    for c in inputs.STRING_COLUMNS:
        s = batch[c]
        out[("Column", c, "Completeness")] = float(s.notna().sum()) / n
        out[("Column", c, "CountDistinct")] = float(s.dropna().nunique())
    return out


def check_profile(stored: dict[Key, float], expected: dict[Key, object]) -> list[str]:
    """``stored`` is one day's stored report: metric key -> value."""
    problems = []
    if set(stored) != set(expected):
        missing = sorted(set(expected) - set(stored))[:3]
        extra = sorted(set(stored) - set(expected))[:3]
        problems.append(f"metric keys differ: missing {missing}, extra {extra}")
    for key, exp in expected.items():
        got = stored.get(key)
        if got is None:
            continue
        if isinstance(exp, tuple):
            if not exp[0] <= got <= exp[1]:
                problems.append(f"{key}={got} outside order statistics {exp}")
        elif not _close(got, exp):
            problems.append(f"{key}={got!r} != {exp!r}")
    return problems


def check_one_report_per_day(rows: list[tuple]) -> list[str]:
    """``rows``: stored profiling (ts, entity, instance, name, value). Every
    day holds each metric exactly once and the same metric set."""
    by_ts: dict[object, list[Key]] = defaultdict(list)
    for ts, *key, _ in rows:
        by_ts[ts].append(tuple(key))
    problems = []
    ref = None
    for ts, keys in sorted(by_ts.items()):
        if len(keys) != len(set(keys)):
            problems.append(f"{ts}: {len(keys) - len(set(keys))} duplicate metric rows")
        ref = set(keys) if ref is None else ref
        if set(keys) != ref:
            problems.append(f"{ts}: metric set differs from the first day's")
    return problems


# --- anomaly.scoring -------------------------------------------------------------


def check_scores(
    scores: list[tuple], profiling: list[tuple], ts, windows=WINDOWS
) -> list[str]:
    """``scores``: stored scoring rows at ``ts`` as (entity, instance, name,
    value, predicted, error). ``profiling``: stored profiling rows (ts,
    entity, instance, name, value) covering ``ts`` and at least
    max(windows) days before it. Every metric of the day is scored once;
    value is the stored profiling value; predicted is the mean of the
    previous w stored values for some w in ``windows``; error is
    min(1, |value - predicted| / value)."""
    series: dict[Key, list[tuple]] = defaultdict(list)
    for t, e, i, nm, v in profiling:
        series[(e, i, nm)].append((t, v))
    problems = []
    seen = [tuple(r[:3]) for r in scores]
    if len(seen) != len(set(seen)):
        problems.append("a metric is scored twice")
    day_keys = {k for k, pts in series.items() if any(t == ts for t, _ in pts)}
    if set(seen) != day_keys:
        problems.append(f"scored {len(set(seen))} metrics, the day has {len(day_keys)}")
    for e, i, nm, value, predicted, error in scores:
        pts = sorted(series.get((e, i, nm), []))
        prev = [v for t, v in pts if t < ts]
        today = [v for t, v in pts if t == ts]
        key = (e, i, nm)
        if today and not _close(value, today[0]):
            problems.append(f"{key}: scored value {value} != stored {today[0]}")
        if predicted is None:
            problems.append(f"{key}: no prediction")
            continue
        means = [float(np.mean(prev[-w:])) for w in windows if len(prev) >= w]
        if not any(_close(predicted, m) for m in means):
            problems.append(f"{key}: predicted {predicted} is no window mean of {means}")
        want = min(1.0, abs(value - predicted) / value)
        if not _close(error, want):
            problems.append(f"{key}: error {error} != {want}")
    return problems


# --- quality -------------------------------------------------------------------


def numeric_anomaly_keys() -> set[Key]:
    """The metrics a x3 numeric batch must move: every numeric column's
    Mean, StandardDeviation and quantiles (Completeness is unchanged)."""
    names = ["Mean", "StandardDeviation"] + [f"ApproxQuantiles-{q}" for q in QUANTILES]
    return {("Column", c, n) for c in inputs.NUMERIC_COLUMNS for n in names}


def check_assessment(ok: bool, flagged: list[Key], injected: bool) -> list[str]:
    """A clean day assesses True with nothing flagged; an injected day
    assesses False, flags every numeric Mean, and flags nothing outside
    the numeric-column metrics."""
    if not injected:
        return [] if ok and not flagged else [f"clean day assessed {ok}, flagged {flagged[:3]}"]
    problems = []
    if ok:
        problems.append("injected day assessed True")
    allowed = numeric_anomaly_keys()
    outside = [k for k in flagged if tuple(k) not in allowed]
    if outside:
        problems.append(f"flagged non-numeric metrics {outside[:3]}")
    means = {("Column", c, "Mean") for c in inputs.NUMERIC_COLUMNS}
    if not means <= {tuple(k) for k in flagged}:
        problems.append("an injected numeric Mean was not flagged")
    return problems


# --- anomaly.optimization -----------------------------------------------------------


def check_optimization(
    rows: list[dict], metric_keys: set[Key], min_threshold: float = MIN_THRESHOLD
) -> list[str]:
    """One row per metric, threshold in [min_threshold, 1)."""
    keys = [(r["entity"], r["instance"], r["name"]) for r in rows]
    problems = []
    if len(keys) != len(set(keys)) or set(keys) != metric_keys:
        problems.append(f"{len(keys)} optimization rows for {len(metric_keys)} metrics")
    for r in rows:
        if not min_threshold <= r["threshold"] < 1.0:
            problems.append(f"threshold {r['threshold']} outside [{min_threshold}, 1)")
    return problems


def check_same_optimization(a: list[dict], b: list[dict]) -> list[str]:
    """Re-optimizing unchanged history reproduces the optimization."""
    fields = ("best_model_name", "threshold", "mean_error", "below_threshold_proportion")

    def index(rows):
        return {(r["entity"], r["instance"], r["name"]): r for r in rows}

    ia, ib = index(a), index(b)
    if set(ia) != set(ib):
        return ["re-optimization covers other metrics"]
    problems = []
    for k, ra in ia.items():
        for f in fields:
            x, y = ra[f], ib[k][f]
            same = x == y if isinstance(x, str) or x is None or y is None else _close(x, y)
            if not same:
                problems.append(f"{k}.{f}: {x} != {y}")
    return problems


# --- operators.similarity ------------------------------------------------------------


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def nearest_cells(x: np.ndarray, cent: np.ndarray, n: int) -> np.ndarray:
    """The ``n`` nearest centroids of each row by squared L2 (ties to the
    lower cell id)."""
    d = (cent * cent).sum(axis=1) - 2.0 * (x @ cent.T)
    return np.argsort(d, axis=1, kind="stable")[:, :n]


def check_topk(
    result: list[tuple],
    q_ids: np.ndarray,
    q_vecs: np.ndarray,
    c_ids: np.ndarray,
    c_vecs: np.ndarray,
    k: int,
    candidates=None,
) -> list[str]:
    """``result``: (query_id, neighbor_id, cos_sim, rank) rows. For each
    query, the neighbors are the exact float64 cosine top-k over its
    candidates (all corpus rows, or ``candidates(qi) -> bool mask``),
    excluding itself, ordered by cosine then id; ``cos_sim`` is the
    cosine rounded to 6 places."""
    pos = {int(i): j for j, i in enumerate(c_ids)}
    got: dict[int, list[tuple]] = defaultdict(list)
    for qid, nid, cs, rk in result:
        got[int(qid)].append((int(rk), int(nid), float(cs)))
    problems = []
    if set(got) - {int(i) for i in q_ids}:
        problems.append("result holds unknown query ids")
    cu = _unit(c_vecs)
    qu = _unit(q_vecs)
    for qi, qid in enumerate(q_ids):
        qid = int(qid)
        mask = np.ones(len(c_ids), bool) if candidates is None else candidates(qi)
        mask &= c_ids != qid
        cos = cu[mask] @ qu[qi]
        ids = c_ids[mask]
        order = np.lexsort((ids, -cos))[:k]
        want_cos = cos[order]
        rows = sorted(got.get(qid, []))
        if [r[0] for r in rows] != list(range(1, len(order) + 1)):
            problems.append(f"query {qid}: ranks {[r[0] for r in rows]} for {len(order)} neighbors")
            continue
        true = []
        for _, nid, cs in rows:
            j = pos.get(nid)
            if j is None or not mask[j]:
                problems.append(f"query {qid}: neighbor {nid} is not a candidate")
                break
            t = float(cu[j] @ qu[qi])
            if abs(cs - round(t, 6)) > 2e-6:
                problems.append(f"query {qid}: cos_sim {cs} != {t:.8f}")
            true.append((t, nid))
        else:
            for a, b in zip(true, want_cos):
                if abs(a[0] - b) > REL_TOL:
                    problems.append(f"query {qid}: neighbor cos {a[0]} != exact {b}")
                    break
            for (ta, ia), (tb, ib) in zip(true, true[1:]):
                if tb > ta + 1e-12 or (abs(ta - tb) <= 1e-12 and ib < ia):
                    problems.append(f"query {qid}: neighbors out of order")
                    break
        if len(problems) > 20:
            break
    return problems


def cell_candidates(c_vecs: np.ndarray, q_vecs: np.ndarray, cent: np.ndarray, nprobe: int):
    """Candidate mask per query: corpus rows whose nearest cell is one of
    the query's ``nprobe`` nearest cells."""
    c_cell = nearest_cells(c_vecs, cent, 1)[:, 0]
    probes = nearest_cells(q_vecs, cent, nprobe)
    return lambda qi: np.isin(c_cell, probes[qi])


def check_cells(stored: list[tuple], c_ids: np.ndarray, c_vecs: np.ndarray, cent: np.ndarray) -> list[str]:
    """``stored``: the index's (vec_id, cell) rows. Every indexed vector
    appears in exactly one cell: its nearest centroid."""
    want = dict(zip(c_ids.tolist(), nearest_cells(c_vecs, cent, 1)[:, 0].tolist()))
    ids = [int(v) for v, _ in stored]
    problems = []
    if len(ids) != len(set(ids)) or set(ids) != set(want):
        problems.append(f"{len(ids)} indexed rows for {len(want)} vectors")
    wrong = [(v, c) for v, c in stored if want.get(int(v)) != int(c)]
    if wrong:
        problems.append(f"{len(wrong)} vectors outside their nearest cell, e.g. {wrong[0]}")
    return problems


def check_semdedup(
    survivors: list[tuple],
    c_ids: np.ndarray,
    c_vecs: np.ndarray,
    cent: np.ndarray,
    threshold: float,
) -> list[str]:
    """``survivors``: (id, cluster, ...) rows. Clusters are the nearest
    centroids; no two survivors of one cluster reach ``threshold``; every
    dropped id is connected to a survivor through within-cluster pairs at
    or above ``threshold``."""
    cluster = nearest_cells(c_vecs, cent, 1)[:, 0]
    pos = {int(i): j for j, i in enumerate(c_ids)}
    alive = {int(r[0]) for r in survivors}
    problems = []
    if len(alive) != len(survivors) or not alive <= set(pos):
        return ["survivor ids repeat or are unknown"]
    for r in survivors:
        if int(r[1]) != int(cluster[pos[int(r[0])]]):
            problems.append(f"survivor {r[0]} reported in cluster {r[1]}")
            break
    parent = list(range(len(c_ids)))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    u = _unit(c_vecs)
    for cl in np.unique(cluster):
        members = np.flatnonzero(cluster == cl)
        sims = u[members] @ u[members].T
        ia, ib = np.nonzero(np.triu(sims >= threshold - REL_TOL, 1))
        for a, b in zip(members[ia], members[ib]):
            parent[find(a)] = find(b)
            both = int(c_ids[a]) in alive and int(c_ids[b]) in alive
            if both and u[a] @ u[b] >= threshold + REL_TOL:
                problems.append(f"survivors {c_ids[a]} and {c_ids[b]} are duplicates")
    roots_alive = {find(pos[i]) for i in alive}
    lost = [int(c_ids[j]) for j in range(len(c_ids)) if int(c_ids[j]) not in alive and find(j) not in roots_alive]
    if lost:
        problems.append(f"{len(lost)} dropped ids reach no survivor, e.g. {lost[:3]}")
    return problems[:20]
