"""Self-test of the oracles: each accepts an output built to be right and
rejects the same output perturbed. Also checks how a raising call is
counted. No Spark needed.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs, oracles  # noqa: E402

CASES: list[tuple[str, bool, list[str]]] = []


def case(name: str, should_pass: bool, problems: list[str]) -> None:
    CASES.append((name, should_pass, problems))


def profile_cases() -> None:
    batch = inputs.day_batch(7, 3)
    expected = oracles.expected_profile(batch)
    stored = {}
    for key, exp in expected.items():
        if isinstance(exp, tuple):
            col = batch[key[1]].dropna().to_numpy()
            stored[key] = float(np.sort(col)[int(float(key[2].split("-")[1]) * len(col))])
        else:
            stored[key] = exp
    case("profile: exact values", True, oracles.check_profile(stored, expected))
    mean = ("Column", inputs.NUMERIC_COLUMNS[0], "Mean")
    case("profile: Mean off by 1e-6", False, oracles.check_profile({**stored, mean: stored[mean] * (1 + 1e-6)}, expected))
    q = ("Column", inputs.NUMERIC_COLUMNS[0], "ApproxQuantiles-0.5")
    case("profile: median moved 1 %", False, oracles.check_profile({**stored, q: stored[q] * 1.01}, expected))
    size = ("Dataset", "*", "Size")
    case("profile: Size missing", False, oracles.check_profile({k: v for k, v in stored.items() if k != size}, expected))
    rows = [(d, *k, v) for d in (1, 2) for k, v in stored.items()]
    case("one report per day", True, oracles.check_one_report_per_day(rows))
    case("one report per day: a duplicate", False, oracles.check_one_report_per_day(rows + [rows[0]]))


def score_cases() -> None:
    rng = np.random.default_rng(1)
    keys = [("Column", "a", "Mean"), ("Dataset", "*", "Size")]
    profiling = [(d, *k, float(rng.uniform(90, 110))) for d in range(31) for k in keys]
    ts = 30
    scores = []
    for k in keys:
        series = [v for d, *kk, v in profiling if tuple(kk) == k]
        pred = float(np.mean(series[-6:-1]))  # w = 5
        value = series[-1]
        scores.append((*k, value, pred, min(1.0, abs(value - pred) / value)))
    case("scores: window-5 predictions", True, oracles.check_scores(scores, profiling, ts))
    bad = [scores[0][:4] + (scores[0][4] + 0.5, scores[0][5])] + scores[1:]
    case("scores: predicted is no window mean", False, oracles.check_scores(bad, profiling, ts))
    bad = [scores[0][:5] + (scores[0][5] + 1e-3,)] + scores[1:]
    case("scores: error off", False, oracles.check_scores(bad, profiling, ts))
    case("scores: a metric unscored", False, oracles.check_scores(scores[:1], profiling, ts))


def assessment_cases() -> None:
    numeric = sorted(oracles.numeric_anomaly_keys())
    case("assessment: clean day", True, oracles.check_assessment(True, [], injected=False))
    case("assessment: clean day flagged", False, oracles.check_assessment(False, numeric[:1], injected=False))
    case("assessment: injected day", True, oracles.check_assessment(False, numeric, injected=True))
    case("assessment: injected day passed", False, oracles.check_assessment(True, [], injected=True))
    comp = ("Column", inputs.NUMERIC_COLUMNS[0], "Completeness")
    case("assessment: injected flags Completeness", False,
         oracles.check_assessment(False, numeric + [comp], injected=True))


def optimization_cases() -> None:
    keys = {("Column", "a", "Mean"), ("Dataset", "*", "Size")}
    rows = [
        {"entity": e, "instance": i, "name": n, "best_model_name": "SimpleModel", "threshold": 0.1,
         "mean_error": 0.01, "below_threshold_proportion": 1.0}
        for e, i, n in sorted(keys)
    ]
    case("optimization: one row per metric", True, oracles.check_optimization(rows, keys))
    case("optimization: threshold 1.0", False, oracles.check_optimization([{**rows[0], "threshold": 1.0}, rows[1]], keys))
    case("optimization: a duplicate row", False, oracles.check_optimization(rows + rows[:1], keys))
    case("re-optimization: same", True, oracles.check_same_optimization(rows, [dict(r) for r in rows]))
    case("re-optimization: threshold moved", False,
         oracles.check_same_optimization(rows, [{**rows[0], "threshold": 0.2}, rows[1]]))


def similarity_cases() -> None:
    e = inputs.embeddings(5)
    ids, vecs = e.query_batches[0]
    k = inputs.TOP_K
    cu = e.corpus / np.linalg.norm(e.corpus, axis=1, keepdims=True)
    qu = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    result = []
    for qi, qid in enumerate(ids):
        cos = cu @ qu[qi]
        order = np.lexsort((e.corpus_ids, -cos))[:k]
        result += [(int(qid), int(e.corpus_ids[j]), round(float(cos[j]), 6), r + 1) for r, j in enumerate(order)]
    check = lambda res: oracles.check_topk(res, ids, vecs, e.corpus_ids, e.corpus, k)  # noqa: E731
    case("top-k: exact", True, check(result))
    worse = int(np.argsort(cu @ qu[0])[len(cu) // 2])
    case("top-k: a far neighbor", False, check([result[0][:1] + (worse,) + result[0][2:]] + result[1:]))
    case("top-k: cos_sim off", False, check([result[0][:2] + (result[0][2] - 1e-4, 1)] + result[1:]))
    swapped = [result[1][:3] + (1,), result[0][:3] + (2,)] + result[2:]
    case("top-k: ranks swapped", False, check(swapped))

    cent = e.corpus[:: len(e.corpus) // inputs.N_CELLS][: inputs.N_CELLS]
    cells = oracles.nearest_cells(e.corpus, cent, 1)[:, 0]
    stored = list(zip(e.corpus_ids.tolist(), cells.tolist()))
    case("cells: nearest centroid", True, oracles.check_cells(stored, e.corpus_ids, e.corpus, cent))
    moved = [(stored[0][0], (stored[0][1] + 1) % inputs.N_CELLS)] + stored[1:]
    case("cells: a vector in another cell", False, oracles.check_cells(moved, e.corpus_ids, e.corpus, cent))
    case("cells: a vector twice", False, oracles.check_cells(stored + stored[:1], e.corpus_ids, e.corpus, cent))

    # survivors: one per connected group of within-cell pairs at or above
    # the threshold (the lowest id), built here by plain union-find
    thr = inputs.DEDUP_THRESHOLD
    parent = list(range(len(e.corpus)))
    pairs = []

    def find(a):
        while parent[a] != a:
            a = parent[a]
        return a

    for c in range(inputs.N_CELLS):
        m = np.flatnonzero(cells == c)
        ia, ib = np.nonzero(np.triu(cu[m] @ cu[m].T >= thr, 1))
        for a, b in zip(m[ia], m[ib]):
            pairs.append((int(a), int(b)))
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    roots = [find(i) for i in range(len(e.corpus))]
    survivors = [(int(i), int(cells[i])) for i in range(len(e.corpus)) if roots[i] == i]
    sem = lambda s: oracles.check_semdedup(s, e.corpus_ids, e.corpus, cent, thr)  # noqa: E731
    case("semdedup: one survivor per group", True, sem(survivors))
    a, b = next((a, b) for a, b in pairs if roots[a] == a)
    case("semdedup: two duplicates survive", False, sem(survivors + [(b, int(cells[b]))]))
    case("semdedup: a whole group dropped", False, sem([s for s in survivors if s[0] != a]))


def tally_cases() -> None:
    """A call that raises is failed; it is also wrong unless it raised
    its known fault."""
    from perfbench.workloads import Tally

    def raises(msg):
        raise RuntimeError(msg)

    for name, msg, known, wrong in [
        ("call: known fault", "[NUM_COLUMNS_MISMATCH] x", "NUM_COLUMNS_MISMATCH", 0),
        ("call: other error of a known-fault call", "[OTHER] x", "NUM_COLUMNS_MISMATCH", 1),
        ("call: error of a call with no known fault", "[NUM_COLUMNS_MISMATCH] x", None, 1),
    ]:
        t = Tally(os.getpid())
        t.call(raises, msg, known_fault=known)
        problems = [] if (t.attempted, t.failed, t.wrong) == (1, 1, wrong) else [f"{t}"]
        case(name, True, problems)


def main() -> int:
    tally_cases()
    profile_cases()
    score_cases()
    assessment_cases()
    optimization_cases()
    similarity_cases()
    bad = 0
    for name, should_pass, problems in CASES:
        ok = (not problems) == should_pass
        bad += not ok
        verdict = "ok  " if ok else "FAIL"
        print(f"{verdict} {name}: {'accepted' if not problems else 'rejected: ' + problems[0][:90]}")
    print(f"{len(CASES) - bad}/{len(CASES)} oracle cases behave")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
