"""Driver-side tests of the sequential-dimension fold kernel behind
semdedup's verify (``_threshold_pairs``) and the cogrouped ``knn_graph``
scorer (``_cogroup_topk_group``), run with block sizes small enough that
every query and candidate block boundary is crossed. The reference is an
unblocked scalar left fold, the order in which the JVM ``dot``
aggregate adds. No Spark session is needed."""

from operator import itemgetter

import numpy as np
import pandas as pd
import pytest

from thoth_spark.operators import similarity


def _fold_cos(a, b) -> float:
    """Cosine of two vectors by one left fold per sum, as the JVM does."""
    dot, na, nb = np.float64(0.0), np.float64(0.0), np.float64(0.0)
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    with np.errstate(invalid="ignore", divide="ignore"):
        return dot / (np.sqrt(na) * np.sqrt(nb))


def _spark_desc(cos: float, nid) -> tuple:
    """Sort key of (cos desc, neighbor asc) with NaN greatest, as Spark
    orders doubles."""
    return (0, 0.0, nid) if np.isnan(cos) else (1, -cos, nid)


@pytest.fixture
def small_blocks(monkeypatch):
    monkeypatch.setattr(similarity, "_COGROUP_Q_BLOCK", 3)
    monkeypatch.setattr(similarity, "_COGROUP_C_BLOCK", 5)


def _vectors(n: int, dim: int = 4, seed: int = 7) -> np.ndarray:
    return np.random.default_rng(seed).normal(size=(n, dim))


def test_threshold_pairs_match_unblocked_fold(small_blocks):
    R = _vectors(13)
    R[6] = R[2]  # an exact duplicate, in another block than its twin
    R[9] = 0.0  # zero norm: NaN pairs with every row
    threshold = _fold_cos(R[0], R[1])  # a pair sits exactly on the bar
    expected = sorted(
        (i, j)
        for i in range(len(R))
        for j in range(i + 1, len(R))
        if not _fold_cos(R[i], R[j]) < threshold  # >= or NaN
    )
    ea, eb = similarity._threshold_pairs(R, threshold)
    assert sorted(zip(ea.tolist(), eb.tolist())) == expected
    assert (0, 1) in expected and (2, 6) in expected and (0, 9) in expected


def _cogroup_inputs(zero: str | None):
    C = _vectors(13, seed=11)
    C[8] = C[3]  # duplicate neighbors 108 and 103: a cos tie across blocks
    Q = _vectors(8, seed=12)
    Q[1] = C[3]  # its best match is the tie
    if zero == "corpus":
        C[5] = 0.0
    if zero == "query":
        Q[4] = 0.0
    # corpus ids out of order, to be sorted by the kernel; query 103 is
    # also a neighbor (the self pair must drop)
    nids = np.array([100 + i for i in range(13)])[::-1]
    qids = np.array([200, 201, 202, 103, 204, 205, 206, 207])
    cpdf = pd.DataFrame({"neighbor_id": nids, "cv": list(C[::-1])})
    qpdf = pd.DataFrame({"query_id": qids, "qv": list(Q)})
    return qpdf, cpdf


def _reference_topk(qpdf, cpdf, k: int) -> list:
    rows = []
    for qid, qv in zip(qpdf["query_id"], qpdf["qv"]):
        pairs = [
            (_fold_cos(qv, cv), nid)
            for nid, cv in zip(cpdf["neighbor_id"], cpdf["cv"])
            if nid != qid
        ]
        pairs.sort(key=lambda p: _spark_desc(*p))
        rows += [(qid, nid, cos) for cos, nid in pairs[:k]]
    return rows


def _global_cut(out: pd.DataFrame, k: int) -> list:
    """The downstream per-query window over a group's emitted rows."""
    rows = []
    for qid, g in out.groupby("query_id", sort=False):
        ranked = sorted(zip(g["cos_sim"], g["neighbor_id"]), key=lambda p: _spark_desc(*p))
        rows += [(qid, nid, cos) for cos, nid in ranked[:k]]
    return rows


def _same_rows(got: list, want: list) -> bool:
    got, want = sorted(got, key=itemgetter(0, 1)), sorted(want, key=itemgetter(0, 1))
    return [r[:2] for r in got] == [r[:2] for r in want] and all(
        a[2] == b[2] or (np.isnan(a[2]) and np.isnan(b[2])) for a, b in zip(got, want)
    )


def test_cogroup_topk_matches_unblocked_fold(small_blocks):
    qpdf, cpdf = _cogroup_inputs(zero=None)
    out = similarity._cogroup_topk_group(qpdf, cpdf, k=3)
    want = _reference_topk(qpdf, cpdf, k=3)
    # finite groups emit exactly the per-query top-k, nothing more
    got = list(zip(out["query_id"], out["neighbor_id"], out["cos_sim"]))
    assert _same_rows(got, want)
    # the duplicate neighbors tie, and the lower id ranks first
    q1 = out[out["query_id"] == 201]
    assert q1["neighbor_id"].tolist()[:2] == [103, 108]
    assert q1["cos_sim"].iloc[0] == q1["cos_sim"].iloc[1]
    assert not ((out["query_id"] == 103) & (out["neighbor_id"] == 103)).any()


@pytest.mark.parametrize("zero", ["corpus", "query"])
def test_cogroup_topk_zero_norm_keeps_spark_order(small_blocks, zero):
    """A block that meets a NaN cosine emits every pair; the downstream
    window then orders them as Spark does (NaN greatest)."""
    qpdf, cpdf = _cogroup_inputs(zero=zero)
    out = similarity._cogroup_topk_group(qpdf, cpdf, k=3)
    assert _same_rows(_global_cut(out, 3), _reference_topk(qpdf, cpdf, k=3))

