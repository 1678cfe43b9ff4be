"""Seeded input generators. Every input a workload hands the program is
built here from ``--seed``: the same seed gives byte-identical inputs.

The generators return numpy/pandas data; the workloads turn them into
Spark DataFrames, so the program only ever sees the generated frames.
"""

from __future__ import annotations

import dataclasses
import datetime

import numpy as np
import pandas as pd

EPOCH = datetime.datetime(2024, 1, 1)

# --- daily_monitor -----------------------------------------------------------

#: uniform numeric columns: (name, low, high). All values stay far above
#: the APE floor (1e-4), and every metric's day-to-day relative noise at
#: ROWS_PER_DAY rows is under ~2 %, so a clean day never reaches the 0.1
#: threshold floor while a x3 day always does (error ~0.67).
NUMERIC = [("amount", 80.0, 120.0), ("latency", 50.0, 150.0)]
#: uniform nullable numeric column: (name, low, high, null share)
NULLABLE = ("discount", 30.0, 50.0, 0.10)
LOW_CARD = ("channel", [f"ch{i}" for i in range(8)])
HIGH_CARD = ("user_id", 10**7)
NUMERIC_COLUMNS = [c for c, *_ in NUMERIC] + [NULLABLE[0]]
STRING_COLUMNS = [LOW_CARD[0], HIGH_CARD[0]]
ROWS_PER_DAY = 1000
HISTORY_DAYS = 60
#: the numeric-column multiplier of an injected anomalous batch
ANOMALY_FACTOR = 3.0


def day_ts(day: int) -> datetime.datetime:
    return EPOCH + datetime.timedelta(days=day)


def _day_rng(seed: int, day: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, day, stream])


def day_batch(seed: int, day: int) -> pd.DataFrame:
    """One day of events: ~ROWS_PER_DAY rows (+-1 %), timestamps spread
    over the day, the columns described at the top of this module."""
    rng = _day_rng(seed, day, 0)
    n = ROWS_PER_DAY + int(rng.integers(-ROWS_PER_DAY // 100, ROWS_PER_DAY // 100 + 1))
    secs = np.sort(rng.integers(0, 86400, n))
    cols: dict[str, object] = {
        "ts": pd.Timestamp(day_ts(day)) + pd.to_timedelta(secs, unit="s")
    }
    for name, lo, hi in NUMERIC:
        cols[name] = rng.uniform(lo, hi, n)
    name, lo, hi, null_rate = NULLABLE
    vals = rng.uniform(lo, hi, n)
    vals[rng.random(n) < null_rate] = np.nan
    cols[name] = vals
    cols[LOW_CARD[0]] = np.asarray(LOW_CARD[1])[rng.integers(0, len(LOW_CARD[1]), n)]
    cols[HIGH_CARD[0]] = np.char.add("u", rng.integers(0, HIGH_CARD[1], n).astype(str))
    return pd.DataFrame(cols)


def anomalous(batch: pd.DataFrame) -> pd.DataFrame:
    """The same batch with every numeric column multiplied by
    ANOMALY_FACTOR (nulls stay null)."""
    out = batch.copy()
    for c in NUMERIC_COLUMNS:
        out[c] = out[c] * ANOMALY_FACTOR
    return out


def history(seed: int, days: int = HISTORY_DAYS) -> pd.DataFrame:
    return pd.concat([day_batch(seed, d) for d in range(days)], ignore_index=True)


# --- ann_dedup ---------------------------------------------------------------


@dataclasses.dataclass
class Embeddings:
    corpus_ids: np.ndarray  # int64, 0..n-1
    corpus: np.ndarray  # (n, dim) float64
    query_batches: list[tuple[np.ndarray, np.ndarray]]  # (ids, vectors)


N_VECTORS = 2048
DIM = 32
N_TRUE_CLUSTERS = 24
N_CELLS = 16
NPROBE = 2
TOP_K = 5
QUERY_BATCH = 32
N_QUERY_BATCHES = 3
#: share of the corpus that is a planted near-copy of another row
PLANTED_SHARE = 0.05
DEDUP_THRESHOLD = 0.95


def embeddings(seed: int) -> Embeddings:
    """Clustered embeddings: N_TRUE_CLUSTERS Gaussian blobs on the unit
    sphere's neighbourhood, plus PLANTED_SHARE near-copies (cosine > 0.999
    to their source) placed at random ids. Query batches are fresh points
    from the same blobs, with ids after the corpus."""
    rng = np.random.default_rng([seed, 1])
    centers = rng.normal(0.0, 1.0, (N_TRUE_CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(n):
        lab = rng.integers(0, N_TRUE_CLUSTERS, n)
        return centers[lab] + 0.35 * rng.normal(0.0, 1.0, (n, DIM)) / np.sqrt(DIM)

    x = draw(N_VECTORS)
    m = int(N_VECTORS * PLANTED_SHARE)
    perm = rng.permutation(N_VECTORS)
    src, dst = perm[:m], perm[m : 2 * m]
    x[dst] = x[src] + 1e-3 * rng.normal(0.0, 1.0, (m, DIM)) / np.sqrt(DIM)
    batches = []
    next_id = N_VECTORS
    for _ in range(N_QUERY_BATCHES):
        ids = np.arange(next_id, next_id + QUERY_BATCH, dtype=np.int64)
        batches.append((ids, draw(QUERY_BATCH)))
        next_id += QUERY_BATCH
    return Embeddings(
        corpus_ids=np.arange(N_VECTORS, dtype=np.int64),
        corpus=x,
        query_batches=batches,
    )


def vector_frame(ids: np.ndarray, vecs: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})
