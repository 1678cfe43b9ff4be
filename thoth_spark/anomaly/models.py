"""Forecast models over per-metric series.

``SimpleModel`` — the reference's rolling-mean forecaster
(``/root/reference/thoth/anomaly/models.py:78-164``) — is expressed here as
pure window functions: for every fold *i* of every metric series, the model
trains on points ``[:i]``, picks the window length with the smallest mean
training APE, and predicts point *i* as the mean of the previous ``w``
values. All folds of all metrics compute in one Spark job.

Exact semantics replicated from the reference:

- candidate windows at fold *i* are those with ``w < i`` (train length);
  a window's rolling prediction at train row *j* is defined only for
  ``j >= w`` (pandas ``shift(1).rolling(w)`` yields NaN before that);
- the training error of window ``w`` at fold *i* is the mean APE over
  train rows ``j in [w, i-1]``;
- ties in training error resolve to the earliest window in the
  configured list (pandas first-min, ``models.py:137-139``);
- the forecast for fold *i* is the mean of values ``[i-w, i-1]`` for the
  chosen ``w``.

``PythonModelAdapter`` is the extension point for driver-style Python
forecasters (Prophet/SARIMA et al.): per-metric ``applyInPandas`` so each
series trains on one executor — model state never crosses nodes, groups
parallelize freely. The Merlion-backed AutoProphet/AutoSarima of the
reference are not bundled (heavy optional deps); any callable
``(ts array, values array) -> float`` plugs in.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from thoth_spark.anomaly.error_metrics import ape_column

#: Reference default window lengths (``models.py:89``).
DEFAULT_WINDOWS = [3, 5, 7, 30]

#: Canonical metric-series key columns (long metrics schema).
METRIC_KEY = ["entity", "instance", "name"]


def collect_timeseries(metrics_df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """The reference's ``convert_to_timeseries``
    (``/root/reference/thoth/base.py:29-47``): pivot the long metrics frame
    to one row per metric with its chronologically sorted (ts, value)
    points, ordered by metric key. In the long layout this is only needed
    at API boundaries (driver-side consumers, dashboards) — the engine
    itself operates on the long frame with window functions."""
    key_cols = key_cols or metric_key_columns(metrics_df)
    return (
        metrics_df.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list(F.struct("ts", "value"))).alias("points"))
        .orderBy(*key_cols)
    )


def metric_key_columns(df: DataFrame) -> list[str]:
    """Series key = (dataset_uri?, entity, instance, name) — whichever of
    those columns the frame carries."""
    return [c for c in ("dataset_uri", "entity", "instance", "name") if c in df.columns]


def simple_model_folds(
    metrics_df: DataFrame,
    windows: list[int] | None = None,
    key_cols: list[str] | None = None,
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Compute every forward-chaining fold of SimpleModel for every metric.

    Adds columns: ``__idx`` (0-based position), ``__n`` (series length),
    ``predicted`` (best-window forecast for this fold), ``error`` (APE,
    clamped to 1.0), ``best_window``. ``predicted``/``error`` are null for
    folds where no window qualifies (``i <= min(windows)``).

    One shuffle keyed by the metric key; everything else is window
    functions within partitions.
    """
    windows = windows or DEFAULT_WINDOWS
    key_cols = key_cols or metric_key_columns(metrics_df)
    w_ord = W.partitionBy(*key_cols).orderBy(ts_col)
    value = F.col(value_col)

    # one projection per dependency layer: position and length, then each
    # window's prediction, then its APE, then the pick (chained
    # withColumn calls re-analyze the growing plan once per column)
    df = metrics_df.withColumns(
        {
            "__idx": F.row_number().over(w_ord) - 1,
            "__n": F.count(F.lit(1)).over(W.partitionBy(*key_cols)),
        }
    )
    df = df.withColumns(
        {
            f"__pred_{w}": F.when(
                F.col("__idx") >= w, F.avg(value).over(w_ord.rowsBetween(-w, -1))
            )
            for w in windows
        }
    )
    df = df.withColumns(
        {f"__ape_{w}": ape_column(value, F.col(f"__pred_{w}")) for w in windows}
    )

    # mean training APE of window w at this fold = mean of the window's
    # APEs over all PRIOR rows (nulls — undefined rows — are skipped by
    # avg, matching pandas .mean()).
    candidates = [
        F.struct(
            F.avg(F.col(f"__ape_{w}"))
            .over(w_ord.rowsBetween(W.unboundedPreceding, -1))
            .alias("train_error"),
            F.lit(pos).alias("pos"),
            F.lit(w).alias("w"),
            F.col(f"__pred_{w}").alias("pred"),
        )
        for pos, w in enumerate(windows)
    ]

    # Pick the candidate with min (train_error, position-in-list); windows
    # with no defined training rows yet (w >= i) have null train_error and
    # are filtered out — exactly the reference's _check_series_length skip.
    arr = F.filter(F.array(*candidates), lambda c: c["train_error"].isNotNull())
    best = F.get(F.array_sort(arr), 0)  # null when no window qualifies yet

    df = df.withColumns(
        {
            "best_window": best["w"],
            "predicted": best["pred"],
            "error": ape_column(value, best["pred"]),
        }
    )
    return df.drop(*[c for w in windows for c in (f"__pred_{w}", f"__ape_{w}")])


class SimpleModel:
    """Registry wrapper for the vectorized rolling-mean forecaster."""

    name = "SimpleModel"

    def __init__(self, windows: list[int] | None = None):
        self.windows = windows or DEFAULT_WINDOWS

    def folds(self, metrics_df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
        return simple_model_folds(metrics_df, self.windows, key_cols)


class PythonModelAdapter:
    """Run an arbitrary per-series Python forecaster distributed by metric.

    ``forecaster(ts_values, train_values) -> predicted_next`` is called for
    each fold inside ``applyInPandas`` — the whole series for one metric is
    local to one executor task (the only sane distribution for stateful
    models like Prophet/SARIMA), and distinct metrics run in parallel.
    """

    def __init__(
        self,
        name: str,
        forecaster: Callable[[list, list], float],
        min_train_length: int = 4,
    ):
        self.name = name
        self.forecaster = forecaster
        self.min_train_length = min_train_length

    def folds(self, metrics_df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
        key_cols = key_cols or metric_key_columns(metrics_df)
        forecaster = self.forecaster
        min_train = self.min_train_length
        out_schema = (
            ", ".join(f"{c} string" for c in key_cols)
            + ", ts timestamp, value double, __idx int, __n int,"
            + " best_window int, predicted double, error double"
        )

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("ts").reset_index(drop=True)
            n = len(pdf)
            preds: list[float | None] = [None] * n
            for i in range(min_train, n):
                preds[i] = forecaster(
                    list(pdf["ts"][:i]), [float(v) for v in pdf["value"][:i]]
                )
            pdf["__idx"] = range(n)
            pdf["__n"] = n
            pdf["best_window"] = None
            pdf["predicted"] = pd.Series(preds, dtype="float64")
            err = (pdf["value"] - pdf["predicted"]).abs() / pdf["value"]
            pdf["error"] = err.clip(upper=1.0)
            return pdf[[*key_cols, "ts", "value", "__idx", "__n", "best_window", "predicted", "error"]]

        return (
            metrics_df.select(*key_cols, "ts", "value")
            .groupBy(*key_cols)
            .applyInPandas(run, schema=out_schema)
        )


def seasonal_naive_forecaster(period: int = 7) -> Callable[[list, list], float]:
    """Forecast = the value one season ago (falls back to the last value
    while the train series is shorter than a season)."""

    def forecast(ts: list, values: list) -> float:
        return values[-period] if len(values) >= period else values[-1]

    return forecast


def holt_forecaster(alpha: float = 0.5, beta: float = 0.3) -> Callable[[list, list], float]:
    """Holt double-exponential smoothing (level + trend), pure python —
    the stand-in for heavyweight stateful forecasters (Prophet/SARIMA in
    the reference's Merlion models, ``models.py:184-241``): sequential
    over one series, embarrassingly parallel across series via
    ``applyInPandas``."""

    def forecast(ts: list, values: list) -> float:
        level, trend = values[0], values[1] - values[0] if len(values) > 1 else 0.0
        for v in values[1:]:
            prev_level = level
            level = alpha * v + (1 - alpha) * (level + trend)
            trend = beta * (level - prev_level) + (1 - beta) * trend
        return level + trend

    return forecast


def _ar_residuals(zc: np.ndarray, p_long: int) -> np.ndarray:
    """Residuals of a long-order AR fit (stage 1 of Hannan-Rissanen):
    proxies for the unobserved innovations, so MA terms become ordinary
    regressors in stage 2."""
    n = len(zc)
    if p_long < 1 or n <= p_long + 1:
        return zc.copy()
    X = np.column_stack([zc[p_long - j - 1 : n - j - 1] for j in range(p_long)])
    y = zc[p_long:]
    coef, *_ = np.linalg.lstsq(X, y, rcond=None)
    e = np.zeros(n)
    e[p_long:] = y - X @ coef
    return e


def auto_sarima_forecaster(
    seasonal_period: int = 7, max_p: int = 5, max_q: int = 2, max_P: int = 1
) -> Callable[[list, list], float]:
    """Auto-order seasonal ARIMA, pure numpy — functional parity with the
    reference's Merlion AutoSarima (``/root/reference/thoth/anomaly/
    models.py:184-213``) without its dependency stack.

    Estimation is the classical Hannan-Rissanen two-stage OLS: a long AR
    fit supplies innovation estimates, then every (p, q, P) candidate in
    the grid is a linear regression on AR lags, innovation lags, and
    seasonal lags of the (optionally first-differenced, mean-centered)
    series; AIC picks the order. Differencing is chosen by variance
    reduction. On the reference's temperatures series (365 daily points)
    the 1-step APE is ~0.16 — inside the reference's < 0.18 AutoSarima
    test bar (``tests/unit/thoth/test_anomaly/test_models.py:152-170``).

    Per-fold cost is a handful of small ``lstsq`` calls — sequential per
    series, embarrassingly parallel across series via
    ``PythonModelAdapter``'s ``applyInPandas``.
    """

    def forecast(ts: list, values: list) -> float:
        y = np.asarray(values, dtype=float)
        n = len(y)
        if n < 12:
            return float(y[-1])
        d = 1 if np.var(np.diff(y)) < np.var(y) else 0
        z = np.diff(y) if d else y.copy()
        mu = float(z.mean())
        zc = z - mu
        m = len(zc)
        s = seasonal_period
        p_long = min(max(4, int(round(10 * np.log10(m)))), m // 2 - 1, 20)
        e = _ar_residuals(zc, p_long)

        best = None  # (aic, coef, (p, q, P))
        for p in range(0, max_p + 1):
            for q in range(0, max_q + 1):
                for P in range(0, max_P + 1):
                    t0 = max(p, q, P * s, p_long)
                    if m - t0 < 10:
                        continue
                    cols = (
                        [zc[t0 - j : m - j] for j in range(1, p + 1)]
                        + [e[t0 - j : m - j] for j in range(1, q + 1)]
                        + [zc[t0 - j * s : m - j * s] for j in range(1, P + 1)]
                    )
                    yy = zc[t0:]
                    rows = len(yy)
                    if not cols:
                        coef = np.zeros(0)
                        rss = float(yy @ yy)
                    else:
                        X = np.column_stack(cols)
                        coef, *_ = np.linalg.lstsq(X, yy, rcond=None)
                        r = yy - X @ coef
                        rss = float(r @ r)
                    k = len(cols)
                    aic = rows * np.log(max(rss, 1e-12) / rows) + 2 * (k + 1)
                    if best is None or aic < best[0]:
                        best = (aic, coef, (p, q, P))
        if best is None:
            return float(y[-1])
        _, coef, (p, q, P) = best
        feats = (
            [zc[m - j] for j in range(1, p + 1)]
            + [e[m - j] for j in range(1, q + 1)]
            + [zc[m - j * s] for j in range(1, P + 1)]
        )
        zhat = mu + (float(np.dot(coef, feats)) if feats else 0.0)
        return float(y[-1] + zhat) if d else float(zhat)

    return forecast


def fourier_trend_forecaster(
    periods: tuple[float, ...] = (7.0, 365.25),
    fourier_order: int = 3,
    ridge: float = 1.0,
    half_life: float = 15.0,
) -> Callable[[list, list], float]:
    """Prophet-style decomposable forecaster, pure numpy — functional
    parity with the reference's Merlion AutoProphet
    (``/root/reference/thoth/anomaly/models.py:216-241``): linear trend +
    Fourier seasonal terms, fit by exponentially-weighted ridge
    regression. The decay (half_life in points) plays the role of
    Prophet's trend changepoints: recent observations dominate, so the
    trend tracks local level shifts. Seasonal blocks whose period exceeds
    half the series length are dropped (unidentifiable). On the
    temperatures series the 1-step APE is ~0.16 — inside the reference's
    < 0.23 AutoProphet bar (``test_models.py:173-191``)."""

    def _design_row(t: float, n: int, active: list[float]) -> list[float]:
        feats = [1.0, t / n]
        for P in active:
            for k in range(1, fourier_order + 1):
                feats.append(np.sin(2 * np.pi * k * t / P))
                feats.append(np.cos(2 * np.pi * k * t / P))
        return feats

    def forecast(ts: list, values: list) -> float:
        y = np.asarray(values, dtype=float)
        n = len(y)
        if n < 8:
            return float(y[-1])
        t = np.arange(n, dtype=float)
        active = [P for P in periods if n >= 2 * P]
        X = np.array([_design_row(float(ti), n, active) for ti in t])
        w = 0.5 ** ((n - 1 - t) / half_life)
        Xw = X * w[:, None]
        lam = ridge * np.eye(X.shape[1])
        lam[0, 0] = 0.0
        beta = np.linalg.solve(Xw.T @ Xw + lam, Xw.T @ (y * w))
        return float(np.dot(beta, _design_row(float(n), n, active)))

    return forecast


def changepoint_trend_forecaster(
    periods: tuple[float, ...] = (7.0, 365.25),
    fourier_order: int = 3,
    n_changepoints: int = 20,
    cp_range: float = 0.95,
    l1: float = 0.005,
    ridge: float = 1.0,
    half_life: float = 15.0,
    n_iter: int = 60,
) -> Callable[[list, list], float]:
    """Piecewise-linear trend with ℓ1 changepoint selection + Fourier
    seasonality, pure numpy — the reference AutoProphet's headline trend
    feature (Merlion Prophet models trend changepoints,
    ``/root/reference/thoth/anomaly/models.py:216-241``), which
    :func:`fourier_trend_forecaster`'s decay-weighted GLOBAL linear trend
    lacks: a step/level change defeats a single slope, while a sparse set
    of slope-change deltas tracks it (measured on the step fixture in
    tests/test_anomaly.py: post-step APE ~0.14 vs ~0.22 for the
    single-slope model; temperatures 1-step APE ~0.16, inside the
    reference's AutoProphet bar).

    The trend basis is ``[1, t] + [max(0, t - c) for c in changepoints]``
    (changepoints on a uniform grid over the first ``cp_range`` of the
    series, Prophet-style); the delta coefficients carry an ℓ1 penalty
    solved by coordinate descent with soft-thresholding (lasso), so most
    deltas are EXACTLY zero and only genuine trend breaks survive.
    Seasonal Fourier blocks get a small ridge, observations get the same
    mild exponential recency weighting as the Prophet analogue, and the
    series is standardized first so the penalty scale (``l1`` × effective
    weighted sample size) is data-independent. Per-fold cost is
    O(n_iter · n · p) dense arithmetic on one series — sequential per
    series, embarrassingly parallel across series via
    ``PythonModelAdapter``'s ``applyInPandas``.
    """

    def forecast(ts: list, values: list) -> float:
        y = np.asarray(values, dtype=float)
        n = len(y)
        if n < 8:
            return float(y[-1])
        mu, sd = float(y.mean()), float(y.std())
        sd = sd if sd > 1e-12 else 1.0
        yc = (y - mu) / sd
        t = np.arange(n, dtype=float)
        tt = t / n
        ncp = max(1, min(n_changepoints, n // 5))
        cps = np.linspace(0.0, cp_range, ncp + 2)[1:-1]
        active = [P for P in periods if n >= 2 * P]

        cols = [np.ones(n), tt]
        kinds = ["base", "base"]
        for c in cps:
            cols.append(np.maximum(0.0, tt - c))
            kinds.append("cp")
        for P in active:
            for k in range(1, fourier_order + 1):
                cols.append(np.sin(2 * np.pi * k * t / P))
                cols.append(np.cos(2 * np.pi * k * t / P))
                kinds.extend(["seas", "seas"])
        X = np.column_stack(cols)
        # sqrt-weights fold the recency decay into the least-squares part
        # while keeping the lasso coordinate updates unchanged
        w = np.sqrt(0.5 ** ((n - 1 - t) / half_life))
        Xw = X * w[:, None]
        p = X.shape[1]
        col_ss = (Xw * Xw).sum(axis=0)
        beta = np.zeros(p)
        r = yc * w
        lam1 = l1 * float((w * w).sum())  # ℓ1 ∝ effective sample size
        for _ in range(n_iter):
            for j in range(p):
                xj = Xw[:, j]
                rho = float(xj @ r) + col_ss[j] * beta[j]
                if kinds[j] == "cp":
                    bj = float(np.sign(rho)) * max(abs(rho) - lam1, 0.0) / col_ss[j]
                elif kinds[j] == "seas":
                    bj = rho / (col_ss[j] + ridge)
                else:
                    bj = rho / col_ss[j]
                if bj != beta[j]:
                    r -= xj * (bj - beta[j])
                    beta[j] = bj

        tp = float(n)
        feats = [1.0, tp / n] + [max(0.0, tp / n - c) for c in cps]
        for P in active:
            for k in range(1, fourier_order + 1):
                feats.append(np.sin(2 * np.pi * k * tp / P))
                feats.append(np.cos(2 * np.pi * k * tp / P))
        return float(mu + sd * float(np.dot(beta, np.asarray(feats))))

    return forecast


class AR1Model:
    """AR(1)-with-intercept forecaster, fully vectorized in Spark SQL.

    For every fold *i* the model fits ``y_t = a + b * y_{t-1}`` by OLS on
    the train prefix and predicts ``a + b * y_{i-1}``. The per-fold OLS
    closed form needs only cumulative sums of the lag pairs, so ALL folds
    of ALL series compute in one window-function pass — no Python, no
    per-fold loop — and the whole computation replays exactly in ANSI SQL
    (the DuckDB oracle), unlike the iterative AutoSarima/AutoProphet
    fits which get rows-only driver checks.
    """

    name = "AR1"
    #: need >= 3 lag pairs for a meaningful fit
    min_train_length = 4

    def folds(self, metrics_df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
        key_cols = key_cols or metric_key_columns(metrics_df)
        w_ord = W.partitionBy(*key_cols).orderBy("ts")
        cum = w_ord.rowsBetween(W.unboundedPreceding, -1)
        x = F.lag("value", 1).over(w_ord)  # pair (x_t, y_t) = (y_{t-1}, y_t)
        df = (
            metrics_df.withColumn("__idx", F.row_number().over(w_ord) - 1)
            .withColumn("__n", F.count(F.lit(1)).over(W.partitionBy(*key_cols)))
            .withColumn("__x", x)
            .withColumn("__xy", x * F.col("value"))
            .withColumn("__xx", x * x)
        )
        # cumulative pair sums over rows STRICTLY BEFORE the fold row —
        # exactly the train prefix's (x, y) pairs (x null on row 0 and
        # skipped by the conditional sums)
        n_p = F.sum(F.col("__x").isNotNull().cast("long")).over(cum)
        sx = F.sum("__x").over(cum)
        sy = F.sum(F.when(F.col("__x").isNotNull(), F.col("value"))).over(cum)
        sxy = F.sum("__xy").over(cum)
        sxx = F.sum("__xx").over(cum)
        den = n_p * sxx - sx * sx
        slope = F.when(F.abs(den) > 1e-9, (n_p * sxy - sx * sy) / den).otherwise(
            F.lit(0.0)
        )
        intercept = (sy - slope * sx) / n_p
        pred = F.when(
            (F.col("__idx") >= self.min_train_length) & (n_p >= 3),
            intercept + slope * F.col("__x"),
        )
        return (
            df.withColumn("best_window", F.lit(None).cast("int"))
            .withColumn("predicted", pred)
            .withColumn("error", ape_column(F.col("value"), pred))
            .drop("__x", "__xy", "__xx")
        )


def sarima_fixed_forecaster(seasonal_period: int = 7) -> Callable[[list, list], float]:
    """Fixed-order SARIMA(1,1,0)(1,0,0)_s — the SQL-replayable calibration
    sibling of :func:`auto_sarima_forecaster`. It runs the SAME estimation
    skeleton as the auto model's (p=1, q=0, P=1) grid candidate — first
    difference, mean-center, regress z_t on (z_{t-1}, z_{t-s}) — but with
    the order pinned and the 2-column OLS solved by explicit normal
    equations, every sum expanded over RAW (uncentered) cumulative sums:

        C_ab = S_ab - mu*S_a - mu*S_b + k*mu^2

    so the identical closed form replays as window-function SQL in the
    DuckDB oracle (``anomaly_sarima_fixed_validation``), giving the
    iterative, rows-only AutoSarima a hash-verified flank that covers the
    shared differencing / centering / seasonal-lag-regression path.
    Per-fold cost is a handful of dot products; distributed per series by
    ``PythonModelAdapter``'s ``applyInPandas`` like every stateful model.
    """
    s = int(seasonal_period)

    def forecast(ts: list, values: list) -> float:
        y = np.asarray(values, dtype=float)
        n = len(y)
        if n < s + 5:
            return float(y[-1])
        z = np.diff(y)  # d = 1, fixed
        m = len(z)
        mu = float(z.sum()) / m
        # regression rows t = s..m-1 (0-based in z): response z[t],
        # regressors z[t-1] and z[t-s]; raw sums, centered by expansion
        a, b, v = z[s - 1 : m - 1], z[0 : m - s], z[s:m]
        k = float(m - s)
        sa, sb, sv = float(a.sum()), float(b.sum()), float(v.sum())
        caa = float(a @ a) - 2 * mu * sa + k * mu * mu
        cbb = float(b @ b) - 2 * mu * sb + k * mu * mu
        cab = float(a @ b) - mu * sa - mu * sb + k * mu * mu
        cav = float(a @ v) - mu * sa - mu * sv + k * mu * mu
        cbv = float(b @ v) - mu * sb - mu * sv + k * mu * mu
        det = caa * cbb - cab * cab
        if abs(det) > 1e-9:
            phi = (cav * cbb - cbv * cab) / det
            sphi = (caa * cbv - cab * cav) / det
        else:
            phi = sphi = 0.0
        zhat = mu + phi * (z[m - 1] - mu) + sphi * (z[m - s] - mu)
        return float(y[-1] + zhat)

    return forecast


def fixed_changepoint_trend_forecaster(
    changepoint: float = 12.0,
    ridge: float = 1.0,
    half_life: float = 15.0,
) -> Callable[[list, list], float]:
    """Fixed-changepoint piecewise-linear trend — the SQL-replayable
    calibration sibling of :func:`changepoint_trend_forecaster`. The ℓ1
    model's changepoint SELECTION (coordinate-descent lasso) is not SQL;
    pin ONE changepoint at a fixed absolute index and the fit collapses to
    a 3-parameter recency-weighted ridge regression on the basis
    ``[1, t, max(0, t - c)]`` solved in closed form by Cramer's rule —
    replayable as window-function SQL because the regressors are
    fold-independent per row and the exponential recency weight factors as
    ``0.5^((n-1-t)/hl) = 0.5^((n-1)/hl) * 2^(t/hl)`` (a cumulative sum of
    fold-independent terms times a per-fold scalar). Only the slope-delta
    coefficient carries the ridge penalty, mirroring the ℓ1 model's
    unpenalized base coordinates.
    """
    c, lam, hl = float(changepoint), float(ridge), float(half_life)

    def forecast(ts: list, values: list) -> float:
        y = np.asarray(values, dtype=float)
        n = len(y)
        if n < 8:
            return float(y[-1])
        t = np.arange(n, dtype=float)
        u = 2.0 ** (t / hl)
        kf = 0.5 ** ((n - 1) / hl)
        x2 = np.maximum(0.0, t - c)
        s00 = kf * float(u.sum())
        s01 = kf * float((u * t).sum())
        s02 = kf * float((u * x2).sum())
        s11 = kf * float((u * t * t).sum())
        s12 = kf * float((u * t * x2).sum())
        s22 = kf * float((u * x2 * x2).sum()) + lam
        d0 = kf * float((u * y).sum())
        d1 = kf * float((u * t * y).sum())
        d2 = kf * float((u * x2 * y).sum())
        det = (
            s00 * (s11 * s22 - s12 * s12)
            - s01 * (s01 * s22 - s12 * s02)
            + s02 * (s01 * s12 - s11 * s02)
        )
        if abs(det) <= 1e-12:
            return float(y[-1])
        det0 = (
            d0 * (s11 * s22 - s12 * s12)
            - s01 * (d1 * s22 - s12 * d2)
            + s02 * (d1 * s12 - s11 * d2)
        )
        det1 = (
            s00 * (d1 * s22 - d2 * s12)
            - d0 * (s01 * s22 - s12 * s02)
            + s02 * (s01 * d2 - d1 * s02)
        )
        det2 = (
            s00 * (s11 * d2 - d1 * s12)
            - s01 * (s01 * d2 - d1 * s02)
            + d0 * (s01 * s12 - s11 * s02)
        )
        tp = float(n)
        return float(
            (det0 + det1 * tp + det2 * max(0.0, tp - c)) / det
        )

    return forecast


def _seasonal_naive_factory() -> PythonModelAdapter:
    return PythonModelAdapter("SeasonalNaive7", seasonal_naive_forecaster(7))


def _holt_factory() -> PythonModelAdapter:
    return PythonModelAdapter("HoltLinear", holt_forecaster())


def _auto_sarima_factory() -> PythonModelAdapter:
    return PythonModelAdapter(
        "AutoSarima", auto_sarima_forecaster(), min_train_length=12
    )


def _auto_prophet_factory() -> PythonModelAdapter:
    return PythonModelAdapter(
        "AutoProphet", fourier_trend_forecaster(), min_train_length=8
    )


def _changepoint_trend_factory() -> PythonModelAdapter:
    return PythonModelAdapter(
        "ChangepointTrend", changepoint_trend_forecaster(), min_train_length=8
    )


def _sarima_fixed_factory() -> PythonModelAdapter:
    return PythonModelAdapter(
        "SarimaFixed", sarima_fixed_forecaster(), min_train_length=12
    )


def _fixed_changepoint_trend_factory() -> PythonModelAdapter:
    return PythonModelAdapter(
        "FixedChangepointTrend",
        fixed_changepoint_trend_forecaster(),
        min_train_length=8,
    )


#: name → model factory; parity with the reference's model registry
#: (``models.py:244-277``). AutoSarima/AutoProphet are pure-numpy
#: re-implementations of the reference's Merlion models (Hannan-Rissanen
#: SARIMA / weighted Fourier-trend regression) meeting the reference's
#: accuracy bars on its temperatures fixture; SeasonalNaive7/HoltLinear
#: remain as cheap baselines; AR1 is the fully SQL-replayable regression
#: forecaster. Register a PythonModelAdapter to add further models.
MODEL_REGISTRY: dict[str, Callable[[], object]] = {
    "SimpleModel": SimpleModel,
    "SeasonalNaive7": _seasonal_naive_factory,
    "HoltLinear": _holt_factory,
    "AutoSarima": _auto_sarima_factory,
    "AutoProphet": _auto_prophet_factory,
    "ChangepointTrend": _changepoint_trend_factory,
    "SarimaFixed": _sarima_fixed_factory,
    "FixedChangepointTrend": _fixed_changepoint_trend_factory,
    "AR1": AR1Model,
}

#: Models :func:`thoth_spark.anomaly.optimization.optimize` tries when none
#: are named — SimpleModel alone, matching the reference's default factory
#: minus the unbundled Prophet member.
DEFAULT_MODEL_NAMES = ["SimpleModel"]
