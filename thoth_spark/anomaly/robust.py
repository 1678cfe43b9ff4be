"""Robust statistical outlier detection over metric series.

The model-based scorers (`anomaly/models.py`) need training windows and
CV; this is their cheap, assumption-free sibling — the median/MAD rule
(Hampel filter): a point is anomalous when

    |x - median| > k * 1.4826 * MAD,   MAD = median(|x - median|)

1.4826 scales MAD to the standard deviation under normality; unlike
mean/stddev, both statistics have a 50% breakdown point, so a burst of
genuine anomalies cannot drag the threshold toward itself.

Scale shape: this runs on the PROFILED metric series (days × metrics
rows — thousands, not billions), never on raw events; the medians are
per-group exact percentiles, two aggregation passes with the per-group
statistics broadcast back. Everything is built-in expressions, fully
replayable in an ANSI-SQL oracle (quantile_cont ≙ percentile).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thoth_spark.session import drop_zip_finders

#: MAD → sigma consistency constant under the normal distribution.
MAD_SIGMA = 1.4826


def mad_outliers(
    series: DataFrame,
    value_col: str,
    group_cols: list[str],
    k: float = 3.0,
) -> DataFrame:
    """Flag per-group robust outliers: adds ``grp_median``, ``grp_mad``
    and ``is_outlier`` columns to ``series``.

    Two exact-percentile aggregation passes over the (small) series
    frame; group statistics rejoin via broadcast. Groups whose MAD is 0
    (over half the points identical) only flag points strictly different
    from the median — the standard Hampel degeneracy handling."""
    med = series.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("grp_median")
    )
    with_med = series.join(F.broadcast(med), group_cols)
    mad = (
        with_med.withColumn("__ad", F.abs(F.col(value_col) - F.col("grp_median")))
        .groupBy(*group_cols)
        .agg(F.expr("percentile(__ad, 0.5)").alias("grp_mad"))
    )
    out = with_med.join(F.broadcast(mad), group_cols)
    dev = F.abs(F.col(value_col) - F.col("grp_median"))
    thresh = F.lit(k) * F.lit(MAD_SIGMA) * F.col("grp_mad")
    flag = F.when(
        F.col("grp_mad") > 0, dev > thresh
    ).otherwise(dev > 0)
    return out.withColumn("is_outlier", flag)


def ewma_control(
    series: DataFrame,
    value_col: str,
    group_cols: list[str],
    ts_col: str,
    lam: float = 0.2,
    L: float = 3.0,
) -> DataFrame:
    """EWMA control chart per metric series (NIST/SEMATECH 6.3.2.4).

    Complements :func:`mad_outliers` (memoryless, level-shift robust)
    with the classic small-persistent-shift detector: the smoothed state
    ``z_t = lam*x_t + (1-lam)*z_{t-1}`` (``z_0`` = the series mean)
    accumulates a drift that any single-point rule dilutes, alarming when
    ``|z_t - mu| > L*sigma*sqrt(lam/(2-lam) * (1-(1-lam)^(2t)))`` — the
    exact time-varying control limit, not the asymptotic one, so early
    points are not over-flagged.

    One ``applyInPandas`` task per series, running on the PROFILED
    metric frame (days x metrics rows), never raw events; per-series
    state is a handful of floats. The recurrence is replayed exactly in
    a recursive-CTE oracle; the alarm margin is rounded to 6 decimals on
    BOTH sides so FP dust cannot flip a boundary alarm.

    Returns group_cols + (ts, value, ewma, lcl, ucl, is_alarm).
    """
    import math

    import pandas as pd

    lam = float(lam)
    L = float(L)

    # group columns keep their INPUT types (an int group key must not be
    # silently coerced to string by a hardcoded output schema)
    in_types = {f.name: f.dataType.simpleString() for f in series.schema.fields}
    out_fields = ", ".join(f"`{c}` {in_types[c]}" for c in group_cols)
    schema = (
        f"{out_fields}, {ts_col} timestamp, value double, ewma double, "
        "lcl double, ucl double, is_alarm boolean"
    )

    def _chart(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_finders()
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        x = pdf[value_col].astype(float).to_numpy()
        n = len(x)
        mu = float(x.sum()) / n
        sigma = math.sqrt(float(((x - mu) ** 2).sum()) / n)
        fac = L * sigma * math.sqrt(lam / (2.0 - lam))
        z = mu
        ewma, lcl, ucl, alarm = [], [], [], []
        for t in range(1, n + 1):
            z = lam * x[t - 1] + (1.0 - lam) * z
            lim = fac * math.sqrt(1.0 - (1.0 - lam) ** (2 * t))
            ewma.append(z)
            lcl.append(mu - lim)
            ucl.append(mu + lim)
            alarm.append(round(abs(z - mu) - lim, 6) > 0)
        out = pdf[group_cols].copy()
        out[ts_col] = pdf[ts_col]
        out["value"] = x
        out["ewma"] = ewma
        out["lcl"] = lcl
        out["ucl"] = ucl
        out["is_alarm"] = alarm
        return out

    return series.select(*group_cols, ts_col, value_col).groupBy(
        *group_cols
    ).applyInPandas(_chart, schema)
