"""Realized / range volatility estimators over irregular observations.

Beyond-reference (sryza/spark-timeseries models conditional variance —
``models/GARCH.scala`` — but has no nonparametric realized-measure
surface); these are the standard high-frequency companions of
:func:`~spark_timeseries_spark.operators.resample.ohlc`:

- **realized variance** (Andersen & Bollerslev 1998): RV over a bucket
  = Σ r_t² of intra-bucket log returns — the canonical model-free
  volatility proxy;
- **Parkinson (1980) range estimator**: σ̂² = mean(ln(H/L)²) / (4·ln 2)
  per key over its OHLC bars — ~5× more efficient than close-to-close
  on diffusive data, and computable from bars alone.

Both are one window pass + one map-side-combinable aggregate, all JVM —
a word-count at 100 TB.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["realized_vol", "parkinson_vol", "var_es"]


def realized_vol(
    df: DataFrame,
    unit: str = "day",
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per (key, ``date_trunc(unit)`` bucket): ``n_ret`` (count of
    intra-bucket log returns), ``rv`` (realized variance = Σ r²),
    ``realized_vol`` (√rv). Returns are over CONSECUTIVE positive
    observations within the bucket ordered by timestamp (ties broken by
    value — deterministic); non-positive or NULL observations are
    SKIPPED (log undefined on them) and the return bridges across them
    — [100, -5, 110] yields one return, log(110/100). The bucket's
    first usable observation seeds only. Buckets with zero returns emit
    (0, 0.0, 0.0) — an observed-but-flat bucket is a zero-vol fact, not
    a hole.

    Plan: one (key, bucket)-partitioned lag window + one groupBy —
    the window partition equals the aggregation key, so AQE plans a
    single exchange."""
    v = F.col(value_col)
    pts = df.where(v.isNotNull() & (v > 0))
    bar = F.date_trunc(unit, F.col(ts_col))
    w = Window.partitionBy(key_col, "_bar").orderBy(ts_col, value_col)
    d = (
        pts.withColumn("_bar", bar)
        .withColumn("_prev", F.lag(value_col).over(w))
        .withColumn(
            "_r2",
            F.when(
                F.col("_prev").isNotNull(),
                F.pow(F.log(v / F.col("_prev")), F.lit(2.0)),
            ),
        )
    )
    return d.groupBy(key_col, F.col("_bar").alias("bar_ts")).agg(
        F.count("_r2").alias("n_ret"),
        F.coalesce(F.sum("_r2"), F.lit(0.0)).alias("rv"),
        F.sqrt(F.coalesce(F.sum("_r2"), F.lit(0.0))).alias("realized_vol"),
    )


def parkinson_vol(
    bars: DataFrame,
    key_col: str = "key",
    high_col: str = "high",
    low_col: str = "low",
) -> DataFrame:
    """Per key over its OHLC bars: ``n_bars`` (bars with H ≥ L > 0),
    ``parkinson_var`` (mean(ln(H/L)²) / (4·ln 2)), ``parkinson_vol``
    (its square root). Bars with non-positive low or H < L (corrupt
    rows) are excluded from the mean; a key with zero usable bars
    reports NULLs. Input is :func:`~spark_timeseries_spark.operators
    .resample.ohlc` output or any (key, high, low) frame. One
    aggregate."""
    h, l = F.col(high_col), F.col(low_col)
    usable = (l > 0) & (h >= l)
    r2 = F.when(usable, F.pow(F.log(h / l), F.lit(2.0)))
    agg = bars.groupBy(key_col).agg(
        F.count(r2).alias("n_bars"),
        F.avg(r2).alias("_m"),
    )
    pvar = F.col("_m") / F.lit(4.0 * math.log(2.0))
    return agg.select(
        key_col,
        "n_bars",
        pvar.alias("parkinson_var"),
        F.sqrt(pvar).alias("parkinson_vol"),
    )


def var_es(
    df: DataFrame,
    alpha: float = 0.95,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Historical Value-at-Risk and Expected Shortfall per series →
    (key, n_ret, var, es): one-step log returns over consecutive
    positive observations; VaR = the (1−α) exact interpolated quantile
    of the return distribution (a LOSS threshold, reported as the
    return value: negative in a loss tail), ES = mean of returns at or
    below VaR (the coherent tail measure Basel moved to; ES ≤ VaR by
    construction). NULL where fewer than 2 returns. One lag window, one
    percentile window and one conditional aggregate, all partitioned by
    the key: the percentile lands on every return row before the tail
    mean filters on it, so the plan has one exchange and runs no job
    until the caller's action."""
    if not 0.5 <= alpha < 1.0:
        raise ValueError(f"alpha must be in [0.5, 1), got {alpha}")
    v = F.col(value_col)
    ws = Window.partitionBy(key_col).orderBy(order_col)
    pts = df.where(v.isNotNull() & (v > 0))
    r = (
        pts.withColumn("_prev", F.lag(value_col).over(ws))
        .where(F.col("_prev").isNotNull())
        .select(key_col, F.log(v / F.col("_prev")).alias("_r"))
        .withColumn(
            "_var",
            F.percentile("_r", F.lit(1.0 - alpha)).over(
                Window.partitionBy(key_col)
            ),
        )
    )
    q = r.groupBy(key_col).agg(
        F.count("_r").alias("n_ret"),
        F.max("_var").alias("var"),
        F.avg(F.when(F.col("_r") <= F.col("_var"), F.col("_r"))).alias("es"),
    )
    return q.select(
        key_col,
        "n_ret",
        F.when(F.col("n_ret") >= 2, F.col("var")).alias("var"),
        F.when(F.col("n_ret") >= 2, F.col("es")).alias("es"),
    )


def gpd_tail(
    df: DataFrame,
    threshold_q: float = 0.95,
    var_p: float = 0.99,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Peaks-over-threshold GPD tail fit per key → (key, n, n_exc,
    threshold, xi, beta, var_p): extreme-value theory's principled tail
    estimator (the historical ``var_es`` quantile stops at the data;
    the GPD extrapolates beyond it). Threshold u = exact
    ``threshold_q`` percentile per key; the exceedances y = x − u > 0
    are fitted with the probability-weighted-moment estimators
    (Hosking & Wallis 1987 — closed form, no optimizer): with
    b0 = mean(y) and the (1−F)-weighted moment
    a1 = Σ ((m−i)/(m−1))·y_(i) / m over the m sorted exceedances,
    ξ̂ = 2 − b0/(b0 − 2a1) and β̂ = 2·b0·a1/(b0 − 2a1) (the GPD
    satisfies E[Y(1−F)^s] = β/((s+1)(s+1−ξ)), which these invert).
    ``var_p`` is the GPD return level u + (β/ξ)·((ζ/(1−p))^ξ − 1) with
    ζ = m/n — the p-quantile implied by the fitted tail. NULL fit when
    m < 2 (b1 undefined) or b0 = 2b1 (degenerate).

    Plan: one full-frame key window (exact percentile — the
    ``robust_location`` per-series buffer envelope), one rank window
    over the exceedances, one combinable groupBy(key); all three ride
    the SAME key exchange. All JVM."""
    if not (0.0 < threshold_q < 1.0) or not (threshold_q < var_p < 1.0):
        raise ValueError(
            f"need 0 < threshold_q < var_p < 1, got {threshold_q}, {var_p}"
        )
    v = F.col(value_col)
    wk = Window.partitionBy(key_col)
    d = (
        df.where(v.isNotNull())
        .withColumn("_u", F.percentile(v, F.lit(float(threshold_q))).over(wk))
        .withColumn("_n", F.count(F.lit(1)).over(wk))
    )
    exc = d.where(v > F.col("_u")).withColumn(
        "_y", v - F.col("_u")
    )
    wr = Window.partitionBy(key_col).orderBy("_y")
    wm = Window.partitionBy(key_col)
    exc = exc.withColumn(
        "_i", F.row_number().over(wr).cast("double")
    ).withColumn("_m", F.count(F.lit(1)).over(wm).cast("double"))
    a = exc.groupBy(F.col(key_col).alias("key")).agg(
        F.first("_n").alias("n"),
        F.count(F.lit(1)).alias("n_exc"),
        F.first("_u").alias("threshold"),
        F.avg("_y").alias("_b0"),
        (
            F.sum(
                F.col("_y")
                * (F.col("_m") - F.col("_i"))
                / F.nullif(F.col("_m") - 1.0, F.lit(0.0))
            )
            / F.first("_m")
        ).alias("_b1"),
    )
    den = F.nullif(F.col("_b0") - 2.0 * F.col("_b1"), F.lit(0.0))
    xi = F.lit(2.0) - F.col("_b0") / den
    beta = 2.0 * F.col("_b0") * F.col("_b1") / den
    zeta = F.col("n_exc").cast("double") / F.col("n").cast("double")
    ret = F.col("threshold") + (beta / xi) * (
        F.pow(zeta / F.lit(1.0 - float(var_p)), xi) - 1.0
    )
    return a.select(
        "key", "n", "n_exc", "threshold",
        xi.alias("xi"),
        beta.alias("beta"),
        ret.alias("var_p"),
    )
