"""Missing-value imputation over observations-layout DataFrames.

Reimplements the reference's fill dispatcher
(``/root/reference/src/main/scala/com/cloudera/sparkts/UnivariateTimeSeries.scala:144-154``)
and its per-method kernels (``:176-321``) as Spark window expressions over
``PARTITION BY key ORDER BY loc`` — zero Python in the hot path for
previous/next/nearest/linear/zero/value; the natural-cubic-spline method is
the one genuinely non-SQL kernel and runs as a grouped-map pandas UDF with a
pure-numpy tridiagonal solver.

Missing convention: SQL ``NULL`` (mapped to NaN only at pandas boundaries).
Distance semantics for ``nearest``/``linear`` are POSITION-based (index
locations), exactly like the reference's array-index arithmetic
(``UnivariateTimeSeries.scala:176-208`` nearest, ``:267-290`` linear) — on a
uniform index this coincides with time distance.

Scale note: each method is a constant number of window functions over
``PARTITION BY key`` — one exchange, reused across chained fills, and at most
two sorts per method: (key, loc) for previous-looking windows and
(key, loc DESC) for next-looking ones. A next-looking window is written as the
mirror of its natural form: ``first(x, ignorenulls)`` over
``rowsBetween(0, unboundedFollowing)`` becomes ``last(x, ignorenulls)`` over
``rowsBetween(unboundedPreceding, 0)`` on the descending order. Spark evaluates
a frame with a fixed lower edge and an unbounded upper edge by recomputing the
aggregate from every row to the end of the partition — O(n²) per series —
while a growing prefix frame is updated row by row in O(n). ``nearest`` and
``linear`` run the descending window first, so an ascending window that
follows (the next fill or ``roll_*``) reuses the ascending sort. No driver
collects, no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _w(key_col: str, order_col: str) -> Window:
    return Window.partitionBy(key_col).orderBy(order_col)


def suffix_window(partition_cols, order_col: str, start: int = 0) -> Window:
    """The frame ``rowsBetween(start, unboundedFollowing)`` over ascending
    ``order_col``, written as its mirror ``rowsBetween(unboundedPreceding,
    -start)`` over descending ``order_col``; swap ``first`` for ``last``
    when reading a row off it. Spark recomputes a suffix frame from every
    row to the partition end (O(n²) per partition) but grows a prefix frame
    incrementally (O(n)). Ascending order puts NULLs first and descending
    puts them last, so the two frames hold the same rows whenever
    ``order_col`` is unique within a partition."""
    return (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col(order_col).desc())
        .rowsBetween(Window.unboundedPreceding, -start)
    )


def fill(
    df: DataFrame,
    method: str,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Dispatch like ``fillts`` (``UnivariateTimeSeries.scala:144-154``)."""
    if method in ("previous", "ffill"):
        return fill_previous(df, key_col, order_col, value_col)
    if method in ("next", "bfill"):
        return fill_next(df, key_col, order_col, value_col)
    if method == "nearest":
        return fill_nearest(df, key_col, order_col, value_col)
    if method == "linear":
        return fill_linear(df, key_col, order_col, value_col)
    if method == "spline":
        return fill_spline(df, key_col, order_col, value_col)
    if method == "zero":
        return fill_value(df, 0.0, key_col, order_col, value_col)
    raise ValueError(f"Imputation method {method} not recognized")


def fill_previous(
    df: DataFrame, key_col="key", order_col="loc", value_col="value"
) -> DataFrame:
    """LOCF (``UnivariateTimeSeries.scala:210-228``)."""
    w = _w(key_col, order_col).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(value_col, F.last(value_col, ignorenulls=True).over(w))


def fill_next(
    df: DataFrame, key_col="key", order_col="loc", value_col="value"
) -> DataFrame:
    """NOCB (``UnivariateTimeSeries.scala:230-248``)."""
    w = suffix_window([key_col], order_col)
    return df.withColumn(value_col, F.last(value_col, ignorenulls=True).over(w))


def fill_value(
    df: DataFrame, value: float, key_col="key", order_col="loc", value_col="value"
) -> DataFrame:
    """Constant fill (``UnivariateTimeSeries.scala:156-174``)."""
    return df.withColumn(value_col, F.coalesce(F.col(value_col), F.lit(float(value))))


def fill_previous_limit(
    df: DataFrame,
    limit: int,
    key_col="key",
    order_col="loc",
    value_col="value",
) -> DataFrame:
    """Gap-limited LOCF (beyond-reference; the pandas ``ffill(limit=)``
    convention): carry the last non-null value forward at most
    ``limit`` POSITIONS — a hole farther than that from its source
    stays NULL. The honest fill for operational gauges where a stale
    reading is only trustworthy for so long; unlimited
    :func:`fill_previous` is the ``limit → ∞`` case.

    Plan: the same single (key, loc)-ordered window pass as
    :func:`fill_previous` plus one position column — one exchange, all
    JVM."""
    if limit < 1:
        raise ValueError(f"limit must be >= 1, got {limit}")
    w = _w(key_col, order_col).rowsBetween(Window.unboundedPreceding, 0)
    pos_if_val = F.when(F.col(value_col).isNotNull(), F.col(order_col))
    d = df.withColumn(
        "_pv", F.last(value_col, ignorenulls=True).over(w)
    ).withColumn("_pi", F.last(pos_if_val, ignorenulls=True).over(w))
    filled = F.when(F.col(value_col).isNotNull(), F.col(value_col)).when(
        F.col(order_col) - F.col("_pi") <= limit, F.col("_pv")
    )
    return d.withColumn(value_col, filled).drop("_pv", "_pi")


def _prev_next_cols(df, key_col, order_col, value_col):
    """Attach next/prev non-null value and their positions. The descending
    (next) window runs first so the ascending (prev) sort is the one a
    following ascending window reuses."""
    wn = suffix_window([key_col], order_col)
    wp = _w(key_col, order_col).rowsBetween(Window.unboundedPreceding, 0)
    pos_if_val = F.when(F.col(value_col).isNotNull(), F.col(order_col))
    return (
        df.withColumn("_next_v", F.last(value_col, ignorenulls=True).over(wn))
        .withColumn("_next_i", F.last(pos_if_val, ignorenulls=True).over(wn))
        .withColumn("_prev_v", F.last(value_col, ignorenulls=True).over(wp))
        .withColumn("_prev_i", F.last(pos_if_val, ignorenulls=True).over(wp))
    )


def fill_nearest(
    df: DataFrame, key_col="key", order_col="loc", value_col="value"
) -> DataFrame:
    """Closer of prev/next non-null by position; prev wins ties
    (``UnivariateTimeSeries.scala:176-208``)."""
    out = _prev_next_cols(df, key_col, order_col, value_col)
    i = F.col(order_col)
    filled = (
        F.when(F.col(value_col).isNotNull(), F.col(value_col))
        .when(F.col("_prev_v").isNull(), F.col("_next_v"))
        .when(F.col("_next_v").isNull(), F.col("_prev_v"))
        .when(i - F.col("_prev_i") <= F.col("_next_i") - i, F.col("_prev_v"))
        .otherwise(F.col("_next_v"))
    )
    return out.withColumn(value_col, filled).drop(
        "_prev_v", "_prev_i", "_next_v", "_next_i"
    )


def fill_linear(
    df: DataFrame, key_col="key", order_col="loc", value_col="value"
) -> DataFrame:
    """Position-weighted interpolation between bracketing non-nulls; endpoints
    are NOT extrapolated (``UnivariateTimeSeries.scala:267-290``)."""
    out = _prev_next_cols(df, key_col, order_col, value_col)
    i = F.col(order_col).cast("double")
    frac = (i - F.col("_prev_i")) / (F.col("_next_i") - F.col("_prev_i"))
    interp = F.col("_prev_v") + (F.col("_next_v") - F.col("_prev_v")) * frac
    filled = (
        F.when(F.col(value_col).isNotNull(), F.col(value_col))
        .when(F.col("_prev_v").isNull() | F.col("_next_v").isNull(), F.lit(None))
        .otherwise(interp)
    )
    return out.withColumn(value_col, filled).drop(
        "_prev_v", "_prev_i", "_next_v", "_next_i"
    )


# ---------------------------------------------------------------------------
# natural cubic spline — pure numpy kernel inside a grouped-map pandas UDF
# ---------------------------------------------------------------------------

def _natural_cubic_spline_fill(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Fill NaNs of y (positions x) with a natural cubic spline through the
    non-NaN knots. numpy-only equivalent of commons-math ``SplineInterpolator``
    used by the reference (``UnivariateTimeSeries.scala:292-321``). Endpoints
    outside the knot range are left NaN (no extrapolation)."""
    mask = ~np.isnan(y)
    xs, ys = x[mask].astype(float), y[mask]
    n = len(xs)
    out = y.copy()
    if n < 3:
        return out  # spline needs ≥3 knots; reference would throw — we no-op
    h = np.diff(xs)
    # second-derivative system (natural: M[0]=M[n-1]=0), Thomas algorithm
    a = np.zeros(n)
    b = np.ones(n)
    c = np.zeros(n)
    d = np.zeros(n)
    a[1:-1] = h[:-1]
    b[1:-1] = 2.0 * (h[:-1] + h[1:])
    c[1:-1] = h[1:]
    d[1:-1] = 6.0 * ((ys[2:] - ys[1:-1]) / h[1:] - (ys[1:-1] - ys[:-2]) / h[:-1])
    cp = np.zeros(n)
    dp = np.zeros(n)
    cp[0] = c[0] / b[0]
    dp[0] = d[0] / b[0]
    for i in range(1, n):
        m = b[i] - a[i] * cp[i - 1]
        cp[i] = c[i] / m
        dp[i] = (d[i] - a[i] * dp[i - 1]) / m
    M = np.zeros(n)
    M[-1] = dp[-1]
    for i in range(n - 2, -1, -1):
        M[i] = dp[i] - cp[i] * M[i + 1]
    # evaluate at missing positions inside the knot range
    need = np.where(np.isnan(y) & (x >= xs[0]) & (x <= xs[-1]))[0]
    if len(need) == 0:
        return out
    xe = x[need].astype(float)
    seg = np.clip(np.searchsorted(xs, xe, side="right") - 1, 0, n - 2)
    hs = h[seg]
    t0 = xs[seg]
    A = (xs[seg + 1] - xe) / hs
    B = (xe - t0) / hs
    out[need] = (
        A * ys[seg]
        + B * ys[seg + 1]
        + ((A**3 - A) * M[seg] + (B**3 - B) * M[seg + 1]) * hs**2 / 6.0
    )
    return out


def fill_spline(
    df: DataFrame, key_col="key", order_col="loc", value_col="value"
) -> DataFrame:
    """Natural-cubic-spline fill via ``parallel.map_groups`` — the only
    fill method that needs Python; one kernel call per series."""
    schema = df.schema
    ki, oi, vi = (
        schema.fieldNames().index(key_col),
        schema.fieldNames().index(order_col),
        schema.fieldNames().index(value_col),
    )
    del ki, oi, vi  # column access is by name below; indices only validate presence

    def _fill(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        y = pdf[value_col].to_numpy(dtype=float, na_value=np.nan)
        x = pdf[order_col].to_numpy(dtype=np.int64)
        filled = _natural_cubic_spline_fill(x, y)
        pdf[value_col] = [None if np.isnan(v) else float(v) for v in filled]
        return pdf

    from ..parallel import map_groups

    return map_groups(df, key_col, _fill, df.schema)


def missingness_profile(
    df: DataFrame,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Missing-data audit per series → (key, n_rows, n_missing,
    missing_frac, n_null_runs, longest_null_run): how much is missing
    and in what SHAPE — 30 scattered holes interpolate fine, one
    30-point blackout does not, so every fill decision should read
    this first (the diagnostic companion of the fill family; run
    before choosing a method/limit). A null RUN is a maximal stretch
    of consecutive NULL values in grid order; series with no nulls
    report 0/0.

    Plan: one lag window on the (key, order) sort (null-run starts by
    the gaps-and-islands flag), one groupBy(key, run) over the null
    rows only, one groupBy(key), joined back to the per-key row counts
    — aggregates all the way, no Python."""
    v = F.col(value_col)
    ws = Window.partitionBy(key_col).orderBy(order_col)
    flag = v.isNull().cast("int")
    d = df.withColumn("_m", flag).withColumn(
        "_start",
        (
            (F.col("_m") == 1)
            & (F.coalesce(F.lag("_m").over(ws), F.lit(0)) == 0)
        ).cast("int"),
    )
    base = d.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_m").alias("n_missing"),
    )
    runs = (
        d.withColumn("_run", F.sum("_start").over(ws))
        .where(F.col("_m") == 1)
        .groupBy(key_col, "_run")
        .agg(F.count(F.lit(1)).alias("_len"))
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_null_runs"),
            F.max("_len").alias("longest_null_run"),
        )
    )
    return base.join(runs, key_col, "left").select(
        key_col, "n_rows", "n_missing",
        (
            F.col("n_missing").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("missing_frac"),
        F.coalesce("n_null_runs", F.lit(0)).alias("n_null_runs"),
        F.coalesce("longest_null_run", F.lit(0)).alias("longest_null_run"),
    )
