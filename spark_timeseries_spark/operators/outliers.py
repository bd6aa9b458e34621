"""Per-series outlier flagging: z-score and MAD (robust) variants.

Beyond-reference (the reference has no anomaly surface), but the natural
next step after ``seriesStats``: flag observations implausibly far from
their series' center. Two estimators:

- ``method="zscore"``: (x − mean)/stddev — cheap, but mean and stddev are
  themselves dragged by the outliers being hunted (masking).
- ``method="mad"``: (x − median)/(1.4826·MAD) — the robust default;
  median and MAD have a 50% breakdown point, so a contaminated series
  still flags its spikes. 1.4826 rescales MAD to σ under normality.

Plan: one per-series aggregate (exact interpolated ``percentile`` for the
medians — per-series cardinality is the series length, the reference's
own in-memory envelope, NOT corpus-scale; swap ``approx_percentile`` in if
series outgrow it) joined back broadcast-style, then a row-local score —
two exchanges total, no Python.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["outliers", "hampel", "winsorize", "esd_outliers"]

_MAD_K = 1.4826022185056018  # 1/Phi^-1(0.75): MAD→sigma under normality


@lru_cache(maxsize=65536)
def _esd_lambda(alpha: float, n0: int, i: int) -> float:
    """Rosner λᵢ (1983 eq. 4), memoized at MODULE level keyed on
    (alpha, n0, i) so series of equal length genuinely share the t_ppf
    Newton solves across groups within a Python worker (an lru_cache
    inside the grouped-map kernel would be rebuilt per group)."""
    from ..models._numeric import t_ppf

    nu = n0 - i - 1.0
    t = t_ppf(1.0 - alpha / (2.0 * (n0 - i + 1.0)), nu)
    return (n0 - i) * t / float(np.sqrt((nu + t * t) * (n0 - i + 1.0)))


def outliers(
    df: DataFrame,
    method: str = "mad",
    threshold: float = 3.5,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Input columns + ``score`` (signed, in σ-equivalents) +
    ``is_outlier`` (|score| > threshold). Missing values get NULL score
    and NULL flag (no evidence either way). Zero scale yields NULL
    scores rather than ±Infinity — and note MAD collapses to zero
    whenever MORE THAN HALF the series equals its median (e.g.
    [5,5,5,5,100] flags nothing), not only for constant series; on
    corpora with heavy repeated values prefer ``method="zscore"`` or
    pre-filter the repeats."""
    if method not in ("zscore", "mad"):
        raise ValueError(f"method must be 'zscore' or 'mad', got {method!r}")
    v = F.col(value_col)
    if method == "zscore":
        stats = df.groupBy(key_col).agg(
            F.avg(v).alias("_c"), F.stddev(v).alias("_s")
        )
        joined = df.join(stats, key_col)
    else:
        med = df.groupBy(key_col).agg(
            F.percentile(v, F.lit(0.5)).alias("_c")
        )
        joined = df.join(med, key_col)
        mad = joined.groupBy(key_col).agg(
            (
                F.percentile(F.abs(v - F.col("_c")), F.lit(0.5)) * _MAD_K
            ).alias("_s")
        )
        joined = joined.join(mad, key_col)
    score = F.try_divide(v - F.col("_c"), F.col("_s"))
    # try_divide(x, 0) -> NULL: zero-spread series report no outliers
    return (
        joined.withColumn("score", score)
        .withColumn(
            "is_outlier",
            F.when(
                F.col("score").isNotNull(),
                F.abs(F.col("score")) > float(threshold),
            ),
        )
        .drop("_c", "_s")
    )


def _arr_median(srt, n):
    """Exact interpolated median of a SORTED array with ``n`` elements
    (NULL if empty) — same even-count interpolation as DuckDB's
    ``median``/``list_median`` over DOUBLE."""
    h = (n / F.lit(2)).cast("int")
    return (
        F.when(n == 0, F.lit(None).cast("double"))
        .when(n % 2 == 1, F.element_at(srt, h + 1))
        .otherwise((F.element_at(srt, h) + F.element_at(srt, h + 1)) / 2.0)
    )


def hampel(
    df: DataFrame,
    half_window: int = 3,
    n_sigmas: float = 3.0,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Hampel filter: LOCAL outlier flagging against a rolling median ±
    ``n_sigmas``·1.4826·(rolling MAD) over a centered window of
    ``2·half_window+1`` points (truncated at series edges). The global
    :func:`outliers` misses spikes in trending/seasonal series — the
    trend drags the global center; the rolling median tracks it.
    Output: input columns + ``med`` (rolling median), ``score`` (signed
    σ-equivalents vs the LOCAL scale) and ``is_outlier``; NULL cells get
    NULL score/flag, zero local MAD yields NULL score (see the MAD
    collapse caveat on :func:`outliers` — it bites per-window here).

    Plan: ONE window pass collects the (series-bounded) neighbor array;
    median and MAD are row-local sorted-array expressions — one
    exchange on key, zero Python, no self-join. Window cells skip NULLs
    (``collect_list`` semantics == DuckDB ``median`` NULL handling)."""
    if half_window < 1:
        raise ValueError("half_window must be >= 1")
    from pyspark.sql import Window

    from ..functions import let

    w = (
        Window.partitionBy(key_col)
        .orderBy(loc_col)
        .rowsBetween(-int(half_window), int(half_window))
    )
    arr = F.array_sort(F.collect_list(F.col(value_col)).over(w))
    v = F.col(value_col)

    def score_cols(srt):
        n = F.size(srt)
        med = _arr_median(srt, n)

        def with_med(m):
            # let-bind the sorted deviation array too: _arr_median reads
            # its argument up to 3 times (two element_at branches + the
            # parity when), and each read would re-run the O(w log w)
            # array_sort(transform(...)) per row otherwise.
            dev = F.array_sort(F.transform(srt, lambda x: F.abs(x - m)))

            def with_dev(d):
                sigma = _arr_median(d, n) * _MAD_K
                return F.struct(
                    m.alias("med"),
                    F.try_divide(v - m, sigma).alias("score"),
                )

            return let(dev, with_dev)

        return let(med, with_med)

    out = df.withColumn("_h", let(arr, score_cols))
    return (
        out.withColumn("med", F.col("_h.med"))
        .withColumn("score", F.col("_h.score"))
        .withColumn(
            "is_outlier",
            F.when(
                F.col("score").isNotNull(),
                F.abs(F.col("score")) > float(n_sigmas),
            ),
        )
        .drop("_h")
    )


def winsorize(
    df: DataFrame,
    lower: float = 0.1,
    upper: float = 0.9,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Per-series winsorization: clip each value to its own series'
    interpolated [lower, upper] quantiles → all input rows plus
    ``q_lo``, ``q_hi``, ``winsorized`` (the clipped value; NULL cells
    stay NULL), ``clipped`` (bool). The robust-scaling companion of
    :func:`outliers` (which FLAGS tail points; this BOUNDS them —
    Dixon & Tukey 1968's recommendation for heavy-tailed inputs).

    Quantiles use the linear-interpolation convention (numpy default,
    SQL ``quantile_cont``): at rank (n−1)·q, v = a + (b − a)·frac —
    matching :func:`~spark_timeseries_spark.operators.rolling.roll_quantile`'s
    contract via Spark's native exact ``percentile`` aggregate.

    Plan: one per-key quantile aggregate (map-side partials over the
    sort Spark's percentile needs) + one co-keyed join back — two
    exchanges on the key, no Python. The join's right side is one row
    per key; at corpus scale Spark's AQE broadcasts it."""
    if not (0.0 <= lower < upper <= 1.0):
        raise ValueError("need 0 <= lower < upper <= 1")
    v = F.col(value_col)
    q = (
        df.where(v.isNotNull())
        .groupBy(key_col)
        .agg(
            F.percentile(v, F.lit(float(lower))).alias("q_lo"),
            F.percentile(v, F.lit(float(upper))).alias("q_hi"),
        )
    )
    out = df.join(q, key_col, "left")
    w = F.least(F.greatest(v, F.col("q_lo")), F.col("q_hi"))
    return out.select(
        *df.columns,
        "q_lo",
        "q_hi",
        F.when(v.isNotNull(), w).alias("winsorized"),
        F.when(v.isNotNull(), (v < F.col("q_lo")) | (v > F.col("q_hi")))
        .alias("clipped"),
    )


def esd_outliers(
    df: DataFrame,
    k: int = 5,
    alpha: float = 0.05,
    key_col: str = "key",
    order_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Generalized ESD outlier extraction (Rosner 1983) per series →
    one row per REMOVAL iteration: (key, iter 1..k, <order_col> of the
    removed point, value, r_stat, lambda_crit, is_outlier). Each
    iteration studentizes the remaining points against their OWN
    mean/sd (sample, n−1), removes the single point with the largest
    |x − x̄| (ties: the earliest in ``order_col`` order, stated), and
    records Rᵢ = max|x − x̄|/s. Unlike single-pass z-scoring
    (:func:`outliers`), re-estimating after every removal defeats
    masking — a second outlier no longer hides behind the first's
    inflated sd. Stops early when fewer than 3 points remain or the
    remainder is constant (s = 0).

    ``lambda_crit`` is Rosner's critical value at level ``alpha``,
    λᵢ = (n−i)·t_{p,ν} / √((ν + t²)(n−i+1)) with ν = n−i−1 and
    p = 1 − α/(2(n−i+1)) (Rosner 1983 eq. 4; Student-t quantiles from
    the pure-numpy ``models._numeric.t_ppf``, exact-CDF Newton).
    ``is_outlier`` applies the ESD decision rule: the outlier count is
    the LARGEST i with Rᵢ > λᵢ, and every iteration up to it is an
    outlier — a later exceedance retroactively confirms earlier
    removals (the rule that makes ESD masking-proof, not a per-row
    Rᵢ > λᵢ compare).

    Plan: grouped-map kernel, O(k·n) per series inside the
    one-series-in-memory envelope; embarrassingly parallel across
    keys; λᵢ is k cached scalars per series (module-level
    (alpha, n, i) memo — series of equal length share the t_ppf
    Newton solves across groups within a worker process). The recursion (each iteration's statistics
    depend on the previous removal) rules out a window formulation —
    the ``kalman_level`` class; the DuckDB oracle replays the
    removal loop exactly with a recursive CTE carrying the
    remaining-values list (λᵢ/is_outlier are pytest-parity: SQL has no
    Student-t inverse)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    kt = df.schema[key_col].dataType.simpleString()
    lt = df.schema[order_col].dataType.simpleString()

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        lam = _esd_lambda  # module-level memo: shared across groups

        pdf = pdf[pdf[value_col].notna()].sort_values(order_col)
        vals = pdf[value_col].to_numpy(dtype=float)
        locs = pdf[order_col].to_numpy()
        key = pdf[key_col].iloc[0] if len(pdf) else None
        n0 = int(vals.size)
        out_i, out_l, out_v, out_r, out_lam = [], [], [], [], []
        for i in range(1, k + 1):
            n = vals.size
            if n < 3:
                break
            m = vals.sum() / n
            dev = vals - m
            sd = float(np.sqrt((dev * dev).sum() / (n - 1)))
            if sd <= 0.0:
                break
            devs = np.abs(dev)
            pos = int(np.argmax(devs))  # first occurrence on exact ties
            out_i.append(i)
            out_l.append(locs[pos])
            out_v.append(vals[pos])
            out_r.append(devs[pos] / sd)
            out_lam.append(lam(alpha, n0, i))
            vals = np.delete(vals, pos)
            locs = np.delete(locs, pos)
        # ESD rule: largest i with R_i > lambda_i; all iters <= it flag
        n_out = 0
        for i, (r, lm) in enumerate(zip(out_r, out_lam), start=1):
            if r > lm:
                n_out = i
        return pd.DataFrame({
            key_col: key, "iter": out_i, order_col: out_l,
            "value": out_v, "r_stat": out_r, "lambda_crit": out_lam,
            "is_outlier": [i <= n_out for i in out_i],
        })

    # pre-filter JVM-side: null values never reach the Arrow transfer
    from ..parallel import map_groups

    return map_groups(
        df.where(F.col(value_col).isNotNull()),
        key_col,
        kern,
        f"`{key_col}` {kt}, iter int, `{order_col}` {lt}, "
        "value double, r_stat double, lambda_crit double, "
        "is_outlier boolean",
    )
