"""ACF / PACF correlogram surfaces — the numbers behind the reference's
``EasyPlot.acfPlot`` / ``EasyPlot.pacfPlot`` (``EasyPlot.scala:61-96``) as
DataFrame-returning functions; the plotting itself stays out of scope
(SURVEY marks it optional — "not needed for correctness parity").

Semantics mirror the reference exactly:

- acf — per-lag Pearson autocorrelation
  (``UnivariateTimeSeries.scala:66-96`` via ``operators.rolling.autocorr``,
  pure window+aggregate, JVM-side).
- pacf — the coefficient vector of an AR(max_lag) fit
  (``EasyPlot.scala:84-86``: "partial autocorrelations are the coefficients
  in AR(n) model"); OLS per series in a grouped-map pandas UDF.
- conf_bound — ``calcConfVal`` (``EasyPlot.scala:99-103``): the symmetric
  ±z_{(1+conf)/2}/√n white-noise band.
"""

from __future__ import annotations

import math
from statistics import NormalDist

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def conf_bound(conf: float, n: int) -> float:
    """``EasyPlot.calcConfVal``: z_{1-(1-conf)/2} / √n."""
    return NormalDist().inv_cdf(1.0 - (1.0 - conf) / 2.0) / math.sqrt(n)


def _conf_col(conf: float):
    z = NormalDist().inv_cdf(1.0 - (1.0 - conf) / 2.0)
    return lambda n_col: F.lit(z) / F.sqrt(n_col.cast("double"))


def acf(
    df: DataFrame,
    max_lag: int,
    conf: float = 0.95,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Per-series autocorrelation function → (key, lag, acf, conf_bound)."""
    from ..operators import rolling

    out = rolling.autocorr(df, max_lag, key_col, order_col, value_col)
    counts = df.where(F.col(value_col).isNotNull()).groupBy(key_col).agg(
        F.count(value_col).alias("_n")
    )
    cb = _conf_col(conf)
    return (
        out.join(F.broadcast(counts), key_col)
        .withColumn("conf_bound", cb(F.col("_n")))
        .drop("_n")
    )


def pacf(
    df: DataFrame,
    max_lag: int,
    conf: float = 0.95,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Per-series partial autocorrelation function →
    (key, lag, pacf, conf_bound): the AR(max_lag) coefficient vector, as in
    the reference. Exactly-reproducible OLS, so oracle-checkable."""
    from ..models.univariate import fit_ar

    z = NormalDist().inv_cdf(1.0 - (1.0 - conf) / 2.0)

    def _p(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[key_col].iloc[0]
        pdf = pdf.sort_values(order_col)
        y = pdf[value_col].to_numpy(dtype=float, na_value=np.nan)
        y = y[~np.isnan(y)]
        try:
            coefs = fit_ar(y, max_lag).coefficients
        except Exception:
            coefs = np.full(max_lag, np.nan)
        return pd.DataFrame(
            {
                "key": key,
                "lag": np.arange(1, max_lag + 1, dtype=np.int64),
                "pacf": coefs,
                "conf_bound": z / math.sqrt(len(y)) if len(y) else float("nan"),
            }
        )

    from ..models.fit import _narrow
    from ..parallel import map_groups

    return map_groups(
        _narrow(df, key_col, order_col, value_col), key_col, _p,
        "key string, lag long, pacf double, conf_bound double",
    )
