"""Local-level (random-walk-plus-noise) Kalman filter/smoother.

Beyond-reference (sryza/spark-timeseries's state-space surface stops at
the ARIMA Kalman likelihood internals, ``models/ARIMA.scala`` — it never
exposes a structural filter); this is the Harvey (1989) local-level
model every metrics/nowcasting pipeline reaches for first:

    y_t = mu_t + eps_t,   eps ~ N(0, R)      (observation noise)
    mu_t = mu_{t-1} + eta_t,  eta ~ N(0, Q)  (level drift)

The filter/smoother recursion is inherently sequential, so it runs as a
grouped-map numpy kernel per series (the DTW/STL/BOCPD precedent) — one
shuffle on key, each series in-core, O(n) time and memory per series.

Signal-to-noise q = Q/R is estimated per series by maximum likelihood
when not given: the likelihood CONCENTRATES over R (Harvey §3.4 —
R̂(q) = mean(v_t²/F_t) over the proper prediction errors), leaving a
1-D problem in q solved by golden-section search on log q ∈ [−12, 12]
— derivative-free, ~60 filter passes, deterministic.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["kalman_local_level"]


def _filter_pass(y, q):
    """One diffuse-init filter pass; returns (mu_pred, P_pred, mu_f,
    P_f, loglik_terms) with P in units of R."""
    import numpy as np

    n = y.size
    mu_pred = np.empty(n)
    p_pred = np.empty(n)
    mu_f = np.empty(n)
    p_f = np.empty(n)
    v = np.empty(n)
    f = np.empty(n)
    mu, p = y[0], 1e12  # diffuse prior on the level
    for t in range(n):
        if t > 0:
            p = p + q
        mu_pred[t], p_pred[t] = mu, p
        f[t] = p + 1.0
        v[t] = y[t] - mu
        k = p / f[t]
        mu = mu + k * v[t]
        p = p * (1.0 - k)
        mu_f[t], p_f[t] = mu, p
    return mu_pred, p_pred, mu_f, p_f, v, f


def _concentrated_negll(y, q):
    import numpy as np

    _, _, _, _, v, f = _filter_pass(y, q)
    # drop t = 0 (diffuse); concentrate R out
    v1, f1 = v[1:], f[1:]
    m = v1.size
    if m == 0:
        return 0.0
    r_hat = float(np.mean(v1 * v1 / f1))
    if r_hat <= 0:
        r_hat = 1e-300
    return 0.5 * (m * (np.log(r_hat) + 1.0) + float(np.sum(np.log(f1))))


def _mle_q(y):
    """Golden-section on log10 q ∈ [−12, 12]."""
    import math

    lo, hi = -12.0, 12.0
    gr = (math.sqrt(5.0) - 1.0) / 2.0
    c = hi - gr * (hi - lo)
    d = lo + gr * (hi - lo)
    fc = _concentrated_negll(y, 10.0**c)
    fd = _concentrated_negll(y, 10.0**d)
    for _ in range(60):
        if fc < fd:
            hi, d, fd = d, c, fc
            c = hi - gr * (hi - lo)
            fc = _concentrated_negll(y, 10.0**c)
        else:
            lo, c, fc = c, d, fd
            d = lo + gr * (hi - lo)
            fd = _concentrated_negll(y, 10.0**d)
    return 10.0 ** ((lo + hi) / 2.0)


def kalman_local_level(
    df: DataFrame,
    q: float | None = None,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """One row per non-null observation → (key, loc, value, level,
    level_var, smoothed, smoothed_var, q_hat, r_hat): ``level`` is the
    FILTERED posterior mean of μ_t (online — uses x_1..t), ``smoothed``
    the RTS-smoothed mean (offline — uses the whole series; the
    denoised signal), variances in absolute units (× R̂). ``q`` fixes
    the signal-to-noise ratio Q/R; None estimates it per series by
    concentrated MLE. R̂ is always the concentrated estimate. Series
    with < 3 points pass through with level = smoothed = value and NULL
    variances (nothing to estimate)."""
    if q is not None and q <= 0:
        raise ValueError(f"q must be positive, got {q}")
    kt = df.schema[key_col].dataType.simpleString()
    lt = df.schema[order_col].dataType.simpleString()

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf[pdf[value_col].notna()].sort_values(order_col)
        y = pdf[value_col].to_numpy(dtype=float)
        locs = pdf[order_col].to_numpy()
        key = pdf[key_col].iloc[0] if len(pdf) else None
        n = y.size
        if n == 0:
            return pd.DataFrame(columns=[
                key_col, order_col, "value", "level", "level_var",
                "smoothed", "smoothed_var", "q_hat", "r_hat",
            ])
        if n < 3:
            return pd.DataFrame({
                key_col: key, order_col: locs, "value": y,
                "level": y, "level_var": np.nan,
                "smoothed": y, "smoothed_var": np.nan,
                "q_hat": np.nan, "r_hat": np.nan,
            })
        qq = q if q is not None else _mle_q(y)
        mu_pred, p_pred, mu_f, p_f, v, f = _filter_pass(y, qq)
        r_hat = float(np.mean(v[1:] ** 2 / f[1:]))
        # RTS smoother (scalar): J_t = P_f[t] / P_pred[t+1]
        mu_s = mu_f.copy()
        p_s = p_f.copy()
        for t in range(n - 2, -1, -1):
            j = p_f[t] / p_pred[t + 1]
            mu_s[t] = mu_f[t] + j * (mu_s[t + 1] - mu_pred[t + 1])
            p_s[t] = p_f[t] + j * j * (p_s[t + 1] - p_pred[t + 1])
        return pd.DataFrame({
            key_col: key, order_col: locs, "value": y,
            "level": mu_f, "level_var": p_f * r_hat,
            "smoothed": mu_s, "smoothed_var": p_s * r_hat,
            "q_hat": qq, "r_hat": r_hat,
        })

    from ..parallel import map_groups

    return map_groups(
        df, key_col, kern,
        f"`{key_col}` {kt}, `{order_col}` {lt}, value double, "
        "level double, level_var double, smoothed double, "
        "smoothed_var double, q_hat double, r_hat double",
    )
