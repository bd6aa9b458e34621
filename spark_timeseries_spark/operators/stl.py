"""STL-style robust seasonal-trend decomposition (LOESS trend).

Beyond-reference. The classical :mod:`decompose` has two well-known
limits: the moving-average trend loses half a period at BOTH series edges
(NULL edges), and a single outlier drags both the trend window and its
position's seasonal mean. This operator addresses both with the STL
machinery (Cleveland, Cleveland, McRae & Terpenning 1990): LOESS trend
(defined at every point, edges included) and optional bisquare robustness
iterations that down-weight outliers before they contaminate the
components.

SCOPE, stated plainly: this is STL with ``s.window = "periodic"`` — the
seasonal component is one fixed cycle (per-position robust weighted
mean), not the slowly-evolving cycle-subseries LOESS of full STL. That is
the most common configuration in practice (R's own examples lead with
it), and the restriction is what keeps the kernel a page of numpy instead
of a reimplementation of the low-pass/subseries-extension pipeline. A
numeric seasonal window raises ``NotImplementedError`` — honestly, rather
than silently computing something else.

Plan: one grouped-map pandas kernel per series (the reference's own
one-series-in-memory envelope — identical to every model fit in
``models/``); LOESS is O(n·q) per series. Input should be FILLED
(NaN cells are excluded from all fits; their rows still receive
trend/seasonal, with NULL resid).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["stl_decompose"]


def _next_odd(x: float) -> int:
    n = int(np.ceil(x))
    return n if n % 2 == 1 else n + 1


def _loess(t, y, q, w, t_eval):
    """Degree-1 LOESS: for each point in t_eval, tricube-weighted linear
    fit over the q nearest points of (t, y), multiplied by the robustness
    weights w. Pure numpy, O(len(t_eval)·q)."""
    q = min(q, len(t))
    out = np.empty(len(t_eval))
    for i, t0 in enumerate(t_eval):
        d = np.abs(t - t0)
        idx = np.argpartition(d, q - 1)[:q]
        dmax = d[idx].max()
        if dmax <= 0:
            out[i] = np.average(y[idx], weights=np.maximum(w[idx], 1e-12))
            continue
        tri = (1 - (d[idx] / dmax) ** 3) ** 3
        ww = np.maximum(tri * w[idx], 0.0)
        if ww.sum() <= 0:
            ww = tri
        tt, yy = t[idx], y[idx]
        sw = ww.sum()
        mt = (ww * tt).sum() / sw
        my = (ww * yy).sum() / sw
        ctt = (ww * (tt - mt) ** 2).sum()
        if ctt <= 0:
            out[i] = my
            continue
        b = (ww * (tt - mt) * (yy - my)).sum() / ctt
        out[i] = my + b * (t0 - mt)
    return out


def _stl_kernel(loc, y, period, trend_window, inner, outer):
    """Returns (trend, seasonal, rho) arrays aligned with loc/y (NaN cells
    carry fitted components; they just don't influence the fit)."""
    n = len(y)
    ok = ~np.isnan(y)
    pos = (loc % period).astype(int)
    trend = np.zeros(n)
    seasonal = np.zeros(n)
    rho = np.ones(n)
    for it in range(outer + 1):
        for _ in range(inner):
            # seasonal: per-position robust weighted mean of the detrended
            # series, centered to zero weighted-mean over the cycle
            d = y - trend
            s_pos = np.zeros(period)
            for p_ in range(period):
                m = ok & (pos == p_)
                if m.any():
                    wsum = rho[m].sum()
                    s_pos[p_] = (
                        (rho[m] * d[m]).sum() / wsum if wsum > 0
                        else d[m].mean()
                    )
            s_pos -= s_pos.mean()
            seasonal = s_pos[pos]
            # trend: LOESS of the deseasonalized series, evaluated
            # everywhere (edges included — the advantage over the MA)
            z = y - seasonal
            trend = _loess(
                loc[ok].astype(float), z[ok], trend_window, rho[ok],
                loc.astype(float),
            )
        if it < outer:
            r = (y - trend - seasonal)[ok]
            s6 = 6.0 * np.median(np.abs(r))
            if s6 <= 0:
                break
            u = np.clip(np.abs(y - trend - seasonal) / s6, 0.0, 1.0)
            rho = np.where(ok, (1 - u**2) ** 2, 0.0)
    return trend, seasonal, rho


def stl_decompose(
    df: DataFrame,
    period: int,
    seasonal: str = "periodic",
    trend_window: int | None = None,
    robust: bool = False,
    inner: int = 2,
    outer: int = 10,
    key_col: str = "key",
    loc_col: str = "loc",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """→ (key, loc, ts, value, trend, seasonal, resid) per series —
    LOESS-trend decomposition with a periodic seasonal and optional
    bisquare robustness loop (``robust=True`` runs ``outer`` reweighting
    passes; otherwise one pass with unit weights). ``trend_window``
    defaults to the next odd integer ≥ 1.5·period."""
    p = int(period)
    if p < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    if seasonal != "periodic":
        raise NotImplementedError(
            "only seasonal='periodic' is implemented (see module docstring)"
        )
    tw = trend_window if trend_window is not None else _next_odd(1.5 * p)
    if tw < 3:
        raise ValueError(f"trend_window must be >= 3, got {tw}")
    n_out = int(outer) if robust else 0
    n_in = int(inner)
    if n_in < 1:
        raise ValueError("inner must be >= 1")

    def _k(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(loc_col)
        y = pdf[value_col].to_numpy(dtype=float)
        loc = pdf[loc_col].to_numpy()
        if (~np.isnan(y)).sum() < max(tw, 2 * p):
            trend = np.full(len(y), np.nan)
            seas = np.full(len(y), np.nan)
        else:
            trend, seas, _ = _stl_kernel(loc, y, p, tw, n_in, n_out)
        return pd.DataFrame(
            {
                key_col: pdf[key_col].to_numpy(),
                loc_col: loc,
                ts_col: pdf[ts_col].to_numpy(),
                value_col: y,
                "trend": trend,
                "seasonal": seas,
                "resid": y - trend - seas,
            }
        )

    key_t = df.schema[key_col].dataType.simpleString()
    loc_t = df.schema[loc_col].dataType.simpleString()
    ts_t = df.schema[ts_col].dataType.simpleString()
    schema = (
        f"`{key_col}` {key_t}, `{loc_col}` {loc_t}, `{ts_col}` {ts_t}, "
        f"`{value_col}` double, trend double, seasonal double, resid double"
    )
    from ..parallel import map_groups

    return map_groups(df, key_col, _k, schema)
