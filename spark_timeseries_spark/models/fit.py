"""Distributed model estimation — the reference's "UDAF surface".

The reference applies models via ``mapSeries(v => Model.fitModel(v)...)``
(SURVEY §2.9): one single-threaded estimator per series, parallel across
series. Here that is :func:`~spark_timeseries_spark.parallel.map_groups`
— the ``groupBy(key).applyInPandas(...)`` contract run as one wave of
tasks, each streaming its key-clustered partition through one Python
call that cuts out the series one by one; numpy estimator inside,
results as plain DataFrames:

- :func:`fit_models`   → (key, model, params ARRAY<double>, aux...)
- :func:`forecast`     → (key, step, forecast)
- :func:`residuals`    → (key, loc, ts, value) with model effects removed
- :func:`test_series`  → (key, stat, p_value) for a named statistical test

Scale notes: the plan is one exchange on the key into ``defaultParallelism``
partitions, carrying only the columns the kernel reads (all of them where
it returns the input rows); each series must fit in executor memory —
the same envelope the reference assumes
(``src/site/markdown/index.md:35-40``). Models never touch the driver.

``model="ar"`` is the exception: its OLS fit is a function of per-key
lag moments, so :func:`fit_models`, :func:`forecast` and
:func:`residuals` build it in the JVM (:func:`_ar_fit`): one key-ordered
window of positional lags and one ``groupBy(key)``, with no Python stage.
An input already clustered by the key (a ``fill``/``rolling`` chain)
adds no exchange.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import ident, literal, solve_linear
from ..parallel import map_groups
from . import arima as arima_mod
from . import arx as arx_mod
from . import univariate as uni


def _series_from(pdf: pd.DataFrame, order_col: str, value_col: str) -> np.ndarray:
    pdf = pdf.sort_values(order_col)
    return pdf[value_col].to_numpy(dtype=float, na_value=np.nan)


def _narrow(df: DataFrame, *cols: str) -> DataFrame:
    """Only the columns a per-series kernel reads cross its exchange."""
    return df.select(*dict.fromkeys(cols))


def _clean(y: np.ndarray) -> np.ndarray:
    return y[~np.isnan(y)]


_KNOWN_MODELS = (
    "ar", "ewma", "ewma_grid", "garch", "egarch", "argarch", "holtwinters",
    "arima", "arima_auto",
)
_KNOWN_XREG_MODELS = ("arx", "arimax", "regression_arima")
#: models with a mean-forecast path — the volatility family's mean
#: forecast is identically 0 only for plain GARCH (handled explicitly);
#: egarch/argarch and the grid/auto selector aliases have no forecast
#: implementation, and accepting them made every per-series task fail
#: inside the NaN-swallowing except (silent all-NaN output)
_FORECASTABLE = ("ar", "ewma", "garch", "holtwinters", "arima")
#: models whose fitted object implements remove_effects
_RESIDUAL_MODELS = ("ar", "ewma", "garch", "egarch", "argarch", "arima")
_KNOWN_TESTS = (
    "adf", "kpss", "dw", "ljung_box", "breusch_godfrey", "breusch_pagan",
    "arch_lm",
)


#: accepted spellings → canonical registry names
_MODEL_ALIASES = {"holt_winters": "holtwinters", "ljungbox": "ljung_box"}


def _require(name: str, known: tuple) -> str:
    """Name validation happens BEFORE the grouped-map UDF is shipped: a typo
    fails fast on the driver instead of inside every task, and the per-series
    except-all below can then safely degrade real estimator failures (short /
    degenerate series) to empty params rather than failing the stage.
    Returns the canonical name (aliases like ``holt_winters`` normalize)."""
    name = _MODEL_ALIASES.get(name, name)
    if name not in known:
        raise ValueError(f"unknown model/test {name!r}; expected one of {known}")
    return name


def _fit_one(model: str, y: np.ndarray, kwargs: dict):
    if model == "ewma":
        return np.array([uni.fit_ewma(y).smoothing])
    if model == "ewma_grid":
        alpha, sse = uni.fit_ewma_grid(y, kwargs.get("steps", 100))
        return np.array([alpha, sse])
    if model == "garch":
        m = uni.fit_garch(y)
        return np.array([m.omega, m.alpha, m.beta])
    if model == "egarch":
        m = uni.fit_egarch(y)
        return np.array([m.omega, m.alpha, m.gamma, m.beta])
    if model == "argarch":
        m = uni.fit_ar_garch(y)
        return np.array([m.c, m.phi, m.garch.omega, m.garch.alpha, m.garch.beta])
    if model == "holtwinters":
        m = uni.fit_holt_winters(
            y, kwargs.get("period", 12), kwargs.get("model_type", "additive")
        )
        return np.array([m.alpha, m.beta, m.gamma, m.sse_])
    if model == "arima":
        m = arima_mod.fit_arima(
            y,
            kwargs.get("p", 1),
            kwargs.get("d", 0),
            kwargs.get("q", 0),
            kwargs.get("include_intercept", True),
        )
        return m.coefficients
    if model == "arima_auto":
        m = arima_mod.auto_fit(
            y, kwargs.get("max_p", 5), kwargs.get("max_d", 2), kwargs.get("max_q", 5)
        )
        return np.concatenate([[m.p, m.d, m.q], m.coefficients])
    raise ValueError(f"unknown model {model}")


def _model_obj(model: str, params: np.ndarray, kwargs: dict):
    if model == "ar":
        return uni.ARModel(float(params[0]), params[1:])
    if model == "ewma":
        return uni.EWMAModel(float(params[0]))
    if model == "garch":
        return uni.GARCHModel(*map(float, params))
    if model == "egarch":
        return uni.EGARCHModel(*map(float, params))
    if model == "argarch":
        return uni.ARGARCHModel(
            float(params[0]), float(params[1]), uni.GARCHModel(*map(float, params[2:]))
        )
    if model == "holtwinters":
        return uni.HoltWintersModel(
            kwargs.get("period", 12),
            float(params[0]),
            float(params[1]),
            float(params[2]),
            kwargs.get("model_type", "additive"),
        )
    if model == "arima":
        return arima_mod.ARIMAModel(
            kwargs.get("p", 1),
            kwargs.get("d", 0),
            kwargs.get("q", 0),
            params,
            kwargs.get("include_intercept", True),
        )
    raise ValueError(f"unknown model {model}")


#: a lag whose elimination pivot is at most this share of the largest
#: diagonal moment is collinear with the lags before it: its coefficient is 0
AR_PIVOT_RTOL = 1e-10

_NO_DOUBLES = "CAST(array() AS ARRAY<DOUBLE>)"


def _ar_fit(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    p: int,
    no_intercept: bool,
    fixed_params=None,
    rows: bool = False,
) -> DataFrame:
    """The one JVM builder of ``model="ar"``: AR(``p``) by OLS per key →
    (``key_col``, ``_params``, ``_tail``).

    The series is ``value_col`` in ``order_col`` order with NULL and NaN
    cells dropped. One window over (key, order) attaches its positional
    lags ``_x1.._xp`` (``lag … IGNORE NULLS``: the j-th previous clean
    value), the same window ``fill``/``rolling`` sort by. One
    ``groupBy(key)`` then reduces the rows with all ``p`` lags to the
    normal equations: centered moments (``var_pop``/``covar_pop`` of the
    lags and the value, and their means) or, under ``no_intercept``, raw
    second moments. :func:`~..functions.sqltext.solve_linear` solves
    them per key; the intercept is ``mean(y) − Σ φ_j·mean(x_j)``.

    ``_params`` is ``[c, φ1..φp]`` (``c = 0`` under ``no_intercept``).
    It agrees with least squares on the lag matrix
    (:func:`~.univariate.fit_ar`) on full-rank series. A lag whose pivot
    falls to :data:`AR_PIVOT_RTOL` of the largest diagonal moment gets
    coefficient 0, so a constant series forecasts its constant. A series
    with at most ``p`` clean points has no fit: ``_params`` is NULL.
    ``fixed_params`` replaces the fit with a literal ``[c, φ1..φp]``.

    ``_tail`` is ``[y_n, …, y_(n-p+1)]``, the last ``p`` clean values
    (NULL with fewer). ``rows=True`` also collects each key's input rows
    with their lags into ``_rows``."""
    lag_cols = [f"_x{j}" for j in range(1, p + 1)]
    y = f"nanvl(CAST({ident(value_col)} AS DOUBLE), CAST(NULL AS DOUBLE))"
    over = f"OVER (PARTITION BY {ident(key_col)} ORDER BY {ident(order_col)})"
    # _y first, so an exchange under the window carries one value column
    lagged = df.selectExpr("*", f"{y} AS _y").selectExpr(
        "*", *[f"lag(_y, {j}) IGNORE NULLS {over} AS _x{j}" for j in range(1, p + 1)]
    )
    # the tail row is the last clean row with p - 1 lags
    tail_cond = "_y IS NOT NULL" + (f" AND _x{p - 1} IS NOT NULL" if p > 1 else "")
    # one max_by per value: scalar buffers keep the aggregate a
    # code-generated hash aggregate (an array buffer forces a sort one)
    tail_at = f"CASE WHEN {tail_cond} THEN {ident(order_col)} END"
    tail_cols = ["_y", *lag_cols][:p]
    aggs = [f"max_by({c}, {tail_at}) AS _t{c}" for c in tail_cols]
    aggs.append(f"count({tail_at}) AS _tn")
    tail = (
        f"CASE WHEN _tn > 0 THEN array({', '.join('_t' + c for c in tail_cols)}) END"
        if p else _NO_DOUBLES
    )
    if rows:
        fields = ", ".join(ident(c) for c in (*df.columns, "_y", *lag_cols))
        aggs.append(f"collect_list(struct({fields})) AS _rows")
    if fixed_params is not None:
        params = "array(" + ", ".join(literal(float(v)) for v in fixed_params) + ")"
    else:
        # only rows with all p lags enter the regression
        def c(col: str) -> str:
            return f"CASE WHEN _y IS NOT NULL AND _x{p} IS NOT NULL THEN {col} END"

        xs = [c(x) for x in lag_cols]
        if no_intercept:
            def second(a: str, b: str) -> str:
                return f"avg({a} * {b})"
        else:
            def second(a: str, b: str) -> str:
                return f"var_pop({a})" if a == b else f"covar_pop({a}, {b})"
        aggs += ["count(_y) AS _n", f"avg({c('_y')}) AS _my"]
        aggs += [f"avg({x}) AS _m{i}" for i, x in enumerate(xs)]
        aggs += [
            f"{second(xs[i], xs[j])} AS _s{i}_{j}"
            for i in range(p) for j in range(i, p)
        ]
        aggs += [f"{second(x, c('_y'))} AS _q{i}" for i, x in enumerate(xs)]
        aug = "array(" + ", ".join(
            "array(" + ", ".join(
                [f"_s{min(i, j)}_{max(i, j)}" for j in range(p)] + [f"_q{i}"]
            ) + ")"
            for i in range(p)
        ) + ")"
        phi = solve_linear(aug, p, AR_PIVOT_RTOL)
        if no_intercept:
            body = f"concat(array(0D), {phi})"
        else:
            dot = " + ".join(f"f[{i}] * _m{i}" for i in range(p))
            body = f"transform(array({phi}), f -> concat(array(_my - ({dot})), f))[0]"
        params = f"CASE WHEN _n > {p} THEN {body} END"
    fit = lagged.groupBy(key_col).agg(*[F.expr(a) for a in aggs])
    return fit.selectExpr(
        ident(key_col), *(["_rows"] if rows else []),
        f"{tail} AS _tail", f"{params} AS _params",
    )


def _ar_order(kwargs: dict) -> int:
    p = kwargs.get("max_lag", 1)
    if p < 1:
        raise ValueError(f"max_lag must be >= 1, got {p}")
    return p


def fit_models(
    df: DataFrame,
    model: str,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Per-series estimation → (key, model, params).

    ``model="ar"`` (kwargs ``max_lag`` = p, default 1, and
    ``no_intercept``) runs in the JVM (:func:`_ar_fit`): params
    ``[c, φ1..φp]``, the OLS fit on the NULL/NaN-dropped series; a lag
    collinear with the lags before it gets 0, and a series with at most
    p clean points gets ``params == []``."""
    model = _require(model, _KNOWN_MODELS)
    if model == "ar":
        fit = _ar_fit(
            df, key_col, order_col, value_col, _ar_order(kwargs),
            kwargs.get("no_intercept", False),
        )
        return fit.selectExpr(
            f"CAST({ident(key_col)} AS STRING) AS key", "'ar' AS model",
            f"coalesce(_params, {_NO_DOUBLES}) AS params",
        )

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[key_col].iloc[0]
        y = _clean(_series_from(pdf, order_col, value_col))
        try:
            params = _fit_one(model, y, kwargs)
        except Exception:
            params = np.array([])
        return pd.DataFrame(
            {"key": [key], "model": [model], "params": [params.tolist()]}
        )

    return map_groups(
        _narrow(df, key_col, order_col, value_col), key_col, _fit,
        "key string, model string, params array<double>",
    )


def forecast(
    df: DataFrame,
    model: str,
    horizon: int,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Fit per series and forecast ``horizon`` steps → (key, step, forecast).

    Pass ``params=[...]`` to skip the fit and forecast with a known parameter
    vector (the distributed analog of forecasting from a pre-fit model).

    ``model="ar"`` fits as :func:`fit_models` does and runs the recursion
    ``y_(t+1) = c + Σ φ_j·y_(t+1-j)`` from the last p clean values as one
    ``aggregate(sequence(1, horizon), …)`` per key, in the JVM. A series
    with no fit (at most p clean points; fewer than p under ``params``)
    forecasts NaN."""
    model = _require(model, _FORECASTABLE)
    fixed_params = kwargs.pop("params", None)
    if model == "ar":
        if horizon < 1:
            raise ValueError(f"horizon must be >= 1, got {horizon}")
        p = _ar_order(kwargs) if fixed_params is None else len(fixed_params) - 1
        fit = _ar_fit(
            df, key_col, order_col, value_col, p,
            kwargs.get("no_intercept", False), fixed_params,
        )
        # w: [c, φ1..φp]; s.t: the last p values, the latest first
        dot = (
            f"aggregate(sequence(1, {p}), 0D, (a, j) -> a + w[j] * s.t[j - 1])"
            if p else "0D"
        )
        path = (
            f"transform(array(_params), w -> CASE WHEN w IS NULL OR _tail IS NULL"
            f" THEN array_repeat(CAST('NaN' AS DOUBLE), {horizon})"
            f" ELSE aggregate(sequence(1, {horizon}),"
            f" named_struct('t', _tail, 'f', {_NO_DOUBLES}),"
            f" (s, i) -> transform(array(w[0] + {dot}), v -> named_struct("
            f"'t', slice(concat(array(v), s.t), 1, {p}),"
            f" 'f', concat(s.f, array(v))))[0], s -> s.f) END)[0]"
        )
        return fit.selectExpr(
            f"CAST({ident(key_col)} AS STRING) AS key",
            f"inline(zip_with(sequence(1L, {horizon}L), {path},"
            f" (i, v) -> named_struct('step', i, 'forecast', v)))",
        )

    def _fc(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[key_col].iloc[0]
        y = _clean(_series_from(pdf, order_col, value_col))
        try:
            params = (
                np.asarray(fixed_params, dtype=float)
                if fixed_params is not None
                else _fit_one(model, y, kwargs)
            )
            m = _model_obj(model, params, kwargs)
            if model == "ewma":
                s = m.add_effects(y)
                fc = np.full(horizon, s[-1])
            elif model == "garch":
                # the mean forecast of a pure GARCH process IS 0 — the
                # interesting quantity, the conditional variance path, is
                # exposed by :func:`variance_forecast`
                fc = np.zeros(horizon)
            else:
                fc = m.forecast(y, horizon)
        except Exception:
            fc = np.full(horizon, np.nan)
        return pd.DataFrame(
            {
                "key": key,
                "step": np.arange(1, horizon + 1, dtype=np.int64),
                "forecast": fc,
            }
        )

    return map_groups(
        _narrow(df, key_col, order_col, value_col), key_col, _fc,
        "key string, step long, forecast double",
    )


def residuals(
    df: DataFrame,
    model: str,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Fit per series and remove time-dependent effects
    (``TimeSeriesModel.removeTimeDependentEffects``).

    ``model="ar"`` fits as :func:`fit_models` does, in the same
    ``groupBy(key)`` that collects the key's rows, and returns every
    input row once: a clean value becomes ``y_t − c − Σ φ_j·y_(t−j)``
    over the lags the clean series has before it, a NULL or NaN value
    and every value of a series with no fit become NULL."""
    model = _require(model, _RESIDUAL_MODELS)
    if model == "ar":
        p = _ar_order(kwargs)
        fit = _ar_fit(
            df, key_col, order_col, value_col, p,
            kwargs.get("no_intercept", False), rows=True,
        )
        lags = "".join(
            f" - coalesce(w[{j}] * r._x{j}, 0D)" for j in range(1, p + 1)
        )
        resid = (
            f"CAST(CASE WHEN w IS NOT NULL AND r._y IS NOT NULL"
            f" THEN r._y - w[0]{lags} END"
            f" AS {df.schema[value_col].dataType.simpleString()})"
        )
        fields = ", ".join(
            f"{literal(c)}, {resid if c == value_col else 'r.' + ident(c)}"
            for c in df.columns
        )
        return fit.selectExpr(
            f"inline(transform(array(_params), w -> transform(_rows,"
            f" r -> named_struct({fields})))[0])"
        )

    def _resid(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        y = pdf[value_col].to_numpy(dtype=float, na_value=np.nan)
        mask = ~np.isnan(y)
        try:
            params = _fit_one(model, y[mask], kwargs)
            m = _model_obj(model, params, kwargs)
            res = np.full(len(y), np.nan)
            res[mask] = (
                m.remove_effects(y[mask])
                if hasattr(m, "remove_effects")
                else np.nan
            )
        except Exception:
            res = np.full(len(y), np.nan)
        pdf[value_col] = [None if np.isnan(v) else float(v) for v in res]
        return pdf

    return map_groups(df, key_col, _resid, df.schema)


def apply_model_effects(
    df: DataFrame,
    model: str,
    params,
    add: bool = True,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Distributed ``addTimeDependentEffects`` / ``removeTimeDependentEffects``
    (``models/TimeSeriesModel.scala:23-45``): apply a model's filter (or its
    inverse) to every series with ONE fixed parameter vector. Grouped-map
    pandas UDF; the value column is replaced in place, schema unchanged."""
    params = np.asarray(params, dtype=float)
    m = _model_obj(model, params, kwargs)

    def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        y = pdf[value_col].to_numpy(dtype=float, na_value=np.nan)
        out = m.add_effects(y) if add else m.remove_effects(y)
        pdf[value_col] = [None if np.isnan(v) else float(v) for v in out]
        return pdf

    return map_groups(df, key_col, _apply, df.schema)


def fit_xreg_models(
    df: DataFrame,
    model: str,
    xreg_cols: list[str],
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Per-series estimation with exogenous regressors →
    (key, model, params ARRAY<double>, aux ARRAY<double>).

    ``model`` ∈ arx (``AutoregressionX.scala:48-68``) | arimax
    (``ARIMAX.scala:59-87``) | regression_arima (Cochrane-Orcutt,
    ``RegressionARIMA.scala:83-160``). ``aux`` carries model-specific
    extras: arx → [y_max_lag, x_max_lag]; arimax → [p, d, q];
    regression_arima → [rho, dw, iterations, dw0]."""
    model = _require(model, _KNOWN_XREG_MODELS)

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[key_col].iloc[0]
        pdf = pdf.sort_values(order_col)
        y = pdf[value_col].to_numpy(dtype=float, na_value=np.nan)
        X = pdf[list(xreg_cols)].to_numpy(dtype=float, na_value=np.nan)
        mask = ~np.isnan(y) & ~np.isnan(X).any(axis=1)
        y, X = y[mask], X[mask]
        params, aux = np.array([]), np.array([])
        try:
            if model == "arx":
                yl = kwargs.get("y_max_lag", 1)
                xl = kwargs.get("x_max_lag", 1)
                m = arx_mod.fit_arx(
                    y, X, yl, xl,
                    kwargs.get("include_original_x", True),
                    kwargs.get("no_intercept", False),
                )
                params = np.concatenate([[m.c], m.coefficients])
                aux = np.array([yl, xl], dtype=float)
            elif model == "arimax":
                p = kwargs.get("p", 1)
                d = kwargs.get("d", 0)
                q = kwargs.get("q", 0)
                m = arx_mod.fit_arimax(
                    y, X, p, d, q,
                    kwargs.get("xreg_max_lag", 0),
                    kwargs.get("include_original_xreg", True),
                    kwargs.get("include_intercept", True),
                )
                params = np.asarray(m.coefficients, dtype=float)
                aux = np.array([p, d, q], dtype=float)
            elif model == "regression_arima":
                m = arx_mod.fit_regression_arima_cochrane_orcutt(
                    y, X, kwargs.get("max_iter", 10)
                )
                params = np.asarray(m.beta, dtype=float)
                aux = np.array([m.rho, m.dw, m.iterations, m.dw0], dtype=float)
        except Exception:
            # same per-series degradation as fit_models: one degenerate
            # series (too short for the lag order, singular design) yields
            # empty params instead of failing the whole Spark stage
            params, aux = np.array([]), np.array([])
        return pd.DataFrame(
            {
                "key": [key],
                "model": [model],
                "params": [params.tolist()],
                "aux": [aux.tolist()],
            }
        )

    return map_groups(
        _narrow(df, key_col, order_col, value_col, *xreg_cols), key_col, _fit,
        "key string, model string, params array<double>, aux array<double>",
    )


def variance_forecast(
    df: DataFrame,
    horizon: int,
    model: str = "garch",
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Per-series conditional-variance forecast → (key, step, variance).
    ``model`` ∈ garch | argarch: fits the model, then iterates the variance
    recursion h steps ahead (``GARCH.scala:198-259`` is the recursion shape;
    the reference never exposes a variance path — this is the quantity a
    GARCH user actually wants, so we surface it)."""
    if model not in ("garch", "argarch"):
        raise ValueError("variance_forecast supports garch | argarch")

    def _vf(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[key_col].iloc[0]
        y = _clean(_series_from(pdf, order_col, value_col))
        try:
            if model == "garch":
                g = uni.fit_garch(y)
                vf = g.variance_forecast(y, horizon)
            else:
                m = uni.fit_ar_garch(y)
                resid = uni.ARModel(m.c, np.array([m.phi])).remove_effects(y)
                resid[0] = 0.0
                vf = m.garch.variance_forecast(resid, horizon)
        except Exception:
            vf = np.full(horizon, np.nan)
        return pd.DataFrame(
            {
                "key": key,
                "step": np.arange(1, horizon + 1, dtype=np.int64),
                "variance": vf,
            }
        )

    return map_groups(
        _narrow(df, key_col, order_col, value_col), key_col, _vf,
        "key string, step long, variance double",
    )


def _certificate_one(model: str, y: np.ndarray, kwargs: dict) -> tuple[float, float]:
    """(objective at fitted params, objective at the optimizer's start) for
    one series — the deterministic inequality behind :func:`fit_improvement`.
    Lower is better for every objective (SSE or negative log-likelihood)."""
    if model == "ewma":
        return uni.fit_ewma(y).sse(y), uni.EWMAModel(0.94).sse(y)
    if model == "garch":
        var = float(np.var(y)) or 1.0
        start = uni.GARCHModel(var * 0.1, 0.1, 0.8)
        return -uni.fit_garch(y).log_likelihood(y), -start.log_likelihood(y)
    if model == "egarch":
        start = uni.egarch_start(y)
        return -uni.fit_egarch(y).log_likelihood(y), -start.log_likelihood(y)
    if model == "argarch":
        ar = uni.fit_ar(y, 1)
        resid = ar.remove_effects(y)
        resid[0] = 0.0
        var = float(np.var(resid)) or 1.0
        start = uni.GARCHModel(var * 0.1, 0.1, 0.8)
        fitted = uni.fit_garch(resid)
        return -fitted.log_likelihood(resid), -start.log_likelihood(resid)
    if model == "holtwinters":
        period = kwargs.get("period", 12)
        mt = kwargs.get("model_type", "additive")
        m = uni.fit_holt_winters(y, period, mt)
        base = uni.HoltWintersModel(period, 0.3, 0.1, 0.1, mt)
        return m.sse_, base.sse(y)
    if model == "arima":
        p, d, q = kwargs.get("p", 1), kwargs.get("d", 0), kwargs.get("q", 0)
        ic = kwargs.get("include_intercept", True)
        dy = arima_mod.difference(y, d)
        x0 = arima_mod.hannan_rissanen(dy, p, q, ic)
        start = arima_mod.ARIMAModel(p, d, q, x0, ic)
        fitted = arima_mod.fit_arima(y, p, d, q, include_intercept=ic)
        return -fitted.log_likelihood_css(y), -start.log_likelihood_css(y)
    if model == "arima_auto":
        fitted = arima_mod.auto_fit(y)
        naive = arima_mod.fit_arima(y, 0, fitted.d, 0, include_intercept=fitted.d == 0)
        return fitted.approx_aic(y), naive.approx_aic(y)
    raise ValueError(f"no certificate for model {model}")


def fit_improvement(
    df: DataFrame,
    model: str,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Deterministic optimizer certificate → (key, n, ok).

    ``ok`` asserts the fitted objective is no worse than the objective at the
    optimizer's own deterministic starting point (HR init for ARIMA, the
    fixed CG/simplex starts otherwise) — the strongest *hashable* statement
    about an iterative fit: the optimum itself is optimizer-path-dependent,
    but "the optimizer never returns something worse than its start" is an
    exact boolean the DuckDB oracle can assert per key. A per-series fit
    failure (degenerate input) yields ok = false, so the certificate also
    gates silent degradation."""
    model = _require(model, _KNOWN_MODELS)
    if model in ("ar", "ewma_grid"):
        raise ValueError(f"{model} is exactly reproducible; hash its params instead")

    def _c(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[key_col].iloc[0]
        y = _clean(_series_from(pdf, order_col, value_col))
        try:
            fitted, start = _certificate_one(model, y, kwargs)
            ok = bool(fitted <= start * (1 + 1e-9) + 1e-9)
        except Exception:
            ok = False
        return pd.DataFrame({"key": [key], "n": [len(y)], "ok": [ok]})

    return map_groups(
        _narrow(df, key_col, order_col, value_col), key_col, _c,
        "key string, n long, ok boolean",
    )


def fit_xreg_improvement(
    df: DataFrame,
    model: str,
    xreg_cols: list[str],
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Optimizer certificate for exogenous-regressor models → (key, n, ok);
    same contract as :func:`fit_improvement`, comparing the CSS at the fitted
    parameters to the CSS at the deterministic start
    (:func:`~spark_timeseries_spark.models.arx.arimax_start`)."""
    if model != "arimax":
        raise ValueError("fit_xreg_improvement supports arimax")
    p = kwargs.get("p", 1)
    d = kwargs.get("d", 0)
    q = kwargs.get("q", 0)
    xl = kwargs.get("xreg_max_lag", 0)
    io = kwargs.get("include_original_xreg", True)
    ii = kwargs.get("include_intercept", True)

    def _c(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[key_col].iloc[0]
        pdf = pdf.sort_values(order_col)
        y = pdf[value_col].to_numpy(dtype=float, na_value=np.nan)
        X = pdf[list(xreg_cols)].to_numpy(dtype=float, na_value=np.nan)
        mask = ~np.isnan(y) & ~np.isnan(X).any(axis=1)
        y, X = y[mask], X[mask]
        try:
            x0 = arx_mod.arimax_start(y, X, p, d, q, xl, io, ii)
            start = arx_mod.ARIMAXModel(p, d, q, xl, io, ii, x0)
            fitted = arx_mod.fit_arimax(y, X, p, d, q, xl, io, ii)
            ok = bool(
                fitted.css(y, X) <= start.css(y, X) * (1 + 1e-9) + 1e-9
            )
        except Exception:
            ok = False
        return pd.DataFrame({"key": [key], "n": [len(y)], "ok": [ok]})

    return map_groups(
        _narrow(df, key_col, order_col, value_col, *xreg_cols), key_col, _c,
        "key string, n long, ok boolean",
    )


def test_series(
    df: DataFrame,
    test: str,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    **kwargs,
) -> DataFrame:
    """Per-series statistical test → (key, stat, p_value). ``test`` ∈
    adf | kpss | dw | ljung_box | breusch_godfrey | breusch_pagan |
    arch_lm; p_value is NaN for tests that return critical values instead
    (kpss) or none (dw). The BG/BP auxiliary regressions use a linear time
    trend as the factor matrix (the per-series analog of the reference's
    caller-supplied ``factors``, ``TimeSeriesStatisticalTests.scala:276-329``);
    ``arch_lm`` (beyond-reference, Engle 1982) treats the series values as
    the residuals under test — pre-whiten first if they carry structure."""
    test = _require(test, _KNOWN_TESTS)

    def _t(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[key_col].iloc[0]
        y = _clean(_series_from(pdf, order_col, value_col))
        stat, p = _run_series_test(test, y, kwargs)
        return pd.DataFrame({"key": [key], "stat": [stat], "p_value": [p]})

    return map_groups(
        _narrow(df, key_col, order_col, value_col), key_col, _t,
        "key string, stat double, p_value double",
    )


def _run_series_test(test: str, y: np.ndarray, kwargs: dict):
    """Shared single-test dispatch for :func:`test_series` and
    :func:`test_series_suite` — one code path so the suite's per-test
    statistics are bit-identical to the standalone rows'."""
    from ..stats import tests as st

    stat, p = float("nan"), float("nan")
    try:
        if test == "adf":
            stat, p = st.adf_test(
                y, kwargs.get("max_lag", 1), kwargs.get("regression", "c")
            )
        elif test == "kpss":
            stat, _ = st.kpss_test(y, kwargs.get("method", "c"))
        elif test == "dw":
            stat = st.durbin_watson(y)
        elif test == "ljung_box":
            stat, p = st.ljung_box(y, kwargs.get("max_lag", 10))
        elif test == "breusch_godfrey":
            trend = np.arange(len(y), dtype=float)[:, None]
            stat, p = st.breusch_godfrey(y, trend, kwargs.get("max_lag", 1))
        elif test == "breusch_pagan":
            trend = np.arange(len(y), dtype=float)[:, None]
            stat, p = st.breusch_pagan(y, trend)
        elif test == "arch_lm":
            stat, p = st.arch_lm(y, kwargs.get("max_lag", 1))
    except Exception:
        pass  # degenerate series → NaN stat, like fit_models
    return stat, p


def test_series_suite(
    df: DataFrame,
    specs: list,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Run SEVERAL per-series tests in ONE grouped-map pass →
    (key, <name>_stat, <name>_p per spec). ``specs`` is a list of
    ``(name, test, kwargs)`` with ``test`` from the same registry as
    :func:`test_series`.

    Pure plan optimization (r14): a suite row composed of N
    :func:`test_series` calls pays N scans + N spread exchanges + N
    Python stages + N−1 key joins; each series is already IN CORE once
    per test, so computing every statistic while it is there collapses
    the plan to ONE scan + ONE exchange + ONE Python stage with zero
    change to any statistic (the dispatch is shared —
    :func:`_run_series_test`)."""
    # normalize aliases up front (e.g. 'ljungbox' -> 'ljung_box'): the
    # kernel dispatches on the CANONICAL name, so a validated-but-raw
    # alias would silently match no branch and yield NaN stat/p
    specs = [
        (name, _require(test, _KNOWN_TESTS), kw) for name, test, kw in specs
    ]

    def _t(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[key_col].iloc[0]
        y = _clean(_series_from(pdf, order_col, value_col))
        row: dict = {"key": [key]}
        for name, test, kw in specs:
            stat, p = _run_series_test(test, y, kw)
            row[f"{name}_stat"] = [stat]
            row[f"{name}_p"] = [p]
        return pd.DataFrame(row)

    fields = ", ".join(
        f"`{name}_stat` double, `{name}_p` double" for name, _, _ in specs
    )
    return map_groups(
        _narrow(df, key_col, order_col, value_col), key_col, _t,
        f"key string, {fields}",
    )


def granger_test(
    df: DataFrame,
    target_key: str,
    cause_key: str,
    max_lag: int = 1,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Pairwise Granger non-causality: does series ``cause_key`` help
    forecast series ``target_key`` beyond its own history? →
    one row (target, cause, n, f_stat, p_value); see
    :func:`stats.tests.granger_causality` for the statistic (F of
    restricted-vs-unrestricted lag regression; large-sample χ²(p)
    p-value). Beyond-reference.

    Plan: the two named series align on ``order_col`` via one inner
    equi-join (rows where either side is missing drop out — fill first
    for gap-free designs); the pair then flows as ONE group through a
    grouped-map kernel, so the OLS runs on an executor, not the driver —
    the same single-series-in-memory envelope as ``crosscorr``."""
    a = df.where(F.col(key_col) == target_key).select(
        F.col(order_col).alias("_o"), F.col(value_col).alias("_y")
    )
    b = df.where(F.col(key_col) == cause_key).select(
        F.col(order_col).alias("_o"), F.col(value_col).alias("_x")
    )
    j = a.join(b, "_o").where(
        F.col("_y").isNotNull() & F.col("_x").isNotNull()
    )

    def _g(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..stats import tests as st

        pdf = pdf.sort_values("_o")
        f, p = float("nan"), float("nan")
        try:
            f, p = st.granger_causality(
                pdf["_y"].to_numpy(), pdf["_x"].to_numpy(), max_lag
            )
        except Exception:
            pass  # short/degenerate overlap → NaN, like test_series
        return pd.DataFrame(
            {
                "target": [target_key],
                "cause": [cause_key],
                "n": [len(pdf)],
                "f_stat": [f],
                "p_value": [p],
            }
        )

    return j.withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        _g, schema="target string, cause string, n long, f_stat double, p_value double"
    )


def cointegration_test(
    df: DataFrame,
    key_a: str,
    key_b: str,
    max_lag: int = 0,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Engle-Granger two-step cointegration between two named series →
    one row (lhs, rhs, n, alpha, beta, adf_stat, cointegrated_5pct);
    see :func:`stats.tests.engle_granger` for the statistic and
    :data:`stats.tests.EG_CRITICAL_2V` for the residual-based critical
    values. Beyond-reference.

    Plan: same shape as :func:`granger_test` — one inner equi-join on
    ``order_col`` conforms the pair (fill first for gap-free designs),
    then the pair flows as ONE group through a grouped-map kernel so the
    two-step OLS runs on an executor inside the engine's standard
    single-series-in-memory envelope."""
    from ..stats.tests import EG_CRITICAL_2V, engle_granger

    a = df.where(F.col(key_col) == key_a).select(
        F.col(order_col).alias("_o"), F.col(value_col).alias("_y")
    )
    b = df.where(F.col(key_col) == key_b).select(
        F.col(order_col).alias("_o"), F.col(value_col).alias("_x")
    )
    j = a.join(b, "_o").where(
        F.col("_y").isNotNull() & F.col("_x").isNotNull()
    )
    crit5 = EG_CRITICAL_2V["5%"]

    def _eg(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_o")
        alpha, beta, stat = float("nan"), float("nan"), float("nan")
        try:
            alpha, beta, stat = engle_granger(
                pdf["_y"].to_numpy(), pdf["_x"].to_numpy(), max_lag
            )
        except Exception:
            pass  # short/degenerate overlap → NaN, like test_series
        return pd.DataFrame(
            {
                "lhs": [key_a],
                "rhs": [key_b],
                "n": [len(pdf)],
                "alpha": [alpha],
                "beta": [beta],
                "adf_stat": [stat],
                "cointegrated_5pct": [bool(stat < crit5)]
                if stat == stat
                else [None],
            }
        )

    return j.withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        _eg,
        schema="lhs string, rhs string, n long, alpha double, beta double,"
        " adf_stat double, cointegrated_5pct boolean",
    )
