"""Technical indicators: EMA, MACD, RSI, Bollinger bands.

Beyond-reference (sryza/spark-timeseries ships EWMA as a MODEL —
``models/EWMA.scala`` — but no indicator surface); these are the
standard finance/monitoring companions of the rolling family, each the
textbook definition with the convention pinned in its docstring.

EMA is the load-bearing primitive. The recursion
``e_t = α·v_t + (1−α)·e_{t−1}`` (adjust=False, seeded ``e_0 = v_0``)
has the closed prefix form

    e_t = q^t · (v_0 + α·Σ_{i=1..t} v_i / q^i),      q = 1 − α

— one row_number + one prefix-sum window, all JVM. The ``/ q^i`` term
grows geometrically, so the closed form is only finite for series
shorter than ``≈ 250 / −log10(q)`` points (α = 0.3 → ~1900 points;
α = 2/27 (EMA-26) → ~7400). Every EMA-based indicator is therefore a
dual plan: ``method="auto"`` sends each series through
:func:`~spark_timeseries_spark.parallel.route_by_length` at the bound
``_ema_safe_len(α)`` (the tightest over a chain's alphas) — the
SQL-oracle-replayable closed form at or below it, a ``map_groups``
kernel running the plain O(n) recursion above it; "closed"/"kernel"
force one side.

NULL cells are skipped everywhere: the EMA/indicator advances over the
observed subsequence (output rows = input non-null rows).
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..parallel import map_groups, route_by_length

__all__ = [
    "ema", "macd", "rsi", "bollinger", "adx",
    "stochastic", "obv", "ewm_var", "atr", "pivot_points",
    "keltner_channels", "donchian_channels", "ulcer_index",
    "rolling_sharpe", "ewma_chart",
    "williams_r", "cci", "cmo", "trix", "aroon", "heikin_ashi", "wma",
    "spc_rules", "ma_cross",
]


def _ema_safe_len(alpha: float) -> int:
    """Max series length for which the closed form's q^-i stays finite
    with ~50 orders of magnitude of headroom for the values."""
    q = 1.0 - alpha
    if q <= 0.0:
        # alpha = 1 never reaches the closed form (short-circuited to
        # e_t = v_t in _ema_col — pow(0, rk) would divide-by-zero
        # under ANSI); return 0 so any stray routing picks the kernel.
        return 0
    return max(2, int(250.0 / -math.log10(q)))


def _ema_closed(df, alpha, key_col, order_col, value_col, out_col):
    """Closed-form EMA column over pre-filtered non-null rows."""
    q = 1.0 - alpha
    ws = Window.partitionBy(key_col).orderBy(order_col)
    wpre = ws.rowsBetween(Window.unboundedPreceding, 0)
    d = (
        df.withColumn("_rk", F.row_number().over(ws) - 1)
        .withColumn("_v0", F.first(value_col).over(ws))
        .withColumn(
            "_w",
            F.when(
                F.col("_rk") >= 1,
                F.col(value_col) / F.pow(F.lit(q), F.col("_rk")),
            ),
        )
        .withColumn("_s", F.sum("_w").over(wpre))
    )
    e = F.pow(F.lit(q), F.col("_rk")) * (
        F.col("_v0") + alpha * F.coalesce(F.col("_s"), F.lit(0.0))
    )
    return d.withColumn(out_col, e).drop("_rk", "_v0", "_w", "_s")


def _ema_kernel(df, alpha, key_col, order_col, value_col, out_col):
    """Grouped-map O(n) recursion — same seed/skip conventions."""
    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).copy()
        v = pdf[value_col].to_numpy(dtype=float)
        e = v.copy()
        for i in range(1, len(e)):
            e[i] = alpha * v[i] + (1.0 - alpha) * e[i - 1]
        pdf[out_col] = e
        return pdf

    return map_groups(df, key_col, kern, f"{fields}, `{out_col}` double")


def _ema_col(df, alpha, key_col, order_col, value_col, out_col, method):
    """One EMA pass over the non-null rows with the side ``method``
    ("closed" or "kernel") already chosen by :func:`_ema_chain`."""
    pts = df.where(F.col(value_col).isNotNull())
    if alpha >= 1.0:
        # q = 0: the recursion degenerates to e_t = v_t exactly (either
        # side). The closed form would compute v/pow(0, rk) — a
        # DIVIDE_BY_ZERO under ANSI — so short-circuit it here.
        return pts.withColumn(out_col, F.col(value_col).cast("double"))
    side = _ema_closed if method == "closed" else _ema_kernel
    return side(pts, alpha, key_col, order_col, value_col, out_col)


def _ema_chain(df, key_col, alphas, chain, method, max_len):
    """Route a CHAIN of EMA passes with ONE per-series length decision.

    ``chain(d, m)`` applies every pass with the side ``m``. Splitting
    once, on the chain's tightest envelope (the min closed-form cap over
    its alphas, with count(*) per key as a conservative series-length
    bound), keeps both branches linear: one Union in total. Routing
    inside each pass instead doubled the subplan per chained pass
    (adx's four EMAs planned a 16×-duplicated tree, ~5 s of driver
    analysis before a task ran).

    The split is :func:`~spark_timeseries_spark.parallel.route_by_length`
    at that cap. A series whose length lands between a per-pass cap and
    the chain cap takes the kernel for every pass; both sides implement
    the identical adjust=False recursion (floats may differ in the last
    bits between the two exact forms). ``max_len`` is the caller's
    guarantee that no series exceeds it: within the cap, "auto" skips
    the count window and runs the closed form outright."""
    for a in alphas:
        if not 0.0 < a <= 1.0:
            raise ValueError(f"alpha must be in (0, 1], got {a}")
    cap = min(_ema_safe_len(a) for a in alphas)
    if method == "auto" and max_len is not None and max_len <= cap:
        return chain(df, "closed")
    return route_by_length(
        df, [key_col], cap,
        lambda d: chain(d, "closed"), lambda d: chain(d, "kernel"),
        method, sides=("closed", "kernel"),
    )


def _ema(df, alpha, key_col, order_col, value_col, out_col, method, max_len):
    """A single routed EMA pass (a chain of one, counted over the
    non-null rows it smooths)."""
    return _ema_chain(
        df.where(F.col(value_col).isNotNull()), key_col, (alpha,),
        lambda d, m: _ema_col(d, alpha, key_col, order_col, value_col,
                              out_col, m),
        method, max_len,
    )


def ema(
    df: DataFrame,
    alpha: float,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    method: str = "auto",
    max_len: int | None = None,
) -> DataFrame:
    """Input rows (non-null cells) + ``ema`` — the adjust=False
    exponential moving average seeded at the series' first observation.
    ``method``: "auto" routes per series by length (closed window form
    within its numeric envelope, grouped-map recursion beyond — see
    module docstring); "closed"/"kernel" force one. ``max_len``: a
    caller guarantee that no series exceeds it — when it fits the
    closed form's envelope, auto skips the per-series routing count
    window (one whole window pass saved on short-series corpora)."""
    return _ema(
        df, alpha, key_col, order_col, value_col, "ema", method, max_len
    )


def macd(
    df: DataFrame,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    method: str = "auto",
    max_len: int | None = None,
) -> DataFrame:
    """MACD (Appel): input rows + ``macd`` (EMA_fast − EMA_slow, span
    αs = 2/(n+1)), ``signal`` (EMA of the macd line), ``histogram``
    (macd − signal). Three chained EMA passes in ONE lazy plan — the
    signal EMA consumes the macd column like any other value column, so
    every pass shares the same (key, order) sort."""
    if not 1 <= fast < slow:
        raise ValueError(f"need 1 <= fast < slow, got {fast}, {slow}")
    a_fast, a_slow = 2.0 / (fast + 1), 2.0 / (slow + 1)
    a_sig = 2.0 / (signal + 1)

    def _chain(d, m):
        d = _ema_col(d, a_fast, key_col, order_col, value_col, "_ef", m)
        d = _ema_col(d, a_slow, key_col, order_col, value_col, "_es", m)
        d = d.withColumn("macd", F.col("_ef") - F.col("_es")).drop("_ef", "_es")
        d = _ema_col(d, a_sig, key_col, order_col, "macd", "signal", m)
        return d.withColumn("histogram", F.col("macd") - F.col("signal"))

    return _ema_chain(
        df, key_col, (a_fast, a_slow, a_sig), _chain, method, max_len
    )


def rsi(
    df: DataFrame,
    n: int = 14,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    method: str = "auto",
    max_len: int | None = None,
) -> DataFrame:
    """Relative Strength Index → per non-first observation:
    ``gain``/``loss`` (positive/negative part of the one-step change),
    their Wilder-smoothed averages (EMA with α = 1/n, adjust=False,
    seeded at the FIRST change — the ewm variant; Wilder's original
    SMA-seed and Cutler's SMA variant differ only in the burn-in and
    converge to this recursion), and ``rsi`` = 100·ag/(ag+al) —
    algebraically 100 − 100/(1+RS) but defined at al = 0 (→ 100) and
    NULL only when BOTH smoothed averages are 0 (a perfectly flat
    prefix: no evidence either way)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    ws = Window.partitionBy(key_col).orderBy(order_col)
    pts = df.where(F.col(value_col).isNotNull())
    diff = F.col(value_col) - F.lag(value_col).over(ws)
    d = (
        pts.withColumn("_d", diff)
        .where(F.col("_d").isNotNull())
        .withColumn("gain", F.greatest(F.col("_d"), F.lit(0.0)))
        .withColumn("loss", F.greatest(-F.col("_d"), F.lit(0.0)))
        .drop("_d")
    )
    alpha = 1.0 / n

    def _chain(dd, m):
        dd = _ema_col(dd, alpha, key_col, order_col, "gain", "avg_gain", m)
        dd = _ema_col(dd, alpha, key_col, order_col, "loss", "avg_loss", m)
        return dd.withColumn(
            "rsi",
            100.0
            * F.try_divide(
                F.col("avg_gain"), F.col("avg_gain") + F.col("avg_loss")
            ),
        )

    return _ema_chain(d, key_col, (alpha,), _chain, method, max_len)


def bollinger(
    df: DataFrame,
    n: int = 20,
    k: float = 2.0,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Bollinger bands over right-aligned COMPLETE n-windows of the
    observed subsequence: ``mid`` (rolling mean), ``upper``/``lower``
    (± k sample standard deviations), ``pct_b`` ((v − lower)/(upper −
    lower), NULL on a zero-width band), ``bandwidth`` ((upper −
    lower)/mid, NULL at mid = 0). Incomplete leading windows emit NULL
    bands (same contract as the rolling family). One window pass, all
    JVM."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    ws = Window.partitionBy(key_col).orderBy(order_col)
    w = ws.rowsBetween(-(n - 1), 0)
    pts = df.where(F.col(value_col).isNotNull())
    complete = F.count(value_col).over(w) == n
    mid = F.when(complete, F.avg(value_col).over(w))
    sd = F.when(complete, F.stddev_samp(value_col).over(w))
    d = (
        pts.withColumn("mid", mid)
        .withColumn("upper", F.col("mid") + k * sd)
        .withColumn("lower", F.col("mid") - k * sd)
    )
    return d.withColumn(
        "pct_b",
        F.try_divide(
            F.col(value_col) - F.col("lower"), F.col("upper") - F.col("lower")
        ),
    ).withColumn(
        "bandwidth",
        F.try_divide(F.col("upper") - F.col("lower"), F.col("mid")),
    )


def adx(
    df: DataFrame,
    n: int = 14,
    key_col: str = "key",
    order_col: str = "bar_ts",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
    method: str = "auto",
    max_len: int | None = None,
) -> DataFrame:
    """Wilder's Average Directional Index over OHLC bars → one row per
    bar from the SECOND onward (the first has no previous bar):
    ``tr`` (true range), ``plus_di``/``minus_di`` (100·smoothed
    ±DM / smoothed TR), ``dx`` (100·|+DI − −DI|/(+DI + −DI)), ``adx``
    (Wilder-smoothed DX) — the standard trend-STRENGTH gauge (the DIs
    give direction, ADX > ~25 says the trend is real). Consumes
    :func:`~spark_timeseries_spark.operators.resample.ohlc` output or
    any (key, order, high, low, close) frame.

    Conventions: ±DM by Wilder's exclusive rule (+DM = up-move iff it
    exceeds the down-move AND is positive, else 0); all four smoothings
    are the engine's adjust=False EMA with α = 1/n seeded at the first
    value (the ewm variant — Wilder's original SMA burn-in converges to
    this recursion; the :func:`rsi` precedent). Bars where smoothed TR
    is 0 (a flat bar run from the very start) yield NULL DIs and are
    DROPPED from the ADX recursion (the observed-subsequence convention
    every EMA in this module uses).

    Plan: one lag window + four chained closed-form EMA passes sharing
    the same (key, order) sort — all JVM below the auto threshold, the
    same dual-plan routing as :func:`ema` beyond it."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    h, l, c = F.col(high_col), F.col(low_col), F.col(close_col)
    ws = Window.partitionBy(key_col).orderBy(order_col)
    pts = df.where(h.isNotNull() & l.isNotNull() & c.isNotNull())
    d = (
        pts.withColumn("_ph", F.lag(high_col).over(ws))
        .withColumn("_pl", F.lag(low_col).over(ws))
        .withColumn("_pc", F.lag(close_col).over(ws))
        .where(F.col("_ph").isNotNull())
    )
    up = h - F.col("_ph")
    dn = F.col("_pl") - l
    d = (
        d.withColumn(
            "_pdm", F.when((up > dn) & (up > 0), up).otherwise(F.lit(0.0))
        )
        .withColumn(
            "_mdm", F.when((dn > up) & (dn > 0), dn).otherwise(F.lit(0.0))
        )
        .withColumn(
            "tr",
            F.greatest(h - l, F.abs(h - F.col("_pc")), F.abs(l - F.col("_pc"))),
        )
        .drop("_ph", "_pl", "_pc")
    )
    alpha = 1.0 / n
    plus_di = 100.0 * F.try_divide(F.col("_spdm"), F.col("_str"))
    minus_di = 100.0 * F.try_divide(F.col("_smdm"), F.col("_str"))

    def _chain(dd, m):
        dd = _ema_col(dd, alpha, key_col, order_col, "_pdm", "_spdm", m)
        dd = _ema_col(dd, alpha, key_col, order_col, "_mdm", "_smdm", m)
        dd = _ema_col(dd, alpha, key_col, order_col, "tr", "_str", m)
        dd = (
            dd.withColumn("plus_di", plus_di)
            .withColumn("minus_di", minus_di)
            .withColumn(
                "dx",
                100.0
                * F.try_divide(
                    F.abs(F.col("plus_di") - F.col("minus_di")),
                    F.col("plus_di") + F.col("minus_di"),
                ),
            )
            .drop("_pdm", "_mdm", "_spdm", "_smdm", "_str")
        )
        return _ema_col(dd, alpha, key_col, order_col, "dx", "adx", m)

    return _ema_chain(d, key_col, (alpha,), _chain, method, max_len)


def stochastic(
    df: DataFrame,
    n: int = 14,
    d: int = 3,
    key_col: str = "key",
    order_col: str = "bar_ts",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
) -> DataFrame:
    """Stochastic oscillator (Lane) over OHLC bars → input rows +
    ``pct_k`` (100·(close − LL_n)/(HH_n − LL_n) over the highest high /
    lowest low of the last ``n`` bars) and ``pct_d`` (the ``d``-bar
    simple moving average of %K — Lane's original smoothing, not an
    EMA). %K is NULL until a full ``n``-bar window exists (the classic
    burn-in) and NULL on a flat window (HH = LL — try_divide); %D
    averages the non-null %K values in its window.

    Plan: two rolling extrema + one count + one average, all on the
    same (key, order) sort — ONE exchange, zero joins, all JVM."""
    if n < 1 or d < 1:
        raise ValueError(f"need n >= 1 and d >= 1, got {n}, {d}")
    wn = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(-(n - 1), 0)
    )
    wd = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(-(d - 1), 0)
    )
    hh = F.max(high_col).over(wn)
    ll = F.min(low_col).over(wn)
    full = F.count(F.lit(1)).over(wn) >= n
    k = F.when(
        full, 100.0 * F.try_divide(F.col(close_col) - ll, hh - ll)
    )
    return df.withColumn("pct_k", k).withColumn(
        "pct_d", F.avg("pct_k").over(wd)
    )


def obv(
    df: DataFrame,
    key_col: str = "key",
    order_col: str = "bar_ts",
    close_col: str = "close",
    volume_col: str = "vol",
) -> DataFrame:
    """On-balance volume (Granville) over bars with volume → input rows
    + ``obv`` = running Σ sign(close_t − close_{t−1})·vol_t; the first
    bar and flat closes contribute 0, NULL volume counts as 0 (stated —
    a missing volume is no evidence either way). The classic
    volume-flow confirmation line for :func:`macd`/:func:`adx` signals.

    Plan: one lag + one running sum on the same (key, order) sort —
    ONE exchange, all JVM."""
    ws = Window.partitionBy(key_col).orderBy(order_col)
    wpre = ws.rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag(close_col).over(ws)
    step = F.when(
        prev.isNotNull(),
        F.signum(F.col(close_col) - prev)
        * F.coalesce(F.col(volume_col).cast("double"), F.lit(0.0)),
    ).otherwise(F.lit(0.0))
    return df.withColumn("_st", step).withColumn(
        "obv", F.sum("_st").over(wpre)
    ).drop("_st")


def ewm_var(
    df: DataFrame,
    alpha: float,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    method: str = "auto",
    max_len: int | None = None,
) -> DataFrame:
    """Input rows (non-null cells) + ``ewm_mean``, ``ewm_var``,
    ``ewm_std`` — the exponentially-weighted variance under the SAME
    adjust=False weight distribution as :func:`ema`:
    var_t = E_w[x²]_t − (E_w[x]_t)², the (biased) variance of the
    weight measure (pandas ``ewm(adjust=False).var(bias=True)``; with
    a demeaned series this is the RiskMetrics σ² recursion with
    λ = 1 − α). Floored at 0 before the sqrt — the subtraction can go
    ~1e-16 negative on constant runs.

    Plan: two chained EMA passes (x and x²) sharing ONE (key, order)
    sort — the :func:`macd` chaining precedent; all JVM inside the
    closed form's envelope, dual-plan routed beyond it."""
    v = F.col(value_col)
    d = df.where(v.isNotNull()).withColumn("_x2", v * v)
    var = F.greatest(
        F.lit(0.0), F.col("_e2") - F.col("ewm_mean") * F.col("ewm_mean")
    )

    def _chain(dd, m):
        dd = _ema_col(dd, alpha, key_col, order_col, value_col, "ewm_mean", m)
        dd = _ema_col(dd, alpha, key_col, order_col, "_x2", "_e2", m)
        return (
            dd.withColumn("ewm_var", var)
            .withColumn("ewm_std", F.sqrt(F.col("ewm_var")))
            .drop("_x2", "_e2")
        )

    return _ema_chain(d, key_col, (alpha,), _chain, method, max_len)


def atr(
    df: DataFrame,
    n: int = 14,
    key_col: str = "key",
    order_col: str = "bar_ts",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
    method: str = "auto",
    max_len: int | None = None,
) -> DataFrame:
    """Average True Range (Wilder) over OHLC bars → one row per bar
    from the SECOND onward: ``tr`` (max of H−L, |H−prevC|, |L−prevC|)
    and ``atr`` (its α = 1/n Wilder EMA, the :func:`adx` smoothing
    convention) — the standalone volatility gauge the stop-loss /
    position-sizing rules consume (:func:`adx` embeds the same TR but
    only exposes it smoothed into the DIs).

    Plan: one lag window + one chained closed-form EMA pass on the same
    (key, order) sort — all JVM inside the EMA envelope."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    ws = Window.partitionBy(key_col).orderBy(order_col)
    h, l = F.col(high_col), F.col(low_col)
    d = (
        df.withColumn("_pc", F.lag(close_col).over(ws))
        .where(F.col("_pc").isNotNull())
        .withColumn(
            "tr",
            F.greatest(
                h - l, F.abs(h - F.col("_pc")), F.abs(l - F.col("_pc"))
            ),
        )
        .drop("_pc")
    )
    return _ema(d, 1.0 / n, key_col, order_col, "tr", "atr", method, max_len)


def pivot_points(
    df: DataFrame,
    key_col: str = "key",
    order_col: str = "bar_ts",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
) -> DataFrame:
    """Classic floor-trader pivot levels for each bar from its
    PREVIOUS bar's range → input rows + pivot (P = (H+L+C)/3 of the
    prior bar), r1 (2P − prevL), s1 (2P − prevH), r2 (P + (prevH −
    prevL)), s2 (P − (prevH − prevL)); the first bar has no prior bar
    and gets NULLs. Pure lag arithmetic — one window, all JVM."""
    ws = Window.partitionBy(key_col).orderBy(order_col)
    ph = F.lag(high_col).over(ws)
    pl = F.lag(low_col).over(ws)
    pc = F.lag(close_col).over(ws)
    p = (ph + pl + pc) / 3.0
    return (
        df.withColumn("pivot", p)
        .withColumn("r1", 2.0 * p - pl)
        .withColumn("s1", 2.0 * p - ph)
        .withColumn("r2", p + (ph - pl))
        .withColumn("s2", p - (ph - pl))
    )


def keltner_channels(
    df: DataFrame,
    n: int = 20,
    mult: float = 2.0,
    key_col: str = "key",
    order_col: str = "bar_ts",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
    method: str = "auto",
    max_len: int | None = None,
) -> DataFrame:
    """Keltner channels over OHLC bars → one row per bar from the
    SECOND onward (the first has no true range): ``typical``
    ((H+L+C)/3), ``kc_mid`` (its span-n EMA, α = 2/(n+1)), ``kc_upper``
    / ``kc_lower`` (mid ± mult·ATR(n), Wilder α = 1/n) — the
    volatility-adaptive band pair next to :func:`bollinger`'s
    stddev-based one. Two chained closed-form EMA passes (typical
    price, TR) sharing ONE (key, order) sort — all JVM inside the EMA
    envelope."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    ws = Window.partitionBy(key_col).orderBy(order_col)
    h, l, c = F.col(high_col), F.col(low_col), F.col(close_col)
    d = (
        df.withColumn("_pc", F.lag(close_col).over(ws))
        .where(F.col("_pc").isNotNull())
        .withColumn("typical", (h + l + c) / 3.0)
        .withColumn(
            "tr",
            F.greatest(h - l, F.abs(h - F.col("_pc")), F.abs(l - F.col("_pc"))),
        )
        .drop("_pc")
    )
    def _chain(dd, m):
        dd = _ema_col(dd, 2.0 / (n + 1), key_col, order_col, "typical",
                      "kc_mid", m)
        dd = _ema_col(dd, 1.0 / n, key_col, order_col, "tr", "_atr", m)
        return (
            dd.withColumn("kc_upper", F.col("kc_mid") + mult * F.col("_atr"))
            .withColumn("kc_lower", F.col("kc_mid") - mult * F.col("_atr"))
            .drop("_atr")
        )

    return _ema_chain(
        d, key_col, (2.0 / (n + 1), 1.0 / n), _chain, method, max_len
    )


def donchian_channels(
    df: DataFrame,
    n: int = 20,
    key_col: str = "key",
    order_col: str = "bar_ts",
    high_col: str = "high",
    low_col: str = "low",
) -> DataFrame:
    """Donchian breakout channels → input rows + ``dc_upper`` (highest
    high of the last n bars), ``dc_lower`` (lowest low), ``dc_mid``
    (their midpoint); NULL until a full n-bar window exists (the
    :func:`stochastic` burn-in convention). Two rolling extrema on one
    sort — one exchange, all JVM."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(-(n - 1), 0)
    )
    full = F.count(F.lit(1)).over(w) >= n
    up = F.when(full, F.max(high_col).over(w))
    lo = F.when(full, F.min(low_col).over(w))
    return (
        df.withColumn("dc_upper", up)
        .withColumn("dc_lower", lo)
        .withColumn("dc_mid", (F.col("dc_upper") + F.col("dc_lower")) / 2.0)
    )


def ulcer_index(
    df: DataFrame,
    n: int = 14,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Ulcer index (Martin & McCann) → input non-null rows + ``pct_dd``
    (percent drawdown from the rolling n-observation high, ≤ 0; NULL
    until a full n-observation window) and ``ulcer`` (√ of the mean of
    the last n pct_dd² — RMS drawdown depth, the downside-only
    volatility gauge; NULL until a full window of n pct_dd values
    exists, i.e. row 2n−2 of the series — no partial-window ramp-in).
    Two stacked windows on one sort — one exchange, all JVM."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(-(n - 1), 0)
    )
    full = F.count(F.lit(1)).over(w) >= n
    pdd = F.when(
        full, 100.0 * (F.try_divide(v, F.max(value_col).over(w)) - 1.0)
    )
    d = pts.withColumn("pct_dd", pdd)
    # count() skips NULLs, so this gates on n FULL pct_dd values — the
    # ramp-in rows (n-1 .. 2n-3) that used to average < n squared
    # drawdowns now yield NULL, matching the standard definition
    return d.withColumn(
        "ulcer",
        F.when(
            F.count("pct_dd").over(w) >= n,
            F.sqrt(F.avg(F.col("pct_dd") * F.col("pct_dd")).over(w)),
        ),
    )


def rolling_sharpe(
    df: DataFrame,
    n: int = 20,
    rf: float = 0.0,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Rolling Sharpe ratio → one row per non-null observation from the
    second onward: ``ret`` (simple 1-step return, NULL-bridging like
    :func:`~spark_timeseries_spark.operators.volatility.realized_vol`),
    ``sharpe`` ((mean(ret) − rf)/sample-std(ret) over the last n
    returns; NULL until n returns exist or on zero dispersion). One lag
    + two windows on one sort — one exchange, all JVM; annualize by
    multiplying with √periods-per-year downstream (stated, not baked
    in)."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    ws = Window.partitionBy(key_col).orderBy(order_col)
    d = (
        pts.withColumn("_pv", F.lag(value_col).over(ws))
        .withColumn("ret", F.try_divide(v, F.col("_pv")) - 1.0)
        .where(F.col("ret").isNotNull())
        .drop("_pv")
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(-(n - 1), 0)
    )
    full = F.count(F.lit(1)).over(w) >= n
    sharpe = F.when(
        full,
        F.try_divide(
            F.avg("ret").over(w) - rf, F.stddev_samp("ret").over(w)
        ),
    )
    return d.withColumn("sharpe", sharpe)


def ewma_chart(
    df: DataFrame,
    alpha: float = 0.2,
    limit: float = 3.0,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    method: str = "auto",
    max_len: int | None = None,
) -> DataFrame:
    """EWMA control chart (Roberts 1959 / Lucas-Saccucci) per series →
    input non-null rows + ``ema``, ``center`` (the series mean — the
    phase-I target estimated from the series itself, stated), ``ucl``/
    ``lcl`` (center ± limit·σ̂·√(q^{2t} + α/(2−α)·(1 − q^{2t})), q =
    1−α, t the 0-based observation index — the EXACT time-varying
    variance of an EWMA SEEDED AT x₀, the library's adjust=False
    convention: Var = σ̂² at the first observation, relaxing to the
    textbook α/(2−α) asymptote; the classic μ₀-seeded formula starts
    narrow instead and false-alarms on the seed), and ``alarm`` (ema
    outside the limits) — the SPC drift alarm that beats Shewhart
    charts on small persistent shifts. NULL limits/alarm on a constant
    series (σ̂ = 0 ⇒ collapsed limits + EMA float dust = guaranteed
    false alarm).

    Plan: one key window for center/σ̂ + the closed-form EMA pass on
    the same sort — no joins, all JVM inside the EMA envelope."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if limit <= 0:
        raise ValueError(f"limit must be positive, got {limit}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    wk = Window.partitionBy(key_col)
    ws = Window.partitionBy(key_col).orderBy(order_col)
    d = _ema(pts, alpha, key_col, order_col, value_col, "ema",
             method, max_len)
    d = (
        d.withColumn("center", F.avg(value_col).over(wk))
        .withColumn("_sd", F.stddev_samp(value_col).over(wk))
        .withColumn(
            "_t", (F.row_number().over(ws) - 1).cast("double")
        )
    )
    q = 1.0 - alpha
    qt = F.pow(F.lit(q), 2.0 * F.col("_t"))
    spread = F.col("_sd") * F.sqrt(
        qt + (alpha / (2.0 - alpha)) * (1.0 - qt)
    )
    # zero-dispersion gate: on a constant series the limits collapse
    # onto the center while the closed-form EMA carries ~1-ulp float
    # dust — a guaranteed false alarm; NULL limits/alarm instead
    ok = F.col("_sd") > 0
    d = (
        d.withColumn("ucl", F.when(ok, F.col("center") + limit * spread))
        .withColumn("lcl", F.when(ok, F.col("center") - limit * spread))
    )
    alarm = F.when(
        F.col("ucl").isNotNull(),
        (F.col("ema") > F.col("ucl")) | (F.col("ema") < F.col("lcl")),
    )
    return d.withColumn("alarm", alarm).drop("_sd", "_t")


def williams_r(
    df: DataFrame,
    n: int = 14,
    key_col: str = "key",
    order_col: str = "bar_ts",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
) -> DataFrame:
    """Williams %R (Larry Williams) → input rows + ``pct_r`` =
    −100·(HH − close)/(HH − LL) over the last n bars — the inverted
    twin of :func:`stochastic`'s %K (−100 = close at the window low,
    0 = at the high); NULL until a full n-bar window exists or on a
    flat window (HH = LL, the %K convention). Two rolling extrema on
    one sort — one exchange, all JVM."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(-(n - 1), 0)
    )
    full = F.count(F.lit(1)).over(w) >= n
    hh = F.when(full, F.max(high_col).over(w))
    ll = F.when(full, F.min(low_col).over(w))
    return df.withColumn(
        "pct_r",
        -100.0 * F.try_divide(hh - F.col(close_col), hh - ll),
    )


def cci(
    df: DataFrame,
    n: int = 20,
    key_col: str = "key",
    order_col: str = "bar_ts",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
) -> DataFrame:
    """Commodity Channel Index (Lambert 1980) → input rows + ``tp``
    (typical price (H+L+C)/3) and ``cci`` = (tp − SMA_n(tp)) /
    (0.015 · MD) where MD is the MEAN ABSOLUTE DEVIATION of the
    window's tp values from the window's OWN SMA (the textbook
    definition — each window element deviates from the current
    window's mean, not its own window's); NULL until a full n-bar
    window or when MD = 0 (flat window). NULL-valued bars are not
    expected from :func:`~spark_timeseries_spark.operators.resample.ohlc`
    (empty buckets emit no row), so no null gating beyond the burn-in.

    Plan: the per-window deviation needs every window element against
    the window's own mean — an n-element ``collect_list`` over the
    SAME bounded ROWS frame the SMA uses (n values per row, the
    rolling-quantile buffer envelope), folded JVM-side with
    higher-order functions. One sort, one exchange, no Python, no
    self-join."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(-(n - 1), 0)
    )
    tp = (F.col(high_col) + F.col(low_col) + F.col(close_col)) / 3.0
    d = df.withColumn("tp", tp)
    full = F.count(F.lit(1)).over(w) >= n
    sma = F.avg("tp").over(w)
    lst = F.collect_list("tp").over(w)
    md = F.try_divide(
        F.aggregate(
            F.transform(lst, lambda x: F.abs(x - sma)),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        F.size(lst).cast("double"),
    )
    return d.withColumn(
        "cci",
        F.when(full, F.try_divide(F.col("tp") - sma, 0.015 * md)),
    )


def cmo(
    df: DataFrame,
    n: int = 14,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Chande Momentum Oscillator → one row per non-null observation
    from the second onward: ``gain``/``loss`` (positive/negative part
    of the one-step change, the :func:`rsi` convention) and ``cmo`` =
    100·(Σgain − Σloss)/(Σgain + Σloss) over the last n changes — RSI
    without the Wilder smoothing, bounded ±100, 0-centered; NULL until
    n changes exist or on a fully flat window (both sums 0). One lag +
    two window sums on one sort — one exchange, all JVM."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    ws = Window.partitionBy(key_col).orderBy(order_col)
    pts = df.where(F.col(value_col).isNotNull())
    diff = F.col(value_col) - F.lag(value_col).over(ws)
    d = (
        pts.withColumn("_d", diff)
        .where(F.col("_d").isNotNull())
        .withColumn("gain", F.greatest(F.col("_d"), F.lit(0.0)))
        .withColumn("loss", F.greatest(-F.col("_d"), F.lit(0.0)))
        .drop("_d")
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(-(n - 1), 0)
    )
    full = F.count(F.lit(1)).over(w) >= n
    su = F.sum("gain").over(w)
    sd = F.sum("loss").over(w)
    return d.withColumn(
        "cmo", F.when(full, 100.0 * F.try_divide(su - sd, su + sd))
    )


def trix(
    df: DataFrame,
    n: int = 15,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    method: str = "auto",
    max_len: int | None = None,
) -> DataFrame:
    """TRIX (Hutson 1983) → input non-null rows + ``ema3`` (the
    triple-smoothed EMA, span α = 2/(n+1), adjust=False — three
    chained :func:`ema` passes, each seeded at its input's first
    value) and ``trix`` = 100·(ema3/ema3_prev − 1), the 1-step percent
    rate of change of the triple EMA (NULL on the first row and at
    ema3_prev = 0). Triple smoothing suppresses cycles shorter than
    the span — the classic zero-line momentum filter. Three closed-
    form EMA passes + one lag share ONE (key, order) sort — one
    exchange, all JVM inside the EMA envelope (module docstring)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    alpha = 2.0 / (n + 1)
    pts = df.where(F.col(value_col).isNotNull())
    ws = Window.partitionBy(key_col).orderBy(order_col)
    prev = F.lag("ema3").over(ws)

    def _chain(dd, m):
        dd = _ema_col(dd, alpha, key_col, order_col, value_col, "_e1", m)
        dd = _ema_col(dd, alpha, key_col, order_col, "_e1", "_e2", m)
        dd = _ema_col(dd, alpha, key_col, order_col, "_e2", "ema3", m)
        return (
            dd.withColumn(
                "trix", 100.0 * (F.try_divide(F.col("ema3"), prev) - 1.0)
            )
            .drop("_e1", "_e2")
        )

    return _ema_chain(pts, key_col, (alpha,), _chain, method, max_len)


def aroon(
    df: DataFrame,
    n: int = 25,
    key_col: str = "key",
    order_col: str = "bar_ts",
    high_col: str = "high",
    low_col: str = "low",
) -> DataFrame:
    """Aroon indicator (Chande 1995) → input rows + ``aroon_up`` =
    100·(n − bars since the (n+1)-bar window's highest high)/n,
    ``aroon_down`` (same on the lowest low), ``aroon_osc`` (their
    difference, ±100 bounds); NULL until a full n+1-bar window. Ties
    resolve to the MOST RECENT extreme bar (stated: the max/min of a
    (value, position) struct — deterministic, and the convention that
    makes a fresh retest read as strength). Two struct-extrema windows
    on one sort — one exchange, all JVM, no self-join."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    ws = Window.partitionBy(key_col).orderBy(order_col)
    w = ws.rowsBetween(-n, 0)
    d = df.withColumn("_rn", F.row_number().over(ws).cast("long"))
    full = F.count(F.lit(1)).over(w) >= n + 1
    hh_rn = F.max(F.struct(F.col(high_col).alias("v"),
                           F.col("_rn").alias("r"))).over(w)["r"]
    ll_rn = F.min(F.struct(F.col(low_col).alias("v"),
                           (-F.col("_rn")).alias("r"))).over(w)["r"]
    up = F.when(full, 100.0 * (n - (F.col("_rn") - hh_rn)) / float(n))
    # min-struct tie-break: negate the position so equal lows pick the
    # LARGEST (most recent) bar, mirroring the max side
    dn = F.when(full, 100.0 * (n - (F.col("_rn") + ll_rn)) / float(n))
    return (
        d.withColumn("aroon_up", up)
        .withColumn("aroon_down", dn)
        .withColumn("aroon_osc", F.col("aroon_up") - F.col("aroon_down"))
        .drop("_rn")
    )


def heikin_ashi(
    df: DataFrame,
    key_col: str = "key",
    order_col: str = "bar_ts",
    open_col: str = "open",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
    method: str = "auto",
    max_len: int | None = None,
) -> DataFrame:
    """Heikin-Ashi smoothed candles → input rows + ``ha_open``,
    ``ha_close``, ``ha_high``, ``ha_low``: ha_close = (O+H+L+C)/4;
    ha_open follows the textbook recursion ha_open_t =
    (ha_open_{t−1} + ha_close_{t−1})/2 seeded at (O₁+C₁)/2; ha_high/
    ha_low = the bar's extremes extended to the HA body. The trend-
    smoothing candle transform — runs of one HA color read as one
    trend leg.

    Plan: the ha_open recursion IS an α = ½ adjust=False EMA of the
    LAGGED ha_close with the seed spliced into the input's first slot
    (e_t = ½·w_t + ½·e_{t−1} with w₁ = (O₁+C₁)/2, w_t = ha_close_{t−1}
    — expand the recursion to see it reproduce ha_open exactly), so it
    rides the shared closed-form/kernel EMA dual plan
    (:func:`ema` — SQL-replayable inside the envelope). One lag + one
    EMA pass on one sort, all JVM."""
    ws = Window.partitionBy(key_col).orderBy(order_col)
    hc = (
        F.col(open_col) + F.col(high_col) + F.col(low_col)
        + F.col(close_col)
    ) / 4.0
    d = df.withColumn("ha_close", hc)
    seed = (F.col(open_col) + F.col(close_col)) / 2.0
    w_in = F.coalesce(F.lag("ha_close").over(ws), seed)
    # "_ha_w", not "_w": the closed-form EMA pass uses "_w" internally
    d = d.withColumn("_ha_w", w_in)
    d = _ema(d, 0.5, key_col, order_col, "_ha_w", "ha_open",
             method, max_len)
    return (
        d.withColumn(
            "ha_high",
            F.greatest(F.col(high_col), F.col("ha_open"), F.col("ha_close")),
        )
        .withColumn(
            "ha_low",
            F.least(F.col(low_col), F.col("ha_open"), F.col("ha_close")),
        )
        .drop("_ha_w")
    )


def wma(
    df: DataFrame,
    n: int = 10,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Linearly-weighted moving average → input non-null rows +
    ``wma`` = Σ i·xᵢ / Σ i over the last n observations with weights
    1..n, NEWEST heaviest (the classic LWMA — between the SMA's flat
    memory and the EMA's infinite tail); NULL until a full n-window.

    Plan: one bounded n-element ``collect_list`` rolling window folded
    with an INDEXED higher-order transform (list is frame-ordered, so
    position = age) — the cci window-buffer envelope; one sort, one
    exchange, all JVM."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(-(n - 1), 0)
    )
    lst = F.collect_list(value_col).over(w)
    num = F.aggregate(
        # Spark transform index is 0-based; weight = i + 1
        F.transform(lst, lambda x, i: x * (i + 1).cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    den = F.lit(float(n * (n + 1) // 2))
    return pts.withColumn(
        "wma",
        F.when(F.count(F.lit(1)).over(w) >= n, num / den),
    )


def spc_rules(
    df: DataFrame,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Western Electric run rules (WECO handbook 1956) per series →
    non-null input rows + ``z`` and four rule flags, the Shewhart-chart
    companion of :func:`ewma_chart` (that chart catches small
    persistent drifts; these rules catch spikes, runs and oscillation
    onset on the raw points):

    - ``rule1``: |z| > 3 — the point itself is beyond 3σ.
    - ``rule2``: ≥ 2 of the last 3 points beyond 2σ on the SAME side.
    - ``rule3``: ≥ 4 of the last 5 points beyond 1σ on the same side.
    - ``rule4``: all of the last 8 points on the same side of center
      (a point exactly AT center breaks both runs, stated).

    Conventions (stated): center/σ̂ are the series' own mean and
    sample stdev (phase-I, the ``ewma_chart`` convention); run rules
    count windows of the last k OBSERVED points and are NULL until k
    points exist (a partial window can't satisfy "m of k"); z and all
    four flags are NULL on a constant series (σ̂ = 0 → try_divide →
    NULL z propagates through every rule's conditional count).

    Plan: one key window for center/σ̂ + three counting frames on the
    SAME (key, order) sort — Catalyst reuses one exchange and one
    sort; no joins, no Python, linear in rows."""
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    wk = Window.partitionBy(key_col)
    ws = Window.partitionBy(key_col).orderBy(order_col)

    def frame(k):
        return ws.rowsBetween(-(k - 1), 0)

    z = F.try_divide(
        v - F.avg(value_col).over(wk), F.stddev_samp(value_col).over(wk)
    )
    d = pts.withColumn("z", z)
    zc = F.col("z")

    def m_of_k(m, k, thresh):
        hi = F.sum((zc > thresh).cast("int")).over(frame(k)) >= m
        lo = F.sum((zc < -thresh).cast("int")).over(frame(k)) >= m
        return F.when(F.count(F.lit(1)).over(frame(k)) >= k, hi | lo)

    return (
        d.withColumn("rule1", F.when(zc.isNotNull(), F.abs(zc) > 3.0))
        .withColumn("rule2", m_of_k(2, 3, 2.0))
        .withColumn("rule3", m_of_k(4, 5, 1.0))
        .withColumn("rule4", m_of_k(8, 8, 0.0))
    )


def ma_cross(
    df: DataFrame,
    fast: int = 5,
    slow: int = 20,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Moving-average crossover signals per series → one row per CROSS
    event: (key, <order_col>, value, fast_ma, slow_ma, signal) with
    signal = +1 when the fast SMA crosses ABOVE the slow (the "golden
    cross") and −1 when it crosses below. A cross fires on the first
    row whose sign(fast − slow) differs from the previous row's;
    rows where the difference is exactly 0 carry sign 0 and fire on
    leaving it (stated — the knife-edge case). Both SMAs require FULL
    windows (NULL during warm-up; no signal can fire until ``slow``
    observations exist) over non-null values.

    Simple (unweighted) moving averages, deliberately: the EMA family
    lives in :func:`ema`/:func:`macd` (MACD line crossings are this
    operator's exponential sibling); SMA crosses are the
    chart-convention default.

    Plan: two frames + one lag on ONE (key, order) sort — one
    exchange, no join, no Python; output is events-only (bounded by
    the cross count, not the series length)."""
    if not 1 <= fast < slow:
        raise ValueError(
            f"need 1 <= fast < slow, got fast={fast}, slow={slow}"
        )
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    ws = Window.partitionBy(key_col).orderBy(order_col)
    wf = ws.rowsBetween(-(fast - 1), 0)
    wl = ws.rowsBetween(-(slow - 1), 0)
    d = (
        pts.withColumn(
            "fast_ma",
            F.when(F.count(F.lit(1)).over(wf) >= fast, F.avg(v).over(wf)),
        )
        .withColumn(
            "slow_ma",
            F.when(F.count(F.lit(1)).over(wl) >= slow, F.avg(v).over(wl)),
        )
        .withColumn(
            "_sgn", F.signum(F.col("fast_ma") - F.col("slow_ma"))
        )
        .withColumn("_psgn", F.lag("_sgn").over(ws))
    )
    fired = (
        F.col("_sgn").isNotNull()
        & F.col("_psgn").isNotNull()
        & (F.col("_sgn") != F.col("_psgn"))
        & (F.col("_sgn") != 0.0)
    )
    return d.where(fired).select(
        key_col,
        order_col,
        value_col,
        "fast_ma",
        "slow_ma",
        F.col("_sgn").cast("int").alias("signal"),
    )


def microstructure(
    df: DataFrame,
    key_col: str = "key",
    order_col: str = "loc",
    close_col: str = "close",
    volume_col: str = "volume",
) -> DataFrame:
    """Classic liquidity estimators from bar data → one row per key:
    (key, n_bars, amihud, roll_cov, roll_spread). ``amihud`` is the
    Amihud (2002) illiquidity ratio avg(|ret| / volume) over bars with
    positive volume and a defined simple return (multiply by 1e6
    yourself for the conventional per-million scaling — the raw ratio
    keeps the statistic unit-agnostic); ``roll_spread`` is Roll's (1984)
    implied effective spread 2·√(−cov(Δp_t, Δp_{t−1})) from the serial
    covariance of price CHANGES — NULL when the covariance is
    non-negative (the estimator is undefined there; ``roll_cov`` is
    always reported so callers can see how close the sign was).

    Plan: two lag windows on ONE (key, order) sort + one
    map-side-combinable groupBy(key) — a single exchange, all JVM."""
    wk = Window.partitionBy(key_col).orderBy(order_col)
    c = F.col(close_col)
    ret = F.try_divide(c, F.lag(close_col).over(wk)) - 1.0
    dp = c - F.lag(close_col).over(wk)
    d = (
        df.withColumn("_ret", ret)
        .withColumn("_dp", dp)
        .withColumn("_dp_prev", F.lag("_dp").over(wk))
    )
    illiq = F.when(
        F.col(volume_col) > 0,
        F.abs(F.col("_ret")) / F.col(volume_col),
    )
    cov = F.covar_pop(
        F.when(F.col("_dp_prev").isNotNull(), F.col("_dp")), "_dp_prev"
    )
    return d.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.avg(illiq).alias("amihud"),
        cov.alias("roll_cov"),
        F.when(cov < 0, 2.0 * F.sqrt(-cov)).alias("roll_spread"),
    )


def ichimoku(
    df: DataFrame,
    n_tenkan: int = 9,
    n_kijun: int = 26,
    n_senkou: int = 52,
    key_col: str = "key",
    order_col: str = "bar_ts",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
) -> DataFrame:
    """Ichimoku Kinkō Hyō → input rows + ``tenkan`` ((n_tenkan-bar
    highest high + lowest low)/2), ``kijun`` (same over n_kijun),
    ``senkou_a`` ((tenkan+kijun)/2 SHIFTED n_kijun bars forward — the
    leading-span convention realized as a lag so row t carries the
    cloud edge PLOTTED at t), ``senkou_b`` (n_senkou midpoint shifted
    the same way), and ``chikou`` (close shifted n_kijun bars BACK —
    row t carries the lagging span plotted at t, i.e. the close from
    t+n_kijun when it exists). Every midpoint is NULL until its full
    window exists (the :func:`donchian_channels` burn-in convention);
    the shifts then propagate those NULLs exactly as a chart would
    leave the cloud blank. Five windows + two lags + one lead on ONE
    (key, order) sort — one exchange, all JVM."""
    for nm, v_ in (("n_tenkan", n_tenkan), ("n_kijun", n_kijun),
                   ("n_senkou", n_senkou)):
        if v_ < 1:
            raise ValueError(f"{nm} must be >= 1, got {v_}")
    ws = Window.partitionBy(key_col).orderBy(order_col)

    def mid(n: int):
        w = ws.rowsBetween(-(n - 1), 0)
        full = F.count(F.lit(1)).over(w) >= n
        return F.when(
            full, (F.max(high_col).over(w) + F.min(low_col).over(w)) / 2.0
        )

    d = (
        df.withColumn("tenkan", mid(n_tenkan))
        .withColumn("kijun", mid(n_kijun))
        .withColumn("_sb", mid(n_senkou))
    )
    return (
        d.withColumn(
            "senkou_a",
            F.lag((F.col("tenkan") + F.col("kijun")) / 2.0, n_kijun).over(
                ws
            ),
        )
        .withColumn("senkou_b", F.lag("_sb", n_kijun).over(ws))
        .withColumn("chikou", F.lead(close_col, n_kijun).over(ws))
        .drop("_sb")
    )


def money_flow_index(
    df: DataFrame,
    n: int = 14,
    key_col: str = "key",
    order_col: str = "bar_ts",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
    volume_col: str = "n",
) -> DataFrame:
    """Money flow index → input rows + ``typical`` ((H+L+C)/3) and
    ``mfi`` (volume-weighted RSI): raw money flow = typical·volume,
    classed positive/negative by the SIGN of the typical-price change
    (flat bars contribute neither — the standard convention), and
    MFI = 100·Σpos/(Σpos+Σneg) over the last n CHANGES. NULL until a
    full n-change window exists (row n of the series — the first bar
    has no change) and when the window's total flow is 0. Lag + two
    conditional rolling sums on one sort — one exchange, all JVM."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    ws = Window.partitionBy(key_col).orderBy(order_col)
    w = ws.rowsBetween(-(n - 1), 0)
    typ = (
        F.col(high_col) + F.col(low_col) + F.col(close_col)
    ) / 3.0
    d = df.withColumn("typical", typ).withColumn(
        "_dt", F.col("typical") - F.lag("typical").over(ws)
    )
    flow = F.col("typical") * F.col(volume_col).cast("double")
    pos = F.sum(F.when(F.col("_dt") > 0, flow).otherwise(F.lit(0.0))).over(w)
    neg = F.sum(F.when(F.col("_dt") < 0, flow).otherwise(F.lit(0.0))).over(w)
    full = F.count("_dt").over(w) >= n
    mfi = F.when(full, 100.0 * F.try_divide(pos, pos + neg))
    return d.withColumn("mfi", mfi).drop("_dt")


def risk_ratios(
    df: DataFrame,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Return-stream risk ratios per series → one row per key: (key,
    n, mean_ret, omega, gain_to_pain, max_dd, calmar). Returns are
    simple one-step changes over consecutive NON-NULL observations
    (the :func:`rolling_sharpe` bridging convention). omega (Ω at
    threshold 0, Keating & Shadwick 2002) = Σ gains / Σ |losses|;
    gain_to_pain (Schwager) = Σ r / Σ |losses|; ``max_dd`` is the
    maximum peak-to-trough drawdown of the compounded equity curve
    Π(1+r) measured against the running peak INCLUDING the initial
    capital (equity₀ = 1 — an immediately losing stream draws down
    from its start, not from its first post-return value; computed as
    exp∘cumsum∘log1p with the zero guard — a return ≤ −100% pins the
    curve, and max_dd, to exactly 1); calmar
    (cadence-relative form, stated: no annualization — the engine
    doesn't know the sampling frequency) = mean_ret / max_dd. NULL
    ratios where the denominator is 0 (an all-gain series has
    Ω = NULL, not ∞).

    Plan: one lag + two cumulative windows on one (key, order) sort,
    then ONE map-side-combinable groupBy(key) on the same partitioning
    — a single exchange, no joins, all JVM."""
    v = F.col(value_col)
    ws = Window.partitionBy(key_col).orderBy(order_col)
    wc = ws.rowsBetween(Window.unboundedPreceding, 0)
    pts = df.where(v.isNotNull())
    d = pts.withColumn(
        "_r", F.try_divide(v, F.lag(v).over(ws)) - 1.0
    ).where(F.col("_r").isNotNull())
    # equity curve with the <= -100% pin: ln(1+r) guarded to 0 there,
    # the running min of (1+r) marks the pinned region (the
    # kaplan_meier zero-factor technique)
    safe = F.log(
        F.when(F.col("_r") > -1.0, 1.0 + F.col("_r")).otherwise(F.lit(1.0))
    )
    d = (
        d.withColumn("_dead", F.min(1.0 + F.col("_r")).over(wc) <= 0.0)
        .withColumn("_eq", F.exp(F.sum(safe).over(wc)))
        .withColumn(
            "_dd",
            F.when(F.col("_dead"), F.lit(1.0)).otherwise(
                1.0
                - F.try_divide(
                    F.col("_eq"),
                    F.greatest(F.max("_eq").over(wc), F.lit(1.0)),
                )
            ),
        )
    )
    agg = d.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("_r").alias("mean_ret"),
        F.sum(F.when(F.col("_r") > 0, F.col("_r")).otherwise(0.0)).alias(
            "_gain"
        ),
        F.sum(F.when(F.col("_r") < 0, -F.col("_r")).otherwise(0.0)).alias(
            "_pain"
        ),
        F.sum("_r").alias("_tot"),
        F.max("_dd").alias("max_dd"),
    )
    return agg.select(
        "key", "n", "mean_ret",
        F.try_divide(F.col("_gain"), F.col("_pain")).alias("omega"),
        F.try_divide(F.col("_tot"), F.col("_pain")).alias("gain_to_pain"),
        "max_dd",
        F.try_divide(F.col("mean_ret"), F.col("max_dd")).alias("calmar"),
    )
