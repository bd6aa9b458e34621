"""Per-series spectral analysis: Schuster periodogram + dominant period.

Beyond-reference (sryza/spark-timeseries has no frequency-domain surface),
but the natural diagnostic next to :mod:`decompose` — "is there a cycle,
and at what period?" answered with the classic periodogram
P(k) = (2/n)·(a_k² + b_k²), a_k = Σ v'_t·cos(2πkt/n),
b_k = Σ v'_t·sin(2πkt/n) over the demeaned series v', evaluated at the
Fourier frequencies k = 1..⌊n/2⌋ (Schuster 1898; the length-normalized
variant used by R's ``spec.pegram`` family up to its scaling constant).

Two physical strategies for the same math, selected per series by length:

- **explode** (short series): each point explodes into its ⌊n/2⌋ frequency
  contributions and ONE map-side-combined groupBy (key, k) sums the
  projections — all JVM trig expressions, no Python, no window, no global
  sort, and SQL-exact (the DuckDB oracle replays it bit-for-bit). The
  explode emits O(n²/2) rows per series, so it is only the right plan
  inside the reference's one-series-in-memory envelope.
- **fft** (long series): a grouped-map numpy kernel computes the SAME
  ordinates from the DFT of the demeaned series — |X_k|²·2/n IS
  a_k² + b_k² · 2/n (a_k = Re X_k, b_k = −Im X_k) — in O(n log n) per
  series with ZERO shuffle rows beyond the series itself. |X_k| is
  invariant under the constant phase e^{−2πik·t₀/n}, so any contiguous
  loc range (not just 0-based) hits the rfft fast path; series with holes
  (dropped NULL cells) fall back to a chunked vectorized direct DFT at
  the exact same angles (still no quadratic shuffle — the quadratic work
  stays in-core as BLAS flops).

``method="auto"`` (default) branches PER SERIES inside one lazy plan:
:func:`~spark_timeseries_spark.parallel.route_by_length` sends series
with n ≤ ``_FFT_THRESHOLD`` (512) to the explode subplan and longer ones
to the grouped-map subplan, unioned — no driver-side length probe, no
action at plan-build time. The bound keeps the explode side under ~128k
shuffle rows per series; at 100× series length the kernel side takes
over and shuffle volume stays linear in the corpus.

Missing cells: the input should be FILLED first (``fill.fill_linear`` et
al.) — a NULL cell is dropped from the sums, which is the "treat as the
mean" convention after demeaning (exact only for truly-missing-at-random
holes; the docstring exists so nobody mistakes this for Lomb-Scargle).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..parallel import map_groups, route_by_length

__all__ = [
    "periodogram", "dominant_period", "coherence", "lomb_scargle",
    "spectral_residual",
]

#: series length (overlap length for :func:`coherence`) up to which the
#: SQL-exact explode plan runs; longer series take the FFT kernel
_FFT_THRESHOLD = 512


def _periodogram_explode(pts: DataFrame, key_col, loc_col, value_col) -> DataFrame:
    """SQL-exact explode plan over pre-joined (row, _n, _mu) points →
    (key, k, power, _n)."""
    two_pi = 2.0 * math.pi
    freq = pts.withColumn(
        "k", F.explode(F.sequence(F.lit(1), (F.col("_n") / 2).cast("int")))
    )
    ang = (
        F.lit(two_pi)
        * F.col("k").cast("double")
        * F.col(loc_col).cast("double")
        / F.col("_n").cast("double")
    )
    dv = F.col(value_col) - F.col("_mu")
    return (
        freq.groupBy(key_col, "k")
        .agg(
            F.sum(dv * F.cos(ang)).alias("_a"),
            F.sum(dv * F.sin(ang)).alias("_b"),
            F.first("_n").alias("_n"),
        )
        .select(
            key_col,
            "k",
            (
                (F.col("_a") * F.col("_a") + F.col("_b") * F.col("_b"))
                * 2.0
                / F.col("_n")
            ).alias("power"),
            "_n",
        )
    )


def _periodogram_fft(df: DataFrame, key_col, loc_col, value_col) -> DataFrame:
    """Grouped-map numpy kernel → (key, k, power, _n); same ordinates as
    the explode plan (same angles, same demeaning, same NULL-drop)."""
    key_field = df.schema[key_col]
    schema = (
        f"`{key_col}` {key_field.dataType.simpleString()}, "
        "k int, power double, _n long"
    )

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        m = n // 2
        if m < 1:
            return pd.DataFrame(
                {key_col: [], "k": [], "power": [], "_n": []}
            ).astype({"k": "int32", "power": "float64", "_n": "int64"})
        v = pdf[value_col].to_numpy(dtype=float)
        mask = ~np.isnan(v)
        if not mask.any():
            power = np.zeros(m)
        else:
            mu = v[mask].mean()
            dv = v[mask] - mu
            t = pdf[loc_col].to_numpy(dtype=float)[mask]
            order = np.argsort(t)
            t, dv = t[order], dv[order]
            if mask.all() and n > 1 and np.all(np.diff(t) == 1.0):
                # contiguous grid: O(n log n); |X_k| is shift-invariant so
                # a non-zero starting loc needs no re-indexing
                x = np.fft.rfft(dv)
                power = (2.0 / n) * np.abs(x[1 : m + 1]) ** 2
            else:
                # holes: direct DFT at the same angles, chunked over k so
                # the (k × t) angle matrix stays bounded in memory
                power = np.empty(m)
                w = 2.0 * np.pi / n
                for s in range(0, m, 2048):
                    kb = np.arange(s + 1, min(s + 2048, m) + 1, dtype=float)
                    ang = w * np.outer(kb, t)
                    a = (np.cos(ang) * dv).sum(axis=1)
                    b = (np.sin(ang) * dv).sum(axis=1)
                    power[s : s + kb.size] = (a * a + b * b) * 2.0 / n
        return pd.DataFrame(
            {
                key_col: pdf[key_col].iloc[0],
                "k": np.arange(1, m + 1, dtype="int32"),
                "power": power,
                "_n": np.int64(n),
            }
        )

    return map_groups(df, key_col, kernel, schema)


def _periodogram_with_n(
    df: DataFrame, key_col: str, loc_col: str, value_col: str, method: str
) -> DataFrame:
    v = F.col(value_col)
    stats = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("_n"), F.avg(v).alias("_mu")
    )
    # _n >= 2 guard: sequence(1, 0) counts DOWN in Spark (default step -1),
    # so a 1-point series would emit spurious k=1,0 rows instead of none.
    joined = df.join(stats, key_col).where(F.col("_n") >= F.lit(2))
    return route_by_length(
        joined, [key_col], _FFT_THRESHOLD,
        lambda d: _periodogram_explode(
            d.where(v.isNotNull()), key_col, loc_col, value_col
        ),
        lambda d: _periodogram_fft(
            d.drop("_n", "_mu"), key_col, loc_col, value_col
        ),
        method, sides=("explode", "fft"), n_col="_n",
    )


def periodogram(
    df: DataFrame,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
    method: str = "auto",
) -> DataFrame:
    """(key, k, power): periodogram ordinate at each Fourier frequency
    k = 1..⌊n/2⌋, where n is the series' grid length (rows per key) and
    t is the grid location — a spike at k means a cycle of period n/k
    grid steps. ``method``: "auto" (default) routes each series by length
    — explode plan for n ≤ ``_FFT_THRESHOLD``, grouped-map FFT kernel
    above it; "explode" / "fft" force one strategy (use "explode" for
    SQL-oracle replay, "fft" when every series is long)."""
    return _periodogram_with_n(
        df, key_col, loc_col, value_col, method
    ).select(key_col, "k", "power")


def dominant_period(
    df: DataFrame,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
    tie_digits: int | None = None,
    method: str = "auto",
) -> DataFrame:
    """(key, k, period, power): the argmax-power Fourier frequency per
    series and its period n/k in grid steps (ties to the LOWEST k — the
    longest period — deterministically). One aggregation over the
    periodogram via struct-max; n rides the periodogram's own aggregate
    (no second scan of ``df``).

    ``tie_digits`` ranks on ``round(power, tie_digits)`` instead of the
    raw float: near-tied ordinates whose difference is below summation-
    order noise then resolve by the deterministic lowest-k rule on every
    engine, instead of by whichever side's fp dust is larger.
    """
    per = _periodogram_with_n(
        df, key_col, loc_col, value_col, method
    )
    rank_p = (
        F.round(F.col("power"), tie_digits)
        if tie_digits is not None
        else F.col("power")
    )
    best = per.groupBy(key_col).agg(
        F.max(
            F.struct(
                rank_p.alias("rp"),
                (-F.col("k")).alias("nk"),
                F.col("power").alias("p"),
            )
        ).alias("_best"),
        F.first("_n").alias("_n"),
    )
    return best.select(
        key_col,
        (-F.col("_best.nk")).alias("k"),
        (F.col("_n").cast("double") / (-F.col("_best.nk"))).alias("period"),
        F.col("_best.p").alias("power"),
    )


def _coherence_explode(base: DataFrame) -> DataFrame:
    """SQL-exact explode plan over the joined overlap (columns _t, _x,
    _y, _mx, _my, _n) → per-frequency raw spectra (k, _n, _pxx, _pyy,
    _c, _q). O(T²/2) shuffle rows — the short-overlap branch."""
    two_pi = 2.0 * math.pi
    freq = base.withColumn(
        "k", F.explode(F.sequence(F.lit(1), (F.col("_n") / 2).cast("int")))
    )
    ang = (
        F.lit(two_pi)
        * F.col("k").cast("double")
        * F.col("_t").cast("double")
        / F.col("_n").cast("double")
    )
    dx = F.col("_x") - F.col("_mx")
    dy = F.col("_y") - F.col("_my")
    per_k = freq.groupBy("k").agg(
        F.sum(dx * F.cos(ang)).alias("_ax"),
        F.sum(dx * F.sin(ang)).alias("_bx"),
        F.sum(dy * F.cos(ang)).alias("_ay"),
        F.sum(dy * F.sin(ang)).alias("_by"),
        F.first("_n").alias("_n"),
    )
    n = F.col("_n").cast("double")
    return per_k.select(
        "k",
        "_n",
        ((F.col("_ax") ** 2 + F.col("_bx") ** 2) / n).alias("_pxx"),
        ((F.col("_ay") ** 2 + F.col("_by") ** 2) / n).alias("_pyy"),
        (
            (F.col("_ax") * F.col("_ay") + F.col("_bx") * F.col("_by")) / n
        ).alias("_c"),
        (
            (F.col("_bx") * F.col("_ay") - F.col("_ax") * F.col("_by")) / n
        ).alias("_q"),
    )


def _coherence_fft(base: DataFrame) -> DataFrame:
    """Grouped-map rfft kernel over the SAME joined overlap → identical
    (k, _n, _pxx, _pyy, _c, _q) in O(T log T): with the projection
    convention a = Re X, b = −Im X, the cross-spectrum is
    c = Re(X_x·conj(X_y))/T and q = −Im(X_x·conj(X_y))/T. The ``_t``
    index is contiguous by construction (row_number), so the rfft
    needs no gap handling; one group = the one named-pair overlap
    (bounded by construction)."""
    import pandas as pd

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("_t")
        n = len(pdf)
        half = n // 2
        if half < 1:
            return pd.DataFrame(
                columns=["k", "_n", "_pxx", "_pyy", "_c", "_q"]
            )
        dx = pdf["_x"].to_numpy(dtype=float) - pdf["_mx"].iloc[0]
        dy = pdf["_y"].to_numpy(dtype=float) - pdf["_my"].iloc[0]
        xx = np.fft.rfft(dx)[1 : half + 1]
        xy = np.fft.rfft(dy)[1 : half + 1]
        cross = xx * np.conj(xy)
        return pd.DataFrame({
            "k": np.arange(1, half + 1, dtype=np.int32),
            "_n": np.int64(n),
            "_pxx": (xx.real**2 + xx.imag**2) / n,
            "_pyy": (xy.real**2 + xy.imag**2) / n,
            "_c": cross.real / n,
            "_q": -cross.imag / n,
        })

    return base.groupBy(F.lit(1).alias("_g")).applyInPandas(
        kern,
        "k int, _n long, _pxx double, _pyy double, _c double, _q double",
    )


def coherence(
    df: DataFrame,
    key_a: str,
    key_b: str,
    smooth: int = 1,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
    method: str = "auto",
) -> DataFrame:
    """Magnitude-squared coherence between two named series over their
    non-null overlap → (k, freq, sxx, syy, coh, phase): the frequency-
    domain analog of :func:`~spark_timeseries_spark.operators.rolling
    .crosscorr` — coh(k) ∈ [0, 1] measures how linearly related the two
    series are at each frequency, phase(k) their lead/lag angle there.
    Beyond-reference.

    Definition (Priestley 1981 §9.5): demeaned DFT sums a/b per series
    at Fourier frequencies k = 1..⌊T/2⌋ over the overlap's observation
    index t = 0..T−1 (row position, so gaps don't bend the angles);
    periodogram terms Pxx = (ax²+bx²)/T, cross-spectrum real/imag
    c = (ax·ay + bx·by)/T, q = (bx·ay − ax·by)/T; then DANIELL-smoothed
    over 2·``smooth``+1 adjacent frequencies (partial windows at the
    edges — the standard modified-Daniell fallback):
    coh = (c̄² + q̄²)/(S̄xx·S̄yy), phase = atan2(q̄, c̄). Raw (smooth=0)
    coherence is identically 1 — smoothing is what makes the statistic
    informative; NULL coh where either smoothed spectrum is 0 (constant
    overlap).

    Plan (``method="auto"``, the :func:`periodogram` dual plan):
    :func:`~spark_timeseries_spark.parallel.route_by_length` over the
    overlap as one group sends T ≤ ``_FFT_THRESHOLD`` to the SQL-exact
    T/2-way explode + one groupBy(k) — all JVM, oracle-replayable — and
    longer overlaps to a grouped-map numpy ``rfft`` kernel computing
    the SAME cross-spectrum from X_x·conj(X_y) in O(T log T) — the
    O(T²) explode never ships at long-series scale. Both branches live
    in one lazy plan (no driver-side probe); "explode"/"fft" force one.
    Either way the overlap equi-join on loc,
    ONE global row_number + avg window, and the k-ordered smoothing
    window are shared (bounded by construction — a two-named-series
    overlap, the ``roll_corr`` precedent)."""
    if smooth < 0:
        raise ValueError(f"smooth must be >= 0, got {smooth}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    a = pts.where(F.col(key_col) == key_a).select(
        F.col(loc_col).alias("_l"), v.alias("_x")
    )
    b = pts.where(F.col(key_col) == key_b).select(
        F.col(loc_col).alias("_l"), v.alias("_y")
    )
    j = a.join(b, "_l")
    wall = Window.partitionBy(F.lit(1))
    ws = Window.partitionBy(F.lit(1)).orderBy("_l")
    base = (
        j.withColumn("_n", F.count(F.lit(1)).over(wall))
        .withColumn("_mx", F.avg("_x").over(wall))
        .withColumn("_my", F.avg("_y").over(wall))
        .withColumn("_t", F.row_number().over(ws) - 1)
        .where(F.col("_n") >= 2)
    )
    spec = route_by_length(
        base, [], _FFT_THRESHOLD, _coherence_explode, _coherence_fft,
        method, sides=("explode", "fft"), n_col="_n",
    )
    wd = Window.orderBy("k").rowsBetween(-smooth, smooth)
    sm = spec.select(
        "k",
        "_n",
        F.avg("_pxx").over(wd).alias("sxx"),
        F.avg("_pyy").over(wd).alias("syy"),
        F.avg("_c").over(wd).alias("_sc"),
        F.avg("_q").over(wd).alias("_sq"),
    )
    return sm.select(
        "k",
        (F.col("k").cast("double") / F.col("_n").cast("double")).alias("freq"),
        "sxx",
        "syy",
        F.try_divide(
            F.col("_sc") ** 2 + F.col("_sq") ** 2,
            F.col("sxx") * F.col("syy"),
        ).alias("coh"),
        F.atan2(F.col("_sq"), F.col("_sc")).alias("phase"),
    )


def lomb_scargle(
    df: DataFrame,
    freqs: list[float],
    key_col: str = "key",
    time_col: str = "t",
    value_col: str = "value",
) -> DataFrame:
    """Lomb-Scargle normalized periodogram per series at the given
    frequencies (cycles per ``time_col`` unit) → (key, freq, n, power).
    THE spectral estimator for IRREGULAR sampling (Lomb 1976, Scargle
    1982) — unlike :func:`periodogram` it needs no fill/grid: the
    time-shift τ (tan 2ωτ = Σsin 2ωt / Σcos 2ωt) makes the estimate
    invariant to the origin and exact for uneven t. power is the
    classic (1/2σ²)-normalized ordinate (σ² the sample variance), so
    under white noise power ~ Exp(1); NULL when the series is constant
    or has < 3 points.

    Every per-frequency quantity reduces to SUFFICIENT SUMS over the
    raw rows — Σx, Σx², Σx·cos ωt, Σx·sin ωt, Σcos ωt, Σsin ωt,
    Σcos 2ωt, Σsin 2ωt — because demeaning and the τ-rotation expand
    algebraically (angle-addition); so the whole estimator is ONE
    explode (|freqs| rows per observation) + ONE map-side-combinable
    groupBy(key, freq) + closed-form arithmetic. No window, no Python,
    no second scan; shuffle volume = keys × |freqs|, independent of
    series length."""
    if not freqs:
        raise ValueError("freqs must be non-empty")
    if any(f <= 0 for f in freqs):
        raise ValueError("frequencies must be positive")
    two_pi = 2.0 * math.pi
    v = F.col(value_col)
    pts = df.where(v.isNotNull() & F.col(time_col).isNotNull())
    fx = pts.withColumn(
        "freq", F.explode(F.array(*[F.lit(float(f)) for f in freqs]))
    )
    ang = F.lit(two_pi) * F.col("freq") * F.col(time_col).cast("double")
    g = fx.groupBy(key_col, "freq").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("_sx"),
        F.sum(v * v).alias("_sxx"),
        F.sum(v * F.cos(ang)).alias("_sxc"),
        F.sum(v * F.sin(ang)).alias("_sxs"),
        F.sum(F.cos(ang)).alias("_sc"),
        F.sum(F.sin(ang)).alias("_ss"),
        F.sum(F.cos(2.0 * ang)).alias("_sc2"),
        F.sum(F.sin(2.0 * ang)).alias("_ss2"),
    )
    n = F.col("n").cast("double")
    mean = F.col("_sx") / n
    var = (F.col("_sxx") - n * mean * mean) / (n - 1.0)
    # tan(2wt0) = Ss2/Sc2 ; we only ever need cos/sin of w*tau via
    # half-angle on atan2 — compute 2wtau once, then its halves
    wtau = F.atan2(F.col("_ss2"), F.col("_sc2")) / 2.0
    cwt, swt = F.cos(wtau), F.sin(wtau)
    cbig = F.col("_sxc") - mean * F.col("_sc")   # sum dx cos wt
    sbig = F.col("_sxs") - mean * F.col("_ss")   # sum dx sin wt
    ct = cbig * cwt + sbig * swt                 # sum dx cos w(t-tau)
    st = sbig * cwt - cbig * swt                 # sum dx sin w(t-tau)
    cc = n / 2.0 + (
        F.cos(2.0 * wtau) * F.col("_sc2") + F.sin(2.0 * wtau) * F.col("_ss2")
    ) / 2.0
    ss = n - cc
    power = F.when(
        F.col("n") >= 3,
        F.try_divide(
            F.try_divide(ct * ct, cc) + F.try_divide(st * st, ss),
            2.0 * var,
        ),
    )
    return g.select(key_col, "freq", "n", power.alias("power"))


def spectral_residual(
    df: DataFrame,
    q: int = 3,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Spectral-residual saliency map (Ren et al., KDD 2019 — the SR
    half of Microsoft's SR-CNN KPI anomaly detector) per series →
    input rows + (saliency, sal_z): points that stand out from the
    series' SPECTRAL regularity get high saliency, catching anomalies
    that z-scores miss on strongly seasonal signals (the whole cycle
    is "far from the mean"; SR whitens the cycle away first).

    Per key over a UNIFORM COMPLETE grid with a 0-BASED contiguous
    ``loc_col`` (fill first — the DFT needs every grid cell, and the
    t ↔ loc position join assumes loc = 0..n−1; NULL rows are dropped,
    which VIOLATES completeness unless already filled): X_k = DFT(x),
    L_k = ln|X_k|, AL_k = trailing-q mean of L (partial at the low-k
    edge, stated — the paper's local average of the log spectrum),
    and saliency S_t = |IDFT(e^(L_k − AL_k) · e^(iφ_k))| =
    |IDFT(e^(−AL_k) · X_k)| / n-normalized (the algebraic
    simplification e^(L−AL)/|X| = e^(−AL) avoids the explicit phase
    and its |X| = 0 hazard: a zero bin contributes 0 to the inverse
    transform regardless of g. ln is floored at 1e−300 to stay
    finite; an EXACT-zero bin still drags its neighbors' AL far
    negative and inflates their g — degenerate (noise-free
    synthetic) inputs get deterministic but meaningless saliency;
    any real signal's bins are bounded away from 0). ``sal_z`` standardizes saliency per key —
    threshold it (the paper uses τ ≈ 3).

    Plan: two explodes (t→k, k→t) + two map-side-combinable
    aggregates and one tiny k-window — the ``periodogram`` explode
    class, O(n²) rows per series, exactly SQL-replayable. Fine for
    grid-bounded diagnostic series (daily/hourly windows); the rfft
    grouped-map kernel (the ``coherence``/``periodogram`` dual-plan
    precedent) is the named upgrade path for long series."""
    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")
    two_pi = 2.0 * math.pi
    df = df.where(F.col(value_col).isNotNull())
    wk = Window.partitionBy(key_col)
    pts = df.withColumn("_n", F.count(value_col).over(wk))
    # forward DFT: X_k = a_k + i*b_k, k = 0..n-1
    fr = pts.withColumn(
        "k", F.explode(F.sequence(F.lit(0), F.col("_n").cast("int") - 1))
    )
    ang = (
        F.lit(two_pi)
        * F.col("k").cast("double")
        * F.col(loc_col).cast("double")
        / F.col("_n").cast("double")
    )
    v = F.col(value_col)
    spec = fr.groupBy(key_col, "k").agg(
        F.sum(v * F.cos(ang)).alias("_a"),
        F.sum(-v * F.sin(ang)).alias("_b"),
        F.first("_n").alias("_n"),
    )
    amp = F.sqrt(F.col("_a") * F.col("_a") + F.col("_b") * F.col("_b"))
    wq = (
        Window.partitionBy(key_col)
        .orderBy("k")
        .rowsBetween(-(q - 1), 0)
    )
    spec = spec.withColumn(
        "_l", F.log(F.greatest(amp, F.lit(1e-300)))
    ).withColumn("_g", F.exp(-F.avg("_l").over(wq)))
    # inverse DFT of g_k * X_k, magnitude
    bk = spec.withColumn(
        "t", F.explode(F.sequence(F.lit(0), F.col("_n").cast("int") - 1))
    )
    ang2 = (
        F.lit(two_pi)
        * F.col("k").cast("double")
        * F.col("t").cast("double")
        / F.col("_n").cast("double")
    )
    g, a, b = F.col("_g"), F.col("_a"), F.col("_b")
    sal = bk.groupBy(key_col, "t").agg(
        F.sum(g * (a * F.cos(ang2) - b * F.sin(ang2))).alias("_re"),
        F.sum(g * (a * F.sin(ang2) + b * F.cos(ang2))).alias("_im"),
        F.first("_n").alias("_n2"),
    )
    sal = sal.select(
        F.col(key_col).alias("_k2"),
        F.col("t"),
        (
            F.sqrt(F.col("_re") * F.col("_re") + F.col("_im") * F.col("_im"))
            / F.col("_n2").cast("double")
        ).alias("saliency"),
    )
    wz = Window.partitionBy("_k2")
    sal = sal.withColumn(
        "sal_z",
        F.try_divide(
            F.col("saliency") - F.avg("saliency").over(wz),
            F.stddev_samp("saliency").over(wz),
        ),
    )
    # join saliency back by grid POSITION (t is the 0-based rank of loc)
    wr = Window.partitionBy(key_col).orderBy(loc_col)
    base = df.withColumn("_t", F.row_number().over(wr) - 1)
    return (
        base.join(
            sal,
            (base[key_col] == sal["_k2"]) & (base["_t"] == sal["t"]),
        )
        .drop("_k2", "t", "_t")
    )


def white_noise_test(
    df: DataFrame,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
    method: str = "auto",
) -> DataFrame:
    """Bartlett's cumulative-periodogram white-noise test → one row per
    key: (key, m, ks_stat, crit_05, crit_01, white_noise_05). The
    standardized cumulative periodogram C_k = Σ_{j≤k} I_j / Σ_j I_j
    climbs the diagonal k/m under white noise (the spectrum is flat);
    ``ks_stat`` = max_k |C_k − k/m| over all m = ⌊n/2⌋ ordinates, with
    the asymptotic Kolmogorov-Smirnov thresholds 1.36/√m (5%) and
    1.63/√m (1%). A trend or any periodicity bulges C above/below the
    diagonal long before the peak itself is significant — the standard
    residual-whiteness companion to Ljung-Box (which tests the ACF side
    of the same coin).

    Plan: rides :func:`periodogram`'s one-explode/one-groupBy plan, then
    two key-partitioned windows (total + running sum) and one final
    combinable groupBy(key) — no joins, all JVM either route."""
    per = _periodogram_with_n(
        df, key_col, loc_col, value_col, method
    )
    wk = Window.partitionBy(key_col)
    wcum = (
        Window.partitionBy(key_col)
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = (
        per.withColumn("_tot", F.sum("power").over(wk))
        .withColumn("_m", F.count(F.lit(1)).over(wk))
        .withColumn(
            "_dev",
            F.abs(
                F.try_divide(F.sum("power").over(wcum), F.col("_tot"))
                - F.col("k").cast("double") / F.col("_m").cast("double")
            ),
        )
    )
    agg = d.groupBy(F.col(key_col).alias("key")).agg(
        F.first("_m").alias("m"),
        F.max("_dev").alias("ks_stat"),
    )
    rm = F.sqrt(F.col("m").cast("double"))
    return agg.select(
        "key", "m", "ks_stat",
        (F.lit(1.36) / rm).alias("crit_05"),
        (F.lit(1.63) / rm).alias("crit_01"),
        (F.col("ks_stat") < F.lit(1.36) / rm).alias("white_noise_05"),
    )


def spectral_flatness(
    df: DataFrame,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
    method: str = "auto",
) -> DataFrame:
    """Wiener spectral flatness per key → (key, m, flatness): geometric
    mean / arithmetic mean of the periodogram ordinates — 1 for a flat
    (white-noise) spectrum, → 0 as power concentrates in few
    frequencies (the audio-DSP "tonality" measure; the multiplicative
    companion of :func:`spectral_entropy`). Strict convention: any
    exactly-zero ordinate makes the geometric mean — and so the
    flatness — exactly 0; NULL only when the arithmetic mean itself is
    0 (a constant series).

    Plan: rides :func:`periodogram`'s plan + one combinable
    groupBy(key). All JVM either route."""
    per = _periodogram_with_n(
        df, key_col, loc_col, value_col, method
    )
    n_zero = F.sum(F.when(F.col("power") <= 0, 1).otherwise(0))
    gm = F.exp(F.avg(F.when(F.col("power") > 0, F.log("power"))))
    return per.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("m"),
        F.when(n_zero > 0, F.lit(0.0))
        .otherwise(F.try_divide(gm, F.avg("power")))
        .alias("flatness"),
    )
