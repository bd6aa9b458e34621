"""Per-series feature extraction: the tsfeatures-style catalog.

Beyond-reference (the reference's per-series summary stops at
``seriesStats`` — count/mean/stdev/min/max); this is the feature-vector
layer a forecasting or clustering pipeline runs over a CORPUS of series
(Hyndman et al.'s tsfeatures catalog; the subset here is the part with
exact closed forms — no optimizer, no decomposition dependency):

- ``acf1`` — lag-1 autocorrelation, the engine's per-overlap Pearson
  convention (same as :func:`operators.rolling.autocorr` at k=1).
- ``crossing_points`` — number of times the series crosses its own mean
  (structural-change proxy).
- ``stability`` / ``lumpiness`` — variance of tiled MEANS / tiled
  VARIANCES over non-overlapping tiles of ``tile`` points (level shifts
  inflate stability; variance shifts inflate lumpiness), computed over
  the Z-SCORED series — (x − mean)/sd per series — exactly as Hyndman's
  tsfeatures specifies (``lumpiness``/``stability`` scale the series
  first). Besides parity, the scaling bounds both outputs to O(1)
  magnitude, which is what makes a fixed-decimal cross-engine value
  check meaningful (the unscaled variance-of-variances of a large-level
  series reaches 1e6+, where 6 absolute decimals exceed double
  reproducibility across aggregation orders). The trailing partial tile
  is DROPPED (stated: a 3-point tail tile's variance is noise, and the
  R reference's tiling conventions differ by version — this engine pins
  complete-tiles-only). A constant series (sd = 0) z-scores to all
  zeros, so both features are exactly 0.

Plan: everything stacks on the ONE (key, loc) sort every series operator
shares — whole-series mean/lag ride a partition-wide window, the tile
aggregates are two small (key, tile) groupBys — all JVM expressions,
no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..parallel import map_groups, route_by_length

__all__ = [
    "ts_features",
    "detect_seasonality",
    "spectral_entropy",
    "hurst_rs",
    "half_life",
    "permutation_entropy",
    "interarrival_stats",
    "find_peaks",
    "threshold_runs",
    "turning_points",
    "sample_entropy",
    "hjorth_params",
    "nonlinearity_features",
    "fano_factor",
    "tod_profile",
    "newey_west",
    "dow_profile",
    "robust_location",
    "robust_scale",
    "rank_autocorr",
    "gap_outages",
    "tod_percentiles",
    "kruskal_dow",
    "acf_features",
    "seasonal_zscore",
]

#: series length up to which :func:`sample_entropy` runs the SQL-exact
#: template self-join; longer series take the in-core kernel
_SAMPEN_KERNEL_THRESHOLD = 512


def ts_features(
    df: DataFrame,
    tile: int = 10,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """→ (key, n, mean, variance, acf1, crossing_points, stability,
    lumpiness) per series. ``n`` counts non-null cells; null cells are
    skipped by every moment and excluded from tiles (tiles are formed
    over the non-null rank so a hole doesn't shift every later tile
    boundary by a fraction). Stability/lumpiness tile the z-scored
    values (tsfeatures convention — see module docstring)."""
    if tile < 2:
        raise ValueError(f"tile must be >= 2, got {tile}")
    v = F.col(value_col)
    wk = Window.partitionBy(key_col)
    ws = Window.partitionBy(key_col).orderBy(order_col)
    base = (
        df.where(v.isNotNull())
        .withColumn("_m", F.avg(v).over(wk))
        .withColumn("_sd", F.stddev_samp(v).over(wk))
        .withColumn(
            "_z",
            F.when(F.col("_sd") > 0, (v - F.col("_m")) / F.col("_sd"))
            .otherwise(F.lit(0.0)),
        )
        .withColumn("_prev", F.lag(v).over(ws))
        .withColumn("_rk", F.row_number().over(ws) - 1)
    )
    cross = F.when(
        F.col("_prev").isNotNull()
        & ((v > F.col("_m")) != (F.col("_prev") > F.col("_m"))),
        1,
    )
    # acf1 via explicit moments + try_divide rather than F.corr: ANSI mode
    # makes corr's final division THROW on a zero-variance (constant)
    # series; try_divide yields NULL there (DuckDB corr's convention too).
    # _pv masks v to the overlap rows so all three moments see exactly the
    # pairs corr would.
    pv = F.when(F.col("_prev").isNotNull(), v)
    stats = base.groupBy(key_col).agg(
        F.count(v).alias("n"),
        F.avg(v).alias("mean"),
        F.var_samp(v).alias("variance"),
        F.try_divide(
            F.covar_samp(pv, F.col("_prev")),
            F.stddev_samp(pv) * F.stddev_samp("_prev"),
        ).alias("acf1"),
        F.coalesce(F.sum(cross), F.lit(0)).alias("crossing_points"),
    )
    tiles = (
        base.withColumn("_tile", (F.col("_rk") / tile).cast("int"))
        .groupBy(key_col, "_tile")
        .agg(
            F.count(v).alias("_tn"),
            F.avg("_z").alias("_tmean"),
            F.var_samp("_z").alias("_tvar"),
        )
        .where(F.col("_tn") == tile)  # complete tiles only
        .groupBy(key_col)
        .agg(
            F.var_samp("_tmean").alias("stability"),
            F.var_samp("_tvar").alias("lumpiness"),
        )
    )
    return stats.join(tiles, key_col, "left")


def detect_seasonality(
    df: DataFrame,
    max_period: int = 24,
    min_acf: float = 0.3,
    harmonic_tol: float = 0.05,
    tie_digits: int = 6,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """ACF-based season-length detection → (key, period, acf): the lag in
    2..``max_period`` with the highest autocorrelation (the engine's
    per-overlap Pearson convention), or NULL period when no lag reaches
    ``min_acf`` (no seasonality evidence). Lag 1 is excluded — trend
    dominates it on almost any smooth series. The time-domain
    complement of :func:`~spark_timeseries_spark.operators.spectral.dominant_period`
    (spectral argmax): run both and trust agreement.

    Harmonic rule: every MULTIPLE of the true period correlates almost
    as highly as the period itself (a period-7 series has acf(14) ≈
    acf(7), and finite-sample noise decides which is a hair larger), so
    the detector returns the SMALLEST lag whose acf is within
    ``harmonic_tol`` of the maximum — which also stays correct for a
    genuine period-14 series, whose acf(7) is strongly NEGATIVE, far
    outside the tolerance. ``round(acf, tie_digits)`` keeps the max
    itself engine-deterministic. One window pass + one aggregate per
    series — all JVM."""
    if max_period < 2:
        raise ValueError(f"max_period must be >= 2, got {max_period}")
    w = Window.partitionBy(key_col).orderBy(order_col)
    lagged = df
    for k in range(2, max_period + 1):
        lagged = lagged.withColumn(f"_l{k}", F.lag(value_col, k).over(w))
    agg = lagged.groupBy(key_col).agg(
        *[
            F.corr(value_col, f"_l{k}").alias(f"_c{k}")
            for k in range(2, max_period + 1)
        ]
    )
    from ..functions import let

    cands = F.filter(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("lag"),
                    F.round(F.col(f"_c{k}"), tie_digits).alias("r"),
                    F.col(f"_c{k}").alias("acf"),
                )
                for k in range(2, max_period + 1)
            ]
        ),
        lambda x: x["acf"].isNotNull(),
    )

    def pick(arr):
        # max rounded acf, then the SMALLEST lag within harmonic_tol of it
        best_r = F.array_max(F.transform(arr, lambda x: x["r"]))

        def with_best(br):
            return F.array_min(
                F.filter(arr, lambda x: x["r"] >= br - harmonic_tol)
            )

        return let(best_r, with_best)

    best = pick(cands)
    return agg.select(
        key_col,
        F.when(best["acf"] >= min_acf, best["lag"]).alias("period"),
        F.when(best["acf"] >= min_acf, best["acf"]).alias("acf"),
    )


def spectral_entropy(
    df: DataFrame,
    method: str = "auto",
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Normalized spectral (Shannon) entropy per series → (key, entropy)
    ∈ [0, 1]: H = −Σ p̂_k ln p̂_k / ln m over the normalized periodogram
    ordinates (tsfeatures' ``entropy``) — ≈1 for white noise (flat
    spectrum, hard to forecast), →0 for a pure cycle (all power in one
    bin, easy). Composes :func:`~spark_timeseries_spark.operators.spectral.periodogram`
    (inheriting its explode/FFT auto-routing) with one per-key aggregate:
    Σ p̂ ln p̂ = (ln S − Σ p ln p / S) with S = Σ p, so no second pass.
    Degenerate series (zero total power, i.e. constant; or a single
    frequency bin) yield NULL."""
    from .spectral import periodogram

    per = periodogram(df, key_col, order_col, value_col, method)
    p = F.col("power")
    agg = per.groupBy(key_col).agg(
        F.sum(p).alias("_S"),
        F.sum(F.when(p > 0.0, p * F.log(p))).alias("_plp"),
        F.count(F.lit(1)).alias("_m"),
    )
    h = (F.log("_S") - F.col("_plp") / F.col("_S")) / F.log(
        F.col("_m").cast("double")
    )
    return agg.select(
        key_col,
        F.when((F.col("_S") > 0.0) & (F.col("_m") > 1), h).alias("entropy"),
    )


def hurst_rs(
    df: DataFrame,
    block_sizes: tuple[int, ...] = (8, 16, 32),
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Hurst exponent per series by rescaled-range (R/S) analysis
    (Hurst 1951; Mandelbrot & Wallis 1969) → (key, hurst).

    For each block size m: the non-NULL cells of a series (ordered by
    ``order_col``, 0-based positions) are tiled into ⌊n/m⌋ COMPLETE
    blocks (trailing partial tile dropped, same convention as
    :func:`ts_features`'s stability/lumpiness). Per block: R = range of
    the cumulative demeaned deviations Z_j = Σ_{i≤j}(x_i − x̄_block),
    S = population stdev of the block; blocks with S = 0 are skipped.
    log(mean R/S) is regressed on log(m) over the sizes (closed-form
    OLS slope) — H ≈ 0.5 for a random walk's increments, > 0.5 for
    persistent, < 0.5 for mean-reverting series. Series with fewer than
    two usable sizes yield NULL.

    Plan: ONE (key, loc) exchange shared with every series operator —
    positions via row_number, then per size a (key, block) window builds
    the cumulative deviation (map-side, no extra exchange because the
    block key is a function of the position), one (key, block) groupBy
    per size, one (key) groupBy for the size means, and the OLS slope is
    a closed-form per-key aggregate. All JVM expressions; the number of
    sizes is a small constant so the unioned pass is O(len(sizes) · n)
    rows.
    """
    if len(block_sizes) < 2:
        raise ValueError("need at least two block sizes for the regression")
    obs = df.where(F.col(value_col).isNotNull())
    wpos = Window.partitionBy(key_col).orderBy(order_col)
    pos = obs.withColumn("_p", F.row_number().over(wpos) - 1).select(
        key_col, "_p", F.col(value_col).alias("_v")
    )
    per_size = []
    for m in block_sizes:
        blk = pos.withColumn("_b", (F.col("_p") / m).cast("bigint"))
        gb = blk.groupBy(key_col, "_b").agg(
            F.count("_v").alias("_c"),
            F.avg("_v").alias("_mu"),
            F.stddev_pop("_v").alias("_sd"),
            F.collect_list(F.struct("_p", "_v")).alias("_cells"),
        )
        # complete blocks only; cumulative demeaned deviations as a
        # let-bound sorted-array scan (higher-order functions — stays JVM)
        cells = F.array_sort("_cells")
        zacc = F.aggregate(
            cells,
            F.struct(
                F.lit(0.0).alias("z"),
                F.lit(float("-inf")).alias("mx"),
                F.lit(float("inf")).alias("mn"),
            ),
            lambda acc, c: F.struct(
                (acc["z"] + c["_v"] - F.col("_mu")).alias("z"),
                F.greatest(acc["mx"], acc["z"] + c["_v"] - F.col("_mu")).alias("mx"),
                F.least(acc["mn"], acc["z"] + c["_v"] - F.col("_mu")).alias("mn"),
            ),
        )
        rs = (
            gb.where((F.col("_c") == m) & (F.col("_sd") > 0.0))
            .withColumn("_z", zacc)
            .select(
                key_col,
                F.lit(float(m)).alias("_m"),
                ((F.col("_z.mx") - F.col("_z.mn")) / F.col("_sd")).alias("_rs"),
            )
        )
        per_size.append(rs)
    allsz = per_size[0]
    for d in per_size[1:]:
        allsz = allsz.unionByName(d)
    means = allsz.groupBy(key_col, "_m").agg(F.avg("_rs").alias("_rsbar"))
    x = F.log("_m")
    y = F.log("_rsbar")
    reg = means.where(F.col("_rsbar") > 0.0).groupBy(key_col).agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    k = F.col("_k").cast("double")
    slope = (k * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / (
        k * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    )
    return reg.select(
        key_col, F.when(F.col("_k") >= 2, slope).alias("hurst")
    )


def half_life(
    df: DataFrame,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Mean-reversion half-life per series → (key, beta, half_life):
    OLS of Δy_t on y_{t−1} (with intercept, over consecutive non-NULL
    pairs) gives β; an AR(1) y_t = c + φ y_{t−1} + ε has φ = 1 + β, and
    the half-life of a deviation is ln(½)/ln(φ) steps (the
    Ornstein-Uhlenbeck discretization used for pairs-trading horizons).
    Non-mean-reverting fits (β ≥ 0, i.e. φ ≥ 1) or degenerate ones
    (φ ≤ 0, zero variance, < 3 pairs) yield NULL half_life; β is
    returned whenever the regression is defined.

    Plan: one lag window on the shared (key, loc) sort + one closed-form
    per-key aggregate — all JVM expressions, one exchange.
    """
    w = Window.partitionBy(key_col).orderBy(order_col)
    obs = df.where(F.col(value_col).isNotNull())
    pair = obs.withColumn("_x", F.lag(value_col).over(w)).where(
        F.col("_x").isNotNull()
    )
    dy = F.col(value_col) - F.col("_x")
    x = F.col("_x")
    agg = pair.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(dy).alias("_sy"),
        F.sum(x * dy).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    n = F.col("_n").cast("double")
    den = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    # try_divide: ANSI-safe on the degenerate (constant-x / single-pair)
    # series where the normal-equation denominator is exactly 0
    beta = F.try_divide(n * F.col("_sxy") - F.col("_sx") * F.col("_sy"), den)
    phi = beta + 1.0
    hl = F.try_divide(F.log(F.lit(0.5)), F.log(phi))
    return agg.select(
        key_col,
        F.when((F.col("_n") >= 3) & (den != 0.0), beta).alias("beta"),
        F.when(
            (F.col("_n") >= 3) & (den != 0.0) & (beta < 0.0) & (phi > 0.0), hl
        ).alias("half_life"),
    )


def permutation_entropy(
    df: DataFrame,
    m: int = 3,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Normalized permutation entropy per series (Bandt & Pompe 2002)
    → (key, n_patterns, perm_entropy) ∈ [0, 1]: Shannon entropy of the
    distribution of ordinal patterns of ``m`` consecutive non-NULL
    values, divided by ln(m!) — ≈1 for white noise, →0 for monotone or
    strongly regular dynamics. The standard model-free complexity
    measure next to :func:`spectral_entropy` (which sees periodicity;
    this sees ordinal structure and is immune to monotone transforms).

    Ordinal pattern: element i's rank = #{j : y_j < y_i} +
    #{j : y_j = y_i, j < i} (ties broken by time, the Bandt-Pompe
    convention) — pure integer comparisons, so the pattern ids are
    cross-engine exact. Series with fewer than ``m`` observations (no
    windows) yield no row; a single repeated pattern gives entropy 0.

    Plan: m−1 lead columns on the shared (key, loc) sort, an integer
    pattern id per row, one (key, id) count and one per-key entropy
    aggregate — all JVM expressions, one exchange. Only m ∈ {2, 3} are
    wired (m! patterns explode combinatorially and m=3 is the
    literature default)."""
    if m not in (2, 3):
        raise ValueError("m must be 2 or 3")
    import math

    obs = df.where(F.col(value_col).isNotNull())
    w = Window.partitionBy(key_col).orderBy(order_col)
    cols = [F.col(value_col)] + [
        F.lead(value_col, i).over(w) for i in range(1, m)
    ]
    win = obs.select(
        key_col, *[c.alias(f"_y{i}") for i, c in enumerate(cols)]
    ).where(F.col(f"_y{m-1}").isNotNull())

    def rank(i: int):
        r = F.lit(0)
        for j in range(m):
            if j == i:
                continue
            yi, yj = F.col(f"_y{i}"), F.col(f"_y{j}")
            lt = yj < yi
            tie = (yj == yi) & (F.lit(j) < F.lit(i))
            r = r + F.when(lt | tie, 1).otherwise(0)
        return r

    pid = F.lit(0)
    for i in range(m):
        pid = pid * m + rank(i)
    counts = win.select(key_col, pid.alias("_pid")).groupBy(
        key_col, "_pid"
    ).agg(F.count(F.lit(1)).alias("_c"))
    tot = Window.partitionBy(key_col)
    probs = counts.withColumn(
        "_p", F.col("_c") / F.sum("_c").over(tot)
    )
    ent = probs.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_patterns"),
        (-F.sum(F.col("_p") * F.log("_p"))
         / F.lit(math.log(math.factorial(m)))).alias("perm_entropy"),
    )
    return ent


def interarrival_stats(
    df: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-key inter-arrival-time statistics over raw (irregular) event
    stamps → (key, n_gaps, mean_gap, std_gap, min_gap, max_gap,
    burstiness): gaps in seconds between consecutive events;
    burstiness = (σ − µ)/(σ + µ) (Goh & Barabási 2008) — −1 for a
    periodic stream, 0 for Poisson, →1 for extreme bursts. The
    irregular-stream companion of :func:`ts_features` (which wants an
    aligned grid); feeds rate-limiting and bot-detection gates.

    Plan: one lag window on (key, ts) + one per-key aggregate; gaps are
    exact integer microsecond differences scaled once to seconds, so
    every statistic is replayable. Keys with < 2 events yield no row."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = (us - F.lag(us).over(w)).cast("double") / 1e6
    g = df.select(key_col, gap.alias("_g")).where(F.col("_g").isNotNull())
    agg = g.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.avg("_g").alias("mean_gap"),
        F.stddev_samp("_g").alias("std_gap"),
        F.min("_g").alias("min_gap"),
        F.max("_g").alias("max_gap"),
    )
    b = F.try_divide(
        F.col("std_gap") - F.col("mean_gap"),
        F.col("std_gap") + F.col("mean_gap"),
    )
    return agg.withColumn("burstiness", b)


def find_peaks(
    df: DataFrame,
    k: int = 1,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Local-maximum detection over each series' non-null run → the peak
    rows (key, loc, value, depth). A point is a peak iff it is STRICTLY
    greater than every one of the ``k`` observations on each side —
    plateaus are never peaks (deterministic; scipy ``find_peaks`` calls
    the same strict-both-sides rule "no plateau" with
    ``plateau_size=1``), and boundary points with fewer than ``k``
    neighbors on either side are never peaks (no one-sided edge peaks).
    ``depth`` = value − max(both neighborhoods) — the margin by which
    the peak clears its window, a cheap windowed stand-in for
    topographic prominence (documented approximation: true prominence
    walks to the nearest higher peak, which is a path problem, not a
    window one).

    Plan: ONE window pass on the shared (key, loc) sort — two bounded
    row-frame max/counts, a filter; no self-join, no Python. Output is
    the (sparse) peak set, so the operator composes as a filter."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    v = F.col(value_col)
    ws = Window.partitionBy(key_col).orderBy(order_col)
    left = ws.rowsBetween(-k, -1)
    right = ws.rowsBetween(1, k)
    out = (
        df.where(v.isNotNull())
        .withColumn("_ln", F.count(v).over(left))
        .withColumn("_lm", F.max(v).over(left))
        .withColumn("_rn", F.count(v).over(right))
        .withColumn("_rm", F.max(v).over(right))
        .where(
            (F.col("_ln") == k)
            & (F.col("_rn") == k)
            & (v > F.col("_lm"))
            & (v > F.col("_rm"))
        )
    )
    return out.select(
        key_col,
        order_col,
        value_col,
        (v - F.greatest("_lm", "_rm")).alias("depth"),
    )


def threshold_runs(
    df: DataFrame,
    threshold: float,
    min_length: int = 1,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Maximal runs of consecutive above-threshold observations per
    series (gaps-and-islands) → (key, start_loc, end_loc, length,
    max_value, sum_excess): streak/episode detection — heatwaves,
    sustained load, alert episodes — the segment-level complement of the
    pointwise :func:`~spark_timeseries_spark.operators.outliers.outliers`.
    "Consecutive" means adjacent in the series' non-null run (a NULL
    cell breaks a run — an unobserved instant is not evidence the
    exceedance persisted). ``sum_excess`` integrates value − threshold
    over the run (episode severity, not just length).

    Plan: the classic two-row-number island id (rank in the series minus
    rank among its above-threshold rows is constant exactly on each
    maximal run) — both windows share the one (key, loc) sort, then one
    (key, island) aggregate. All JVM, one exchange."""
    if min_length < 1:
        raise ValueError(f"min_length must be >= 1, got {min_length}")
    v = F.col(value_col)
    ws = Window.partitionBy(key_col).orderBy(order_col)
    # rank over ALL rows (null cells included) so a NULL keeps its slot
    # and breaks adjacency, per the contract above
    above = (
        df.withColumn("_rn", F.row_number().over(ws))
        .where(v.isNotNull() & (v > threshold))
        .withColumn("_grp", F.col("_rn") - F.row_number().over(ws))
    )
    return (
        above.groupBy(key_col, "_grp")
        .agg(
            F.min(order_col).alias("start_loc"),
            F.max(order_col).alias("end_loc"),
            F.count(F.lit(1)).alias("length"),
            F.max(v).alias("max_value"),
            F.sum(v - threshold).alias("sum_excess"),
        )
        .where(F.col("length") >= min_length)
        .drop("_grp")
    )


def turning_points(
    df: DataFrame,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Turning-points randomness test per series → (key, n, tp, expected,
    z): ``tp`` counts interior local extrema (strict peaks/troughs:
    (x_t − x_{t−1})·(x_{t+1} − x_t) < 0 — a flat step is NOT a turning
    point, the standard convention for the test), E[T] = 2(n−2)/3,
    Var[T] = (16n − 29)/90 under i.i.d., z = (T − E)/√Var (Kendall's
    classic randomness diagnostic: |z| large → too few turns (trend) or
    too many (oscillation)). NULL cells are skipped; series with n < 3
    yield NULL expected/z. One (key, loc) window pass + one aggregate —
    all JVM, O(n) per series."""
    v = F.col(value_col)
    ws = Window.partitionBy(key_col).orderBy(order_col)
    pts = df.where(v.isNotNull())
    turn = F.when(
        ((v - F.lag(v).over(ws)) * (F.lead(v).over(ws) - v)) < 0, 1
    )
    agg = pts.withColumn("_t", turn).groupBy(key_col).agg(
        F.count(v).alias("n"),
        F.coalesce(F.sum("_t"), F.lit(0)).alias("tp"),
    )
    n = F.col("n").cast("double")
    exp = F.when(F.col("n") >= 3, 2.0 * (n - 2.0) / 3.0)
    var = (16.0 * n - 29.0) / 90.0
    return agg.select(
        key_col,
        "n",
        "tp",
        exp.alias("expected"),
        F.when(
            F.col("n") >= 3,
            (F.col("tp").cast("double") - exp) / F.sqrt(var),
        ).alias("z"),
    )


def sample_entropy(
    df: DataFrame,
    m: int = 2,
    r_frac: float = 0.2,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    method: str = "auto",
) -> DataFrame:
    """Sample entropy (Richman & Moorman 2000) per series → (key, n, b,
    a, sampen): B = #template pairs (i < j) of length ``m`` within
    Chebyshev distance r, A = same at length m+1, SampEn = −ln(A/B) —
    lower = more regular/self-similar. r = ``r_frac`` · the series'
    sample std (the universal convention). Pairs use i < j (no
    self-matches, each unordered pair once — Richman-Moorman's
    convention up to the constant factor, which cancels in A/B). NULL
    cells are dropped first (templates form over the observed
    subsequence; stated, since a hole otherwise poisons m+1 windows).
    A = 0 or B = 0 → NULL sampen (undefined, the standard outcome on
    short/irregular series).

    Dual plan (the periodogram/MK precedent), routed per series by
    :func:`~spark_timeseries_spark.parallel.route_by_length` on the
    series' own count window: template self-join for n ≤
    ``_SAMPEN_KERNEL_THRESHOLD`` points (SQL-oracle-replayable; O(n²)
    shuffled pair rows per series), grouped-map numpy kernel above it
    (blocked O(n²) Chebyshev comparisons IN-CORE — the quadratic stays
    as BLAS-style flops, zero pair shuffle); "join"/"kernel" force
    one."""
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull()).select(
        key_col, F.col(order_col).alias("_l"), v.alias("_v")
    )
    wk = Window.partitionBy(key_col)
    ws = Window.partitionBy(key_col).orderBy("_l")
    base = (
        pts.withColumn("_r", r_frac * F.stddev_samp("_v").over(wk))
        .withColumn("_n", F.count(F.lit(1)).over(wk))
        .withColumn("_i", F.row_number().over(ws))
    )
    for k in range(1, m + 1):
        base = base.withColumn(f"_v{k}", F.lead("_v", k).over(ws))

    def _join_plan(src):
        # an m-template at i needs x_i..x_{i+m-1} (leads 1..m-1 non-null;
        # m = 1 templates are single points, always valid); the m+1
        # extension check happens per pair inside amatch
        tmpl = src if m == 1 else src.where(F.col(f"_v{m-1}").isNotNull())
        a_, b_ = tmpl.alias("a"), tmpl.alias("b")
        mmatch = F.lit(True)
        for k in range(m):
            ca = F.col("a._v") if k == 0 else F.col(f"a._v{k}")
            cb = F.col("b._v") if k == 0 else F.col(f"b._v{k}")
            mmatch = mmatch & (F.abs(ca - cb) <= F.col("a._r"))
        amatch = (
            mmatch
            & F.col(f"a._v{m}").isNotNull()
            & F.col(f"b._v{m}").isNotNull()
            & (F.abs(F.col(f"a._v{m}") - F.col(f"b._v{m}")) <= F.col("a._r"))
        )
        pairs = a_.join(b_, key_col).where(F.col("a._i") < F.col("b._i"))
        return pairs.groupBy(key_col).agg(
            F.max("a._n").alias("n"),
            F.sum(mmatch.cast("long")).alias("b"),
            F.sum(amatch.cast("long")).alias("a"),
        )

    def _kernel_plan(src):
        kt = src.schema[key_col].dataType.simpleString()

        def kern(pdf):
            import numpy as np
            import pandas as pd

            pdf = pdf.sort_values("_l")
            x = pdf["_v"].to_numpy(dtype=float)
            n = x.size
            rr = pdf["_r"].iloc[0]
            if n < m + 1 or rr is None or not np.isfinite(rr):
                return pd.DataFrame(
                    {key_col: [pdf[key_col].iloc[0]], "n": [n],
                     "b": [0], "a": [0]}
                )
            # n-m+1 m-templates (ALL valid ones — same population as the
            # join plan), n-m (m+1)-templates. B/A are counted in
            # ROW-BLOCKS of template starts: each ≤512-template block is
            # compared against the full template range, so peak memory
            # is block×n booleans (~512·n·3 bytes ≈ 75 MB at n = 50k),
            # never the n×n matrix — the theil_sen blocked-kernel
            # pattern, identical counts.
            nt = n - m + 1
            nt1 = n - m
            bcnt = 0
            acnt = 0
            cols = np.arange(nt)[None, :]
            for s0 in range(0, nt, 512):
                s1 = min(s0 + 512, nt)
                blk = np.ones((s1 - s0, nt), dtype=bool)
                for k in range(m):
                    blk &= (
                        np.abs(x[s0 + k : s1 + k, None] - x[None, k : k + nt])
                        <= rr
                    )
                rows = np.arange(s0, s1)[:, None]
                bcnt += int((blk & (cols > rows)).sum())
                if nt1 >= 2 and s0 < nt1:
                    r1 = min(s1, nt1)
                    ablk = blk[: r1 - s0, :nt1] & (
                        np.abs(x[s0 + m : r1 + m, None] - x[None, m : m + nt1])
                        <= rr
                    )
                    acnt += int(
                        (ablk & (cols[:, :nt1] > rows[: r1 - s0])).sum()
                    )
            return pd.DataFrame(
                {key_col: [pdf[key_col].iloc[0]], "n": [n],
                 "b": [bcnt], "a": [acnt]}
            )

        return map_groups(
            src, key_col, kern, f"`{key_col}` {kt}, n long, b long, a long"
        )

    counts = route_by_length(
        base, [key_col], _SAMPEN_KERNEL_THRESHOLD, _join_plan, _kernel_plan,
        method, sides=("join", "kernel"), n_col="_n",
    )
    # anchor on every series with ≥1 valid point (the theil_sen anchor
    # pattern): the join plan emits NO row when a series has <2 valid
    # m-templates while the kernel emits (n, 0, 0, NULL) — without the
    # anchor, row presence would depend on length-based routing.
    anchor = pts.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
    return anchor.join(counts.drop("n"), key_col, "left").select(
        key_col,
        "n",
        F.coalesce("b", F.lit(0)).alias("b"),
        F.coalesce("a", F.lit(0)).alias("a"),
        F.when(
            (F.col("a") > 0) & (F.col("b") > 0),
            -F.log(F.col("a").cast("double") / F.col("b").cast("double")),
        ).alias("sampen"),
    )


def hjorth_params(
    df: DataFrame,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Hjorth (1970) descriptors per series → (key, n, activity,
    mobility, complexity): activity = population variance of the
    signal; mobility = √(var(Δx)/var(x)) — a normalized dominant-
    frequency proxy; complexity = mobility(Δx)/mobility(x) — bandwidth
    (1 for a pure sine). The EEG-era triple that survives as a cheap
    spectral summary wherever a full periodogram is overkill.

    Variances are population (÷n) over the observed subsequence —
    computed from explicit deviations (two passes folded into one
    window + one aggregate), NOT E[x²]−μ², so constant series gate
    identically cross-engine. NULL mobility/complexity where the
    denominator variance is 0 (try_divide). One (key)-ordered lag
    window + one aggregate — all JVM, one exchange."""
    v = F.col(value_col)
    ws = Window.partitionBy(key_col).orderBy(order_col)
    wk = Window.partitionBy(key_col)
    pts = (
        df.where(v.isNotNull())
        .withColumn("_d1", v - F.lag(value_col).over(ws))
        .withColumn("_d2", F.col("_d1") - F.lag("_d1").over(ws))
        .withColumn("_mu", F.avg(value_col).over(wk))
        .withColumn("_mu1", F.avg("_d1").over(wk))
        .withColumn("_mu2", F.avg("_d2").over(wk))
    )
    dx = v - F.col("_mu")
    d1 = F.col("_d1") - F.col("_mu1")
    d2 = F.col("_d2") - F.col("_mu2")
    agg = pts.groupBy(key_col).agg(
        F.count(v).alias("n"),
        F.avg(dx * dx).alias("_v0"),
        F.avg(d1 * d1).alias("_v1"),
        F.avg(d2 * d2).alias("_v2"),
    )
    mob = F.sqrt(F.try_divide(F.col("_v1"), F.col("_v0")))
    mob1 = F.sqrt(F.try_divide(F.col("_v2"), F.col("_v1")))
    return agg.select(
        key_col,
        "n",
        F.col("_v0").alias("activity"),
        mob.alias("mobility"),
        F.try_divide(mob1, mob).alias("complexity"),
    )


def nonlinearity_features(
    df: DataFrame,
    lag: int = 1,
    bins: int = 10,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """tsfresh-convention scalar features per series → (key, n, c3,
    cid_ce, mean_abs_change, n_crossings, binned_entropy):

    - ``c3`` (Schreiber & Schmitz 1997 nonlinearity): mean of
      x_t·x_{t+lag}·x_{t+2lag} over the t where all three exist;
    - ``cid_ce`` (Batista 2014 complexity-invariant distance, no
      normalization): √Σ(x_{t+1} − x_t)²;
    - ``mean_abs_change``: mean |x_{t+1} − x_t|;
    - ``n_crossings``: crossings of the series MEAN (sign changes of
      x − x̄ between consecutive observations, zeros counted on the
      negative side — the tsfresh ``number_crossing_m`` convention);
    - ``binned_entropy``: Shannon entropy (nats) of the ``bins``-bin
      equal-width histogram over [min, max]; a constant series (zero
      range) has entropy 0 by convention.

    One ordered lag window + per-key min/max/mean window + TWO
    aggregates (the histogram needs its own groupBy over (key, bin),
    map-side combinable) — all JVM. NULL c3 when no complete triple."""
    if lag < 1:
        raise ValueError(f"lag must be >= 1, got {lag}")
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    v = F.col(value_col)
    ws = Window.partitionBy(key_col).orderBy(order_col)
    wk = Window.partitionBy(key_col)
    pts = (
        df.where(v.isNotNull())
        .withColumn("_l1", F.lead(value_col, lag).over(ws))
        .withColumn("_l2", F.lead(value_col, 2 * lag).over(ws))
        .withColumn("_nx", F.lead(value_col, 1).over(ws))
        .withColumn("_mu", F.avg(value_col).over(wk))
        .withColumn("_mn", F.min(value_col).over(wk))
        .withColumn("_mx", F.max(value_col).over(wk))
    )
    dev = v - F.col("_mu")
    ndev = F.col("_nx") - F.col("_mu")
    crossing = F.when(
        F.col("_nx").isNotNull()
        & (((dev > 0) & (ndev <= 0)) | ((dev <= 0) & (ndev > 0))),
        1,
    )
    diff = F.col("_nx") - v
    base = pts.groupBy(key_col).agg(
        F.count(v).alias("n"),
        F.avg(v * F.col("_l1") * F.col("_l2")).alias("c3"),
        F.sqrt(F.coalesce(F.sum(diff * diff), F.lit(0.0))).alias("cid_ce"),
        F.avg(F.abs(diff)).alias("mean_abs_change"),
        F.coalesce(F.sum(crossing), F.lit(0)).alias("n_crossings"),
    )
    # equal-width histogram entropy; top edge closes into the last bin
    rng = F.col("_mx") - F.col("_mn")
    bin_ = F.when(rng > 0, F.least(
        F.floor((v - F.col("_mn")) / rng * bins).cast("int"),
        F.lit(bins - 1),
    )).otherwise(F.lit(0))
    hist = (
        pts.select(key_col, bin_.alias("_bin"))
        .groupBy(key_col, "_bin")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    wkh = Window.partitionBy(key_col)
    ent = (
        hist.withColumn("_tot", F.sum("_c").over(wkh))
        .withColumn(
            "_plp",
            (F.col("_c") / F.col("_tot"))
            * F.log(F.col("_c").cast("double") / F.col("_tot")),
        )
        .groupBy(key_col)
        .agg((-F.sum("_plp")).alias("binned_entropy"))
    )
    return base.join(ent, key_col, "left").select(
        key_col, "n", "c3", "cid_ce", "mean_abs_change", "n_crossings",
        F.coalesce("binned_entropy", F.lit(0.0)).alias("binned_entropy"),
    )


def fano_factor(
    df: DataFrame,
    unit: str = "hour",
    key_col: str = "key",
    ts_col: str = "ts",
) -> DataFrame:
    """Counts-based overdispersion per key → (key, n_buckets, mean_rate,
    fano): events are bucketed by ``date_trunc(unit)`` over the key's
    OWN observation span (EMPTY buckets count 0 — omitting them biases
    every sparse stream toward Poisson), then fano = var(count)/
    mean(count) (sample variance): 1 for Poisson, > 1 bursty, < 1
    regular. The fixed-window complement of
    :func:`interarrival_stats`'s gap-based burstiness — the two
    disagree exactly when bursts cluster WITHIN windows.

    Plan: one (key, bucket) count groupBy + one per-key min/max span
    aggregate exploded into the dense bucket calendar + one left join +
    one aggregate. The explode is span/unit rows per key — bounded by
    wall-clock span, not event count, so a 100 TB stream with a 1-year
    span is ≤ 8784 hourly rows per key. NULL fano for single-bucket
    spans (sample variance undefined)."""
    bucket = F.date_trunc(unit, F.col(ts_col))
    counts = df.groupBy(
        F.col(key_col).alias("_k"), bucket.alias("_b")
    ).agg(F.count(F.lit(1)).alias("_c"))
    span = counts.groupBy("_k").agg(
        F.min("_b").alias("_h0"), F.max("_b").alias("_h1")
    )
    cal = span.select(
        "_k",
        F.explode(
            F.sequence(
                F.col("_h0"), F.col("_h1"), F.expr(f"interval 1 {unit}")
            )
        ).alias("_b"),
    )
    dense = cal.join(counts, ["_k", "_b"], "left").select(
        "_k", F.coalesce("_c", F.lit(0)).alias("_c")
    )
    return dense.groupBy("_k").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.avg("_c").alias("mean_rate"),
        F.try_divide(F.var_samp("_c"), F.avg("_c")).alias("fano"),
    ).withColumnRenamed("_k", key_col)


def tod_profile(
    df: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Time-of-day profile per series → (key, hod 0-23, n, mean, std,
    strength): the hour-of-day mean/sample-std of the raw (irregular)
    observations, plus the key-level diurnal-seasonality ``strength`` —
    the count-weighted between-hour share of total population variance,
    Σ n_h(m_h − m̄)²/N ÷ (SS/N − m̄²) ∈ [0, 1] (the eta-squared of the
    hour factor: 0 = hour explains nothing, 1 = value is a pure
    function of the hour). The calendar-seasonality diagnostic that
    needs no grid and no fill; hours with no observations emit no row.

    Plan: ONE map-side-combinable groupBy(key, hod) collecting
    sufficient sums + one key-partitioned window to fold them into the
    variance decomposition — no joins, no second scan, all JVM."""
    v = F.col(value_col)
    d = df.where(v.isNotNull()).select(
        key_col, F.hour(F.col(ts_col)).alias("hod"), value_col
    )
    g = d.groupBy(key_col, "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("_s"),
        F.sum(v * v).alias("_ss"),
    )
    wk = Window.partitionBy(key_col)
    nh = F.col("n").cast("double")
    tot_n = F.sum("n").over(wk).cast("double")
    tot_s = F.sum("_s").over(wk)
    tot_ss = F.sum("_ss").over(wk)
    mean_h = F.col("_s") / nh
    grand = tot_s / tot_n
    between = F.sum(
        F.col("n").cast("double")
        * (F.col("_s") / F.col("n").cast("double") - tot_s / tot_n)
        * (F.col("_s") / F.col("n").cast("double") - tot_s / tot_n)
    ).over(wk) / tot_n
    total_var = tot_ss / tot_n - grand * grand
    std_h = F.when(
        F.col("n") >= 2,
        F.sqrt(
            F.greatest(
                F.lit(0.0),
                (F.col("_ss") - nh * mean_h * mean_h) / (nh - 1.0),
            )
        ),
    )
    return g.select(
        key_col,
        "hod",
        "n",
        mean_h.alias("mean"),
        std_h.alias("std"),
        F.try_divide(between, total_var).alias("strength"),
    )


def newey_west(
    df: DataFrame,
    lags: int = 5,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Autocorrelation-robust mean inference per series → (key, n,
    mean, nw_var, nw_se, t_stat): the Newey-West (1987) HAC long-run
    variance S = γ₀ + 2·Σ_{j=1..L} (1 − j/(L+1))·γ_j with
    γ_j = (1/n)Σ(x_t − x̄)(x_{t−j} − x̄), se = √(S/n), t = mean/se —
    the CORRECT uncertainty for a serially-correlated series mean,
    where the naive se = σ/√n is (badly) overconfident exactly when
    time series need it most. NULL se on a constant series or n ≤ L
    (try_divide / gated).

    Plan: one key window for the mean, one lag window fanning out L
    lag columns on the same sort, ONE map-side-combinable groupBy —
    no joins, all JVM; L is a small constant so the fan-out is L
    narrow column expressions, not L passes."""
    if lags < 1:
        raise ValueError(f"lags must be >= 1, got {lags}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    wk = Window.partitionBy(key_col)
    ws = Window.partitionBy(key_col).orderBy(loc_col)
    d = pts.withColumn("_mu", F.avg(value_col).over(wk)).withColumn(
        "_dx", v - F.col("_mu")
    )
    for j in range(1, lags + 1):
        d = d.withColumn(f"_dxl{j}", F.lag("_dx", j).over(ws))
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.first("_mu").alias("mean"),
        F.sum(F.col("_dx") * F.col("_dx")).alias("_g0"),
    ]
    for j in range(1, lags + 1):
        aggs.append(
            F.sum(F.col("_dx") * F.col(f"_dxl{j}")).alias(f"_g{j}")
        )
    g = d.groupBy(key_col).agg(*aggs)
    n = F.col("n").cast("double")
    s = F.col("_g0") / n
    for j in range(1, lags + 1):
        w_j = 1.0 - j / (lags + 1.0)
        s = s + 2.0 * w_j * (F.coalesce(F.col(f"_g{j}"), F.lit(0.0)) / n)
    nw_var = F.when(F.col("n") > lags, F.greatest(F.lit(0.0), s))
    nw_se = F.sqrt(F.try_divide(nw_var, n))
    return g.select(
        key_col, "n", "mean",
        nw_var.alias("nw_var"),
        nw_se.alias("nw_se"),
        F.try_divide(F.col("mean"), nw_se).alias("t_stat"),
    )


def dow_profile(
    df: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Day-of-week profile per series → (key, dow 1-7 Sunday-first —
    Spark's ``dayofweek`` convention — n, mean, std, strength): the
    weekly companion of :func:`tod_profile`, same count-weighted
    eta-squared decomposition (how much of the variance the weekday
    explains). Same single-groupBy + one-key-window plan."""
    v = F.col(value_col)
    d = df.where(v.isNotNull()).select(
        key_col, F.dayofweek(F.col(ts_col)).alias("dow"), value_col
    )
    g = d.groupBy(key_col, "dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("_s"),
        F.sum(v * v).alias("_ss"),
    )
    wk = Window.partitionBy(key_col)
    nh = F.col("n").cast("double")
    tot_n = F.sum("n").over(wk).cast("double")
    tot_s = F.sum("_s").over(wk)
    tot_ss = F.sum("_ss").over(wk)
    mean_h = F.col("_s") / nh
    grand = tot_s / tot_n
    between = F.sum(
        F.col("n").cast("double")
        * (F.col("_s") / F.col("n").cast("double") - tot_s / tot_n)
        * (F.col("_s") / F.col("n").cast("double") - tot_s / tot_n)
    ).over(wk) / tot_n
    total_var = tot_ss / tot_n - grand * grand
    std_h = F.when(
        F.col("n") >= 2,
        F.sqrt(
            F.greatest(
                F.lit(0.0),
                (F.col("_ss") - nh * mean_h * mean_h) / (nh - 1.0),
            )
        ),
    )
    return g.select(
        key_col, "dow", "n",
        mean_h.alias("mean"),
        std_h.alias("std"),
        F.try_divide(between, total_var).alias("strength"),
    )


def robust_location(
    df: DataFrame,
    trim: float = 0.1,
    key_col: str = "key",
    value_col: str = "value",
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Robust location estimates per series → (key, n, mean, median,
    trimmed_mean, winsorized_mean): the ``trim``-fraction symmetric
    trimmed mean (drop values outside the [trim, 1−trim] quantiles)
    and winsorized mean (CLAMP to those quantiles instead) — the
    outlier-resistant levels every reporting pipeline wants next to
    the raw mean. Values exactly AT a bound count as inside (≥/≤,
    stated).

    Plans (the ``embedding_dim_stats`` exact/sketch precedent):

    - ``exact=True`` (default — the oracle-replayable form): ONE
      groupBy computing interpolated-percentile bounds (SQL
      percentile_cont convention) + the trimmed/winsorized folds over
      the aggregate's own value list. The list is bounded by the same
      per-series buffer the exact ``percentile`` aggregate already
      holds (the reference's in-core-series envelope) — correct for
      diagnostics and oracle checks, a buffer hazard on a giant single
      series.
    - ``exact=False`` — the 100 TB path: bounds from mergeable
      ``approx_percentile`` (KLL-style, ~1/``accuracy`` relative rank
      error, bounded memory), then conditional sums against the
      joined-back bounds — two map-side-combinable aggregates + one
      co-partitioned self-join on the key, NO value buffer anywhere.
      Bound values are actual data values (sketch convention), so the
      means differ from exact by at most the mass within the rank-
      error band at each tail (error-envelope-tested)."""
    if not 0.0 < trim < 0.5:
        raise ValueError(f"trim must be in (0, 0.5), got {trim}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    if not exact:
        acc = F.lit(int(accuracy))
        bounds = pts.groupBy(key_col).agg(
            F.approx_percentile(v, F.lit(float(trim)), acc).alias("_lo"),
            F.approx_percentile(
                v, F.lit(1.0 - float(trim)), acc
            ).alias("_hi"),
            F.approx_percentile(v, F.lit(0.5), acc).alias("_med"),
        )
        d = pts.join(bounds, key_col)
        inside = (v >= F.col("_lo")) & (v <= F.col("_hi"))
        clamped = F.greatest(
            F.col("_lo"), F.least(F.col("_hi"), v)
        )
        return d.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(v).alias("mean"),
            F.min("_med").alias("median"),
            F.try_divide(
                F.sum(F.when(inside, v)),
                F.sum(F.when(inside, 1).otherwise(0)).cast("double"),
            ).alias("trimmed_mean"),
            F.avg(clamped).alias("winsorized_mean"),
        )
    lo = F.expr(f"percentile({value_col}, {trim!r})")
    hi = F.expr(f"percentile({value_col}, {1.0 - trim!r})")
    g = pts.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(v).alias("mean"),
        F.expr(f"percentile({value_col}, 0.5)").alias("median"),
        lo.alias("_lo"),
        hi.alias("_hi"),
        F.collect_list(v).alias("_vals"),
    )
    # trimmed / winsorized from the bounds — computed over the SAME
    # aggregate's value list (bounded: one series in one aggregation
    # buffer is the reference's own in-core envelope; the
    # percentile() aggregate above already holds it)
    inside = F.filter(
        F.col("_vals"), lambda x: (x >= F.col("_lo")) & (x <= F.col("_hi"))
    )
    clamped = F.transform(
        F.col("_vals"),
        lambda x: F.greatest(F.col("_lo"), F.least(F.col("_hi"), x)),
    )
    tmean = F.try_divide(
        F.aggregate(inside, F.lit(0.0), lambda a, x: a + x),
        F.size(inside).cast("double"),
    )
    wmean = F.try_divide(
        F.aggregate(clamped, F.lit(0.0), lambda a, x: a + x),
        F.size(clamped).cast("double"),
    )
    return g.select(
        key_col, "n", "mean", "median",
        tmean.alias("trimmed_mean"),
        wmean.alias("winsorized_mean"),
    )


def rank_autocorr(
    df: DataFrame,
    lag: int = 1,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Series-wise Spearman autocorrelation at the given lag → (key,
    n_pairs, rho): Pearson correlation between each observation's
    mid-rank (computed once over the whole series) and the mid-rank
    ``lag`` observations earlier — the outlier-robust companion of
    :func:`~spark_timeseries_spark.operators.rolling.autocorr`
    (a monotone trend scores near 1 regardless of spikes). NULL on
    constant series or < 2 pairs.

    Plan: one rank window + one tie-count window + one lag on the same
    key sort, one aggregate — one exchange, all JVM."""
    if lag < 1:
        raise ValueError(f"lag must be >= 1, got {lag}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    wr = Window.partitionBy(key_col).orderBy(value_col)
    wt = Window.partitionBy(key_col, value_col)
    ws = Window.partitionBy(key_col).orderBy(loc_col)
    d = pts.withColumn(
        "_r",
        F.rank().over(wr) + (F.count(F.lit(1)).over(wt) - 1) / 2.0,
    ).withColumn("_pr", F.lag("_r", lag).over(ws))
    d = d.where(F.col("_pr").isNotNull())
    return d.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.try_divide(
            F.covar_samp("_r", "_pr"),
            F.stddev_samp("_r") * F.stddev_samp("_pr"),
        ).alias("rho"),
    )


def robust_scale(
    df: DataFrame,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Robust scale estimates per series → (key, n, median, mad, iqr,
    vrange): the dispersion companion of :func:`robust_location` —
    ``mad`` (median absolute deviation from the median, the 50%-
    breakdown scale; multiply by 1.4826 for the Gaussian-consistent σ̂,
    left to the caller), ``iqr`` (q75 − q25) and ``vrange`` (max −
    min, the 0%-breakdown reference point). All quantiles use the
    linear-interpolation convention (SQL percentile_cont). NULL mad/
    iqr degeneracies don't arise (percentile of ≥ 1 value is defined);
    a 1-point series yields mad = iqr = vrange = 0.

    Plan: the MAD needs the median BEFORE the deviation pass — two
    map-side-combinable groupBys + one co-partitioned join on the key
    (the ``robust_location`` sketch-path shape); no window, no value
    buffer beyond the exact-percentile aggregate's own."""
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    base = pts.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"percentile({value_col}, 0.5)").alias("median"),
        (
            F.expr(f"percentile({value_col}, 0.75)")
            - F.expr(f"percentile({value_col}, 0.25)")
        ).alias("iqr"),
        (F.max(v) - F.min(v)).alias("vrange"),
    )
    d = pts.join(base.select(key_col, "median"), key_col)
    mad = d.groupBy(key_col).agg(
        F.expr(f"percentile(abs({value_col} - median), 0.5)").alias("mad")
    )
    return base.join(mad, key_col).select(
        key_col, "n", "median", "mad", "iqr", "vrange"
    )


def gap_outages(
    df: DataFrame,
    mult: float = 5.0,
    key_col: str = "key",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-key data-outage profile over raw event stamps → (key,
    n_gaps, median_gap, p95_gap, max_gap, n_outages, outage_seconds):
    gaps in seconds between consecutive events (the
    :func:`interarrival_stats` convention — exact integer microsecond
    differences scaled once); an OUTAGE is a gap exceeding ``mult`` ×
    the key's own median gap — the scale-free "did the feed stop"
    detector (a fixed threshold can't serve both a 1 Hz and a daily
    stream). ``outage_seconds`` totals the outage gaps' excess over
    the median (time unexplained by normal cadence). Keys with < 2
    events yield no row.

    Plan: one lag window + one quantile aggregate, join the per-key
    median back (co-partitioned on the key), one conditional-sum
    aggregate — the :func:`robust_scale` two-pass shape; no value
    buffer beyond the exact percentile's own."""
    if mult <= 1.0:
        raise ValueError(f"mult must be > 1, got {mult}")
    w = Window.partitionBy(key_col).orderBy(ts_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = (us - F.lag(us).over(w)).cast("double") / 1e6
    g = df.select(key_col, gap.alias("_g")).where(F.col("_g").isNotNull())
    base = g.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.expr("percentile(_g, 0.5)").alias("median_gap"),
        F.expr("percentile(_g, 0.95)").alias("p95_gap"),
        F.max("_g").alias("max_gap"),
    )
    d = g.join(base.select(key_col, "median_gap"), key_col)
    is_out = F.col("_g") > mult * F.col("median_gap")
    outs = d.groupBy(key_col).agg(
        F.sum(is_out.cast("long")).alias("n_outages"),
        F.coalesce(
            F.sum(F.when(is_out, F.col("_g") - F.col("median_gap"))),
            F.lit(0.0),
        ).alias("outage_seconds"),
    )
    return base.join(outs, key_col).select(
        key_col, "n_gaps", "median_gap", "p95_gap", "max_gap",
        "n_outages", "outage_seconds",
    )


def tod_percentiles(
    df: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Time-of-day percentile envelope per series → (key, hour, n, p25,
    p50, p75): the seasonal band every "is now normal for 3 AM?"
    monitoring check draws — the quantile companion of
    :func:`tod_profile` (which summarizes mean/σ and diurnal strength;
    quartiles survive the heavy-tailed metrics that inflate a mean
    band). Interpolated percentiles (SQL percentile_cont convention);
    NULL values skipped; hours with no observations emit no row.

    Plan: ONE map-side-combinable groupBy(key, hour) with exact
    percentile aggregates — 24 rows per key out, no window, no join."""
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    return (
        pts.withColumn("hour", F.hour(ts_col).cast("int"))
        .groupBy(key_col, "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"percentile({value_col}, 0.25)").alias("p25"),
            F.expr(f"percentile({value_col}, 0.5)").alias("p50"),
            F.expr(f"percentile({value_col}, 0.75)").alias("p75"),
        )
    )


def kruskal_dow(
    df: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Kruskal-Wallis day-of-week test per series → (key, n, n_groups,
    h, h_adj): does the value's DISTRIBUTION differ across weekdays?
    The rank-based (outlier-proof) companion of :func:`dow_profile`'s
    eta²: H = 12/(N(N+1))·Σ nᵢ·r̄ᵢ² − 3(N+1) over mid-ranks of the
    whole series, ``h_adj`` = H / (1 − Σ(t³−t)/(N³−N)) the tie-
    corrected statistic (Kruskal & Wallis 1952; compare to χ² with
    n_groups − 1 df downstream). NULL h_adj when every value is tied
    (the correction denominator hits 0 — no ordering information).

    Plan: one rank window + one tie-count window over the key
    partition, one (key, dow) aggregate, one key aggregate — all JVM,
    no Python, no join."""
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    wr = Window.partitionBy(key_col).orderBy(value_col)
    wt = Window.partitionBy(key_col, value_col)
    d = pts.select(
        F.col(key_col).alias("_k"),
        F.dayofweek(ts_col).alias("_dow"),
        (
            F.rank().over(wr)
            + (F.count(F.lit(1)).over(wt) - 1) / 2.0
        ).alias("_r"),
        F.count(F.lit(1)).over(wt).alias("_t"),
    )
    g = d.groupBy("_k", "_dow").agg(
        F.count(F.lit(1)).alias("_ni"),
        F.sum("_r").alias("_sr"),
        # tie sizes repeat on every member row: summing t^2 - 1 over
        # rows equals sum over tie-groups of t*(t^2 - 1) = t^3 - t
        F.sum(F.col("_t") * F.col("_t") - 1).alias("_tc"),
    )
    nn = F.col("n").cast("double")
    agg = g.groupBy(F.col("_k").alias(key_col)).agg(
        F.sum("_ni").alias("n"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(
            F.col("_sr") * F.col("_sr") / F.col("_ni").cast("double")
        ).alias("_s2"),
        F.sum("_tc").alias("_tsum"),
    )
    h = 12.0 / (nn * (nn + 1.0)) * F.col("_s2") - 3.0 * (nn + 1.0)
    corr = 1.0 - F.col("_tsum").cast("double") / (nn * nn * nn - nn)
    return agg.select(
        key_col, "n", "n_groups",
        h.alias("h"),
        F.try_divide(h, corr).alias("h_adj"),
    )


def acf_features(
    df: DataFrame,
    max_lag: int = 10,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """ACF summary features per series (Hyndman tsfeatures'
    ``acf_features`` members with exact closed forms) → (key, n, acf1,
    sum_sq_acf, first_neg_lag): lag-k autocorrelations for k =
    1..``max_lag`` under the engine's per-overlap Pearson convention
    (the :func:`detect_seasonality` lag block), ``sum_sq_acf`` = Σ
    acf_k² over the defined lags (total short-memory strength),
    ``first_neg_lag`` = the smallest lag with acf < 0 (the classic
    cycle-length / differencing heuristic; NULL when no lag goes
    negative within ``max_lag``). NULL-acf lags (constant overlap,
    overlap < 2) drop out of the sum and the scan.

    Plan: ``max_lag`` lag columns on ONE (key, order) sort, one
    aggregate, array ops on the k-element result — all JVM."""
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    w = Window.partitionBy(key_col).orderBy(order_col)
    lagged = pts
    for k in range(1, max_lag + 1):
        lagged = lagged.withColumn(f"_l{k}", F.lag(value_col, k).over(w))
    aggs = [F.count(v).alias("n")]
    for k in range(1, max_lag + 1):
        pv = F.when(F.col(f"_l{k}").isNotNull(), v)
        aggs.append(
            F.try_divide(
                F.covar_samp(pv, F.col(f"_l{k}")),
                F.stddev_samp(pv) * F.stddev_samp(f"_l{k}"),
            ).alias(f"_c{k}")
        )
    agg = lagged.groupBy(key_col).agg(*aggs)
    arr = F.array(
        *[
            F.struct(
                F.lit(k).alias("lag"), F.col(f"_c{k}").alias("acf")
            )
            for k in range(1, max_lag + 1)
        ]
    )
    defined = F.filter(arr, lambda x: x["acf"].isNotNull())
    ssq = F.aggregate(
        defined, F.lit(0.0), lambda a, x: a + x["acf"] * x["acf"]
    )
    neg = F.filter(defined, lambda x: x["acf"] < 0)
    first_neg = F.when(
        F.size(neg) > 0, F.element_at(neg, 1)["lag"]
    ).cast("int")
    return agg.select(
        key_col, "n",
        F.col("_c1").alias("acf1"),
        ssq.alias("sum_sq_acf"),
        first_neg.alias("first_neg_lag"),
    )


def seasonal_zscore(
    df: DataFrame,
    unit: str = "hour",
    thresh: float = 3.0,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Seasonality-adjusted anomaly score per observation → input
    non-null rows + ``pos`` (the seasonal position: hour-of-day 0-23,
    or weekday in the SQL ``dayofweek`` convention — 1 = Sunday .. 7 =
    Saturday, not ISO), ``z`` ((value − that position's own mean) / its own
    sample σ — each observation scored against its SEASONAL PEER GROUP
    within the same key, so a 3 AM spike is judged against 3 AMs, not
    the whole day), and ``anomaly`` (|z| > ``thresh``; NULL z/anomaly
    when the peer group is constant or a singleton — try_divide). The
    per-point companion of :func:`tod_profile`/:func:`tod_percentiles`
    (which profile the groups; this flags the points).

    Plan: ONE (key, pos)-partitioned window pass — no joins, no
    second scan, all JVM."""
    if unit not in ("hour", "dow"):
        raise ValueError(f"unit must be hour|dow, got {unit}")
    if thresh <= 0:
        raise ValueError(f"thresh must be positive, got {thresh}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    pos = (
        F.hour(ts_col) if unit == "hour" else F.dayofweek(ts_col)
    ).cast("int")
    d = pts.withColumn("pos", pos)
    wn = Window.partitionBy(key_col, "pos")
    z = F.try_divide(
        v - F.avg(value_col).over(wn),
        F.stddev_samp(value_col).over(wn),
    )
    d = d.withColumn("z", z)
    return d.withColumn(
        "anomaly",
        F.when(F.col("z").isNotNull(), F.abs(F.col("z")) > thresh),
    )


def transition_entropy(
    df: DataFrame,
    bins: int = 4,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """First-order predictability of a series' discretized dynamics →
    one row per key: (key, bins, n_trans, h_marginal, h_cond,
    predictability). Values are equal-frequency binned into ``bins``
    symbols (ntile over (value, loc) order — the loc tie-break makes
    the binning deterministic; ties CAN split across adjacent bins,
    the standard ntile trade), consecutive symbol pairs counted, and

    - ``h_marginal`` = H(Xₜ) of the FROM-state distribution (bits),
    - ``h_cond`` = H(Xₜ₊₁ | Xₜ) — the empirical first-order entropy
      rate (Shannon 1948; Cover & Thomas ch. 4),
    - ``predictability`` = 1 − h_cond/h_marginal — ≈ 0 for an i.i.d.
      sequence (knowing today tells nothing), → 1 for deterministic
      cycling; NULL when h_marginal = 0 (every transition starts in
      one bin — try_divide). Slightly negative values are possible:
      the entropy inequality bounds h_cond by H(Xₜ₊₁), while the
      denominator is the FROM-state entropy H(Xₜ) — the two marginals
      differ by one boundary sample.

    The distribution-free companion of :func:`~.rolling.autocorr`
    (linear memory) and :func:`permutation_entropy` (ordinal
    complexity): this one measures MARKOV memory on the value levels.

    Plan: one rank window + one lag window on the same key sort, one
    (key, from, to) count, two partition sums, one key aggregate —
    all JVM, no join, no Python."""
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    wb = Window.partitionBy(key_col).orderBy(value_col, loc_col)
    ws = Window.partitionBy(key_col).orderBy(loc_col)
    d = pts.select(
        F.col(key_col).alias("_k"),
        F.col(loc_col).alias("_l"),
        F.ntile(bins).over(wb).alias("_s"),
    ).select(
        "_k", F.col("_s"), F.lag("_s").over(
            Window.partitionBy("_k").orderBy("_l")
        ).alias("_p"),
    ).where(F.col("_p").isNotNull())
    g = d.groupBy("_k", "_p", "_s").agg(F.count(F.lit(1)).alias("_c"))
    wk = Window.partitionBy("_k")
    wi = Window.partitionBy("_k", "_p")
    g = g.withColumn("_n", F.sum("_c").over(wk)).withColumn(
        "_ni", F.sum("_c").over(wi)
    )
    ln2 = 0.6931471805599453
    c = F.col("_c").cast("double")
    ni = F.col("_ni").cast("double")
    n = F.col("_n").cast("double")
    agg = g.groupBy(F.col("_k").alias(key_col)).agg(
        F.max("_n").alias("n_trans"),
        (-F.sum(c * (F.log(c) - F.log(ni)))
         / F.max("_n").cast("double") / ln2).alias("h_cond"),
        (-F.sum(c * (F.log(ni) - F.log(n)))
         / F.max("_n").cast("double") / ln2).alias("h_marginal"),
    )
    return agg.select(
        key_col,
        F.lit(bins).alias("bins"),
        "n_trans",
        "h_marginal",
        "h_cond",
        (1.0 - F.try_divide(F.col("h_cond"), F.col("h_marginal"))).alias(
            "predictability"
        ),
    )


def powerlaw_alpha(
    df: DataFrame,
    tail_frac: float = 0.1,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Continuous power-law tail exponent per series → one row per key
    (key, xmin, n_tail, alpha, se): the Clauset-Shalizi-Newman (2009)
    MLE α̂ = 1 + n/Σ ln(xᵢ/x_min) over the tail xᵢ ≥ x_min, with
    x_min set empirically at the (1 − tail_frac) EXACT percentile of
    the series' POSITIVE values (the estimator needs ln x; zeros and
    negatives are excluded, stated — CSN's own xmin-scan is a model-
    selection loop out of scope here) and se = (α̂ − 1)/√n the
    asymptotic standard error. Heavy tails (session lengths, document
    sizes, user activity) are the regime where mean/stddev thinking
    fails; α ≤ 2 means the MEAN itself diverges, α ≤ 3 the variance.
    NULL alpha when the whole tail sits exactly at x_min (Σ ln = 0 —
    try_divide).

    Plan: one exact-percentile window per key + ONE conditional-sum
    aggregate — all JVM, no join, linear."""
    if not 0.0 < tail_frac < 1.0:
        raise ValueError(f"tail_frac must be in (0, 1), got {tail_frac}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull() & (v > 0))
    wk = Window.partitionBy(key_col)
    q = 1.0 - tail_frac
    d = pts.withColumn(
        "_xmin", F.expr(f"percentile({value_col}, {q!r})").over(wk)
    )
    tail = v >= F.col("_xmin")
    agg = d.groupBy(key_col).agg(
        F.first("_xmin").alias("xmin"),
        F.sum(tail.cast("long")).alias("n_tail"),
        F.sum(F.when(tail, F.log(v / F.col("_xmin")))).alias("_lsum"),
    )
    alpha = 1.0 + F.try_divide(
        F.col("n_tail").cast("double"), F.col("_lsum")
    )
    return agg.select(
        key_col,
        "xmin",
        "n_tail",
        alpha.alias("alpha"),
        ((alpha - 1.0) / F.sqrt(F.col("n_tail").cast("double"))).alias(
            "se"
        ),
    )


def record_stats(
    df: DataFrame,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Running-record analysis per series → one row per key: (key, n,
    n_records, expected_records, record_ratio, last_record_loc). A
    RECORD is an observation strictly above every earlier one (the
    first observation counts). For an i.i.d. exchangeable series the
    k-th observation is a record with probability exactly 1/k, so
    E[#records] = H_n (the harmonic number) ≈ ln n — record_ratio =
    n_records/H_n ≫ 1 exposes trending series and ≪ 1 front-loaded
    ones, a distribution-free trend diagnostic (Glick 1978, "Breaking
    records and breaking boards") complementing :func:`mann_kendall`
    (which scores ALL pairs, not just maxima). Ties do NOT break a
    record (strictly greater required, stated).

    H_n needs no closed form or explode: Σ 1/rowindex over the key's
    own rows IS H_n — one extra term in the same aggregate.

    Plan: one (key, loc) window pass (running max + row number share
    the sort) + ONE aggregate — all JVM, no join, linear."""
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    ws = Window.partitionBy(key_col).orderBy(loc_col)
    prev_max = F.max(value_col).over(
        ws.rowsBetween(Window.unboundedPreceding, -1)
    )
    rec = prev_max.isNull() | (v > prev_max)
    d = pts.select(
        F.col(key_col),
        F.col(loc_col).alias("_l"),
        rec.alias("_rec"),
        (1.0 / F.row_number().over(ws).cast("double")).alias("_h"),
    )
    agg = d.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_rec").cast("long")).alias("n_records"),
        F.sum("_h").alias("expected_records"),
        F.max(F.when(F.col("_rec"), F.col("_l"))).alias(
            "last_record_loc"
        ),
    )
    return agg.select(
        key_col,
        "n",
        "n_records",
        "expected_records",
        F.try_divide(
            F.col("n_records").cast("double"), F.col("expected_records")
        ).alias("record_ratio"),
        "last_record_loc",
    )


def allan_variance(
    df: DataFrame,
    taus: tuple[int, ...] = (2, 4, 8),
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Allan variance per series and averaging scale → one row per
    (key, tau): (key, tau, n_blocks, n_pairs, avar, adev). The series
    is cut into non-overlapping blocks of tau consecutive grid steps
    (block = ⌊loc/tau⌋ — a UNIFORM integer grid is assumed, fill
    first); only COMPLETE blocks count (tau values present, stated);
    σ²_A(τ) = ½·mean((m̄ᵢ₊₁ − m̄ᵢ)²) over ADJACENT complete blocks
    (a gap breaks adjacency and drops the pair, not the blocks). The
    clock-stability workhorse (Allan 1966): white noise falls as 1/τ,
    random walk RISES with τ, flicker floors — reading avar across
    taus classifies the noise regime where a single variance number
    can't. NULL avar when no adjacent pair exists.

    Plan: one |taus|-way explode + one (key, tau, block) aggregate +
    one lag window + one (key, tau) aggregate — all JVM, map-side
    combinable, no join."""
    ts = sorted(set(int(t) for t in taus))
    if not ts or ts[0] < 2:
        raise ValueError(f"taus must all be >= 2, got {taus}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    e = pts.withColumn(
        "tau", F.explode(F.array(*[F.lit(t) for t in ts]))
    ).withColumn(
        "_blk", F.floor(F.col(loc_col) / F.col("tau"))
    )
    g = e.groupBy(key_col, "tau", "_blk").agg(
        F.count(F.lit(1)).alias("_c"), F.avg(value_col).alias("_m")
    ).where(F.col("_c") == F.col("tau"))
    ws = Window.partitionBy(key_col, "tau").orderBy("_blk")
    d = g.withColumn("_pm", F.lag("_m").over(ws)).withColumn(
        "_pb", F.lag("_blk").over(ws)
    )
    adj = F.col("_pb") == F.col("_blk") - 1
    diff2 = F.when(
        adj, (F.col("_m") - F.col("_pm")) * (F.col("_m") - F.col("_pm"))
    )
    agg = d.groupBy(key_col, "tau").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.count(diff2).alias("n_pairs"),
        (F.avg(diff2) / 2.0).alias("avar"),
    )
    return agg.select(
        key_col, "tau", "n_blocks", "n_pairs", "avar",
        F.sqrt(F.col("avar")).alias("adev"),
    )


def circadian_stats(
    df: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
) -> DataFrame:
    """Circular statistics of WHEN a series' events happen → one row
    per key: (key, n, mean_hour, resultant, circ_var, peak_ratio).
    Each event's clock time maps to an angle θ = 2π·(sec of day)/86400;
    mean_hour is the CIRCULAR mean direction in hours [0, 24) —
    atan2(Σsin θ, Σcos θ), immune to the midnight wrap that breaks a
    plain avg(hour) (events at 23:00 and 01:00 average to midnight,
    not noon); resultant R = |Σe^(iθ)|/n ∈ [0, 1] measures
    concentration (0 = activity uniform around the clock, 1 = all at
    one instant — Fisher 1993 circular statistics), circ_var = 1 − R;
    peak_ratio = the busiest hour-of-day's share of events × 24 (1 =
    flat, 24 = everything in one hour; count ties resolve to the
    LATEST hour — struct-max, deterministic) as the coarse histogram
    companion. The circular complement of :func:`tod_profile`'s
    per-hour table: one row answers "how diurnal is this key".

    Plan: one trig aggregate + one (key, hour) count + one struct-max
    — all JVM, two map-side-combinable exchanges, no join with the
    hour table (it rides the same groupBy)."""
    two_pi = 6.283185307179586
    sec = (
        F.hour(ts_col) * 3600 + F.minute(ts_col) * 60 + F.second(ts_col)
    ).cast("double")
    theta = F.lit(two_pi) * sec / F.lit(86400.0)
    g = df.where(F.col(ts_col).isNotNull()).groupBy(
        key_col, F.hour(ts_col).alias("_h")
    ).agg(
        F.count(F.lit(1)).alias("_c"),
        F.sum(F.sin(theta)).alias("_s"),
        F.sum(F.cos(theta)).alias("_co"),
    )
    agg = g.groupBy(key_col).agg(
        F.sum("_c").alias("n"),
        F.sum("_s").alias("_ss"),
        F.sum("_co").alias("_cc"),
        F.max(F.struct(F.col("_c").alias("c"), F.col("_h").alias("h"))).alias(
            "_peak"
        ),
    )
    nn = F.col("n").cast("double")
    r = F.sqrt(F.col("_ss") * F.col("_ss") + F.col("_cc") * F.col("_cc")) / nn
    mean_hour = (
        F.atan2(F.col("_ss"), F.col("_cc")) / F.lit(two_pi) * 24.0 + 24.0
    ) % 24.0
    return agg.select(
        key_col,
        "n",
        mean_hour.alias("mean_hour"),
        r.alias("resultant"),
        (1.0 - r).alias("circ_var"),
        (
            F.col("_peak.c").cast("double") / nn * 24.0
        ).alias("peak_ratio"),
    )
