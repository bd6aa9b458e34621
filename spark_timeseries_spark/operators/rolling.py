"""Rolling-window aggregation and autocorrelation.

- ``roll_sum(n, align)`` / ``roll_mean(n, align)`` — reference
  ``TimeSeriesRDD.scala:611-621,640-642`` + kernel
  ``UnivariateTimeSeries.rollSum`` (``:497-499``). The reference stamps the
  n-window aggregate on the Left/Center/Right element of the window by
  re-slicing the result index (``islice`` arithmetic at ``:614-619``); we get
  identical semantics with a rows-frame anchored accordingly, keeping only
  complete windows (count == n).
- ``autocorr(max_lag)`` — per-series autocorrelation
  (``UnivariateTimeSeries.scala:43-45,70-96``): the reference computes the
  PEARSON CORRELATION of the lag-k slice pairs (each slice demeaned by its
  own mean, normalized by its own variance) — NOT the classical
  global-mean ACF Σ(x_t−µ)(x_{t+k}−µ)/Σ(x_t−µ)², which differs on short
  or trending series. We mirror the reference exactly with ``F.corr``
  over (x_t, x_{t−k}) pairs — window lags + one aggregate, no Python.

Each is one exchange on the key; all window frames share the (key, loc) sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_ALIGN = {"right", "center", "left"}


def _frame(n: int, align: str):
    a = align.lower()
    if a not in _ALIGN:
        raise ValueError(f"align must be one of {_ALIGN}")
    if a == "right":
        return (-(n - 1), 0)
    if a == "left":
        return (0, n - 1)
    half = (n - 1) // 2
    return (-half, n - 1 - half)


def roll_agg(
    df: DataFrame,
    n: int,
    agg: str,
    align: str = "right",
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    out_col: str | None = None,
) -> DataFrame:
    """Generic rolling aggregate (sum/avg/min/max/stddev...).

    NaN propagation matches the reference kernel: a window containing a
    missing cell yields a missing result (Scala double arithmetic over the
    dense vector), while positions whose window would extend past the series
    boundary are trimmed entirely (result has size − n + 1 stamps)."""
    lo, hi = _frame(n, align)
    w = Window.partitionBy(key_col).orderBy(order_col).rowsBetween(lo, hi)
    out_col = out_col or value_col
    agg_fn = getattr(F, agg)
    return (
        df.withColumn("_rows", F.count(F.lit(1)).over(w))
        .withColumn("_vals", F.count(value_col).over(w))
        .withColumn(
            out_col,
            F.when(F.col("_vals") == n, agg_fn(value_col).over(w)),
        )
        .where(F.col("_rows") == n)
        .drop("_rows", "_vals")
    )


def roll_sum(df, n, align="right", key_col="key", order_col="loc", value_col="value"):
    return roll_agg(df, n, "sum", align, key_col, order_col, value_col)


def roll_mean(df, n, align="right", key_col="key", order_col="loc", value_col="value"):
    return roll_agg(df, n, "avg", align, key_col, order_col, value_col)


def roll_min(df, n, align="right", key_col="key", order_col="loc", value_col="value"):
    return roll_agg(df, n, "min", align, key_col, order_col, value_col)


def roll_max(df, n, align="right", key_col="key", order_col="loc", value_col="value"):
    return roll_agg(df, n, "max", align, key_col, order_col, value_col)


def roll_std(df, n, align="right", key_col="key", order_col="loc", value_col="value"):
    """Rolling SAMPLE standard deviation (n−1 denominator — the Spark /
    SQL ``stddev`` default, stated because rolling-volatility users
    habitually assume one or the other)."""
    return roll_agg(df, n, "stddev", align, key_col, order_col, value_col)


def roll_var(df, n, align="right", key_col="key", order_col="loc", value_col="value"):
    """Rolling sample variance (n−1 denominator)."""
    return roll_agg(df, n, "variance", align, key_col, order_col, value_col)


def roll_quantile(
    df: DataFrame,
    n: int,
    q: float,
    align: str = "right",
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    out_col: str | None = None,
) -> DataFrame:
    """Exact rolling quantile over a complete n-window — linear
    interpolation at position (n−1)·q of the sorted window (numpy
    default / DuckDB ``quantile_cont``). Same contract as
    :func:`roll_agg`: windows with a missing cell yield NULL, boundary
    positions with incomplete windows are trimmed.

    Plan: the window pass collects the n-cell array once; because n and
    q are Python constants the interpolation indices fold to literals,
    so the whole expression is two ``element_at`` picks off one
    let-bound ``array_sort`` — single exchange, no Python, no
    self-join."""
    import math

    from ..functions import let

    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    lo, hi = _frame(n, align)
    w = Window.partitionBy(key_col).orderBy(order_col).rowsBetween(lo, hi)
    out_col = out_col or value_col
    # Index arithmetic happens in Python floats; (n−1)·q can land a hair off
    # a mathematically exact pick (10·0.7 = 7.000000000000001), which would
    # flip the exact-pick branch into a near-zero-weight interpolation with
    # platform-dependent last bits. Snap to the integer within 1e-9 so exact
    # picks stay exact — matches numpy/DuckDB to the bit on those quantiles.
    idx = (n - 1) * q
    k = int(math.floor(idx + 1e-9))
    k = min(k, n - 1)  # q=1.0 (or round-off above it) must not index past n
    frac = idx - k
    if frac < 1e-9 or k >= n - 1:
        frac = 0.0  # k+2 would read past the array; the pick is exact anyway

    def pick(srt):
        if frac == 0.0:
            return F.element_at(srt, k + 1)
        # lo + frac·(hi − lo): the lerp form numpy and DuckDB quantile_cont
        # both use — bit-identical to them, unlike the (1−f)·lo + f·hi form.
        lo_v = F.element_at(srt, k + 1)
        return lo_v + F.lit(frac) * (F.element_at(srt, k + 2) - lo_v)

    srt = F.array_sort(F.collect_list(F.col(value_col).cast("double")).over(w))
    return (
        df.withColumn("_rows", F.count(F.lit(1)).over(w))
        .withColumn("_vals", F.count(value_col).over(w))
        .withColumn(
            out_col, F.when(F.col("_vals") == n, let(srt, pick))
        )
        .where(F.col("_rows") == n)
        .drop("_rows", "_vals")
    )


def roll_median(df, n, align="right", key_col="key", order_col="loc", value_col="value"):
    """Exact rolling median (interpolated on even windows) — the robust
    companion of :func:`roll_mean`; see :func:`roll_quantile`."""
    return roll_quantile(df, n, 0.5, align, key_col, order_col, value_col)


def _roll_moments(
    df: DataFrame,
    n: int,
    align: str,
    key_col: str,
    order_col: str,
    value_col: str,
    order: int,
):
    """Attach complete-window power sums _s1.._s{order} + gating counts.
    Raw power sums (not centered) so the arithmetic is reproducible
    verbatim in any SQL engine — the moments are then assembled per
    output row from the sums, which is where an oracle can replay them
    term-for-term. Window sizes are small by contract (rolling stats),
    so the power-sum conditioning loss is below the 6-decimal reporting
    precision."""
    lo, hi = _frame(n, align)
    w = Window.partitionBy(key_col).orderBy(order_col).rowsBetween(lo, hi)
    v = F.col(value_col).cast("double")
    out = df.withColumn("_rows", F.count(F.lit(1)).over(w)).withColumn(
        "_vals", F.count(value_col).over(w)
    )
    # explicit products, not pow(): libm pow(x, k) is not guaranteed
    # bit-identical to repeated multiplication across engines, and the
    # oracle replays these sums term-for-term
    powers = {1: v, 2: v * v, 3: v * v * v, 4: v * v * v * v}
    for p in range(1, order + 1):
        out = out.withColumn(f"_s{p}", F.sum(powers[p]).over(w))
    return out.where(F.col("_rows") == n)


def roll_skew(
    df: DataFrame,
    n: int,
    align: str = "right",
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    out_col: str | None = None,
) -> DataFrame:
    """Rolling ADJUSTED Fisher–Pearson skewness
    G1 = √(n(n−1))/(n−2) · m3/m2^1.5 — the pandas ``rolling().skew()`` /
    Excel SKEW convention, stated because the unadjusted g1 differs by a
    factor that matters at rolling window sizes. Same complete-window +
    NULL-propagation contract as :func:`roll_agg`; windows with zero
    variance yield NULL. Requires n ≥ 3. Beyond-reference (the reference
    stops at rolling sum/mean)."""
    import math

    if n < 3:
        raise ValueError(f"roll_skew needs n >= 3, got {n}")
    out_col = out_col or value_col
    nn = float(n)
    m = F.col("_s1") / nn
    m2 = F.col("_s2") / nn - m * m
    m3 = F.col("_s3") / nn - 3.0 * m * F.col("_s2") / nn + 2.0 * m * m * m
    adj = math.sqrt(n * (n - 1.0)) / (n - 2.0)
    expr = F.when(
        (F.col("_vals") == n) & (m2 > 0.0),
        F.lit(adj) * m3 / F.pow(m2, 1.5),
    )
    return (
        _roll_moments(df, n, align, key_col, order_col, value_col, 3)
        .withColumn(out_col, expr)
        .drop("_rows", "_vals", "_s1", "_s2", "_s3")
    )


def roll_kurt(
    df: DataFrame,
    n: int,
    align: str = "right",
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    out_col: str | None = None,
) -> DataFrame:
    """Rolling ADJUSTED excess kurtosis
    G2 = (n−1)/((n−2)(n−3)) · ((n+1)·m4/m2² − 3(n−1)) — the pandas
    ``rolling().kurt()`` / Excel KURT convention. Same complete-window +
    NULL-propagation contract as :func:`roll_agg`; zero-variance windows
    yield NULL. Requires n ≥ 4. Beyond-reference."""
    if n < 4:
        raise ValueError(f"roll_kurt needs n >= 4, got {n}")
    out_col = out_col or value_col
    nn = float(n)
    m = F.col("_s1") / nn
    m2 = F.col("_s2") / nn - m * m
    m4 = (
        F.col("_s4") / nn
        - 4.0 * m * F.col("_s3") / nn
        + 6.0 * m * m * F.col("_s2") / nn
        - 3.0 * m * m * m * m
    )
    c = (nn - 1.0) / ((nn - 2.0) * (nn - 3.0))
    expr = F.when(
        (F.col("_vals") == n) & (m2 > 0.0),
        F.lit(c) * ((nn + 1.0) * m4 / (m2 * m2) - 3.0 * (nn - 1.0)),
    )
    return (
        _roll_moments(df, n, align, key_col, order_col, value_col, 4)
        .withColumn(out_col, expr)
        .drop("_rows", "_vals", "_s1", "_s2", "_s3", "_s4")
    )


def roll_corr(
    df: DataFrame,
    key_a: str,
    key_b: str,
    n: int,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Rolling sample Pearson correlation between two conformed series →
    (loc, corr) over right-aligned complete n-windows of the overlap —
    the windowed companion of :func:`crosscorr` (which aggregates the
    whole overlap at once). Beyond-reference. Windows where either
    series has a missing cell yield NULL; constant windows yield NULL —
    genuinely NULL, not NaN (try_divide over explicit moments; native
    F.corr emits NaN there, which survives isNotNull filters). Plan: one
    equi-join aligns the pair, then ONE window pass on
    the single joined series — same one-series-in-memory envelope as
    :func:`crosscorr`."""
    if n < 2:
        raise ValueError(f"roll_corr needs n >= 2, got {n}")
    a = df.where(F.col(key_col) == key_a).select(
        F.col(order_col).alias(order_col), F.col(value_col).alias("_a")
    )
    b = df.where(F.col(key_col) == key_b).select(
        F.col(order_col).alias(order_col), F.col(value_col).alias("_b")
    )
    j = a.join(b, order_col)
    w = Window.orderBy(order_col).rowsBetween(-(n - 1), 0)
    pair = F.when(F.col("_a").isNotNull() & F.col("_b").isNotNull(), 1)
    # corr via moments + try_divide rather than native F.corr: a
    # zero-variance (constant) window makes F.corr return NaN, breaking
    # the documented NULL contract (downstream isNotNull filters keep
    # NaN rows, and the oracle side canonicalizes to NULL) — the
    # roll_beta formulation. covar_samp/stddev_samp normalizations
    # cancel, so values where both are defined are identical.
    corr = F.try_divide(
        F.covar_samp("_a", "_b").over(w),
        F.stddev_samp("_a").over(w) * F.stddev_samp("_b").over(w),
    )
    return (
        j.withColumn("_rows", F.count(F.lit(1)).over(w))
        .withColumn("_pairs", F.count(pair).over(w))
        .withColumn("corr", F.when(F.col("_pairs") == n, corr))
        .where(F.col("_rows") == n)
        .select(order_col, "corr")
    )


def roll_beta(
    df: DataFrame,
    key_a: str,
    key_b: str,
    n: int,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Rolling OLS regression of series ``key_a`` on series ``key_b`` →
    (loc, beta, alpha) over right-aligned complete n-windows:
    β = cov(a,b)/var(b), α = mean(a) − β·mean(b) — the time-varying
    hedge-ratio / exposure companion of :func:`roll_corr`, same
    conventions (complete windows only, NULL on a missing cell or a
    zero-variance regressor window). Beyond-reference. Plan: one
    equi-join aligns the pair, then ONE window pass — the
    one-series-in-memory envelope."""
    if n < 2:
        raise ValueError(f"roll_beta needs n >= 2, got {n}")
    a = df.where(F.col(key_col) == key_a).select(
        F.col(order_col).alias(order_col), F.col(value_col).alias("_a")
    )
    b = df.where(F.col(key_col) == key_b).select(
        F.col(order_col).alias(order_col), F.col(value_col).alias("_b")
    )
    j = a.join(b, order_col)
    w = Window.orderBy(order_col).rowsBetween(-(n - 1), 0)
    pair = F.when(F.col("_a").isNotNull() & F.col("_b").isNotNull(), 1)
    # try_divide, not covar/var alone: a zero-variance regressor window
    # must yield NULL under ANSI mode, same contract as corr_matrix
    beta = F.try_divide(
        F.covar_samp("_a", "_b").over(w), F.var_samp("_b").over(w)
    )
    full = F.col("_pairs") == n
    out = (
        j.withColumn("_rows", F.count(F.lit(1)).over(w))
        .withColumn("_pairs", F.count(pair).over(w))
        .withColumn("beta", F.when(full, beta))
        .withColumn(
            "alpha",
            F.when(
                full,
                F.avg("_a").over(w) - F.col("beta") * F.avg("_b").over(w),
            ),
        )
        .where(F.col("_rows") == n)
    )
    return out.select(order_col, "beta", "alpha")


def crosscorr(
    df: DataFrame,
    key_a: str,
    key_b: str,
    max_lag: int,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Sample cross-correlation between two conformed series → rows
    (lag, ccf) for lag 0..max_lag: the Pearson correlation of
    (a_t, b_{t−lag}) over the overlap — the two-series companion of
    :func:`autocorr`, same per-overlap convention (each slice demeaned by
    its own mean), beyond-reference (the reference ships autocorr only).
    Positive lag means ``key_a`` LAGS ``key_b`` (b leads). Plan: the two
    series align by location (one equi-join), then the lag window runs
    over the single joined pair — a one-partition window bounded by the
    SERIES length, i.e. the reference's own one-series-fits-in-memory
    envelope (``src/site/markdown/index.md:35-40``), not corpus-sized."""
    if max_lag < 0:
        raise ValueError("max_lag must be >= 0")
    a = df.where(F.col(key_col) == key_a).select(
        F.col(order_col).alias("_o"), F.col(value_col).alias("_a")
    )
    b = df.where(F.col(key_col) == key_b).select(
        F.col(order_col).alias("_o"), F.col(value_col).alias("_b")
    )
    j = a.join(b, "_o")
    w = Window.orderBy("_o")
    for k in range(1, max_lag + 1):
        j = j.withColumn(f"_b{k}", F.lag("_b", k).over(w))
    cols = ["_b"] + [f"_b{k}" for k in range(1, max_lag + 1)]
    agg = j.agg(
        *[F.corr("_a", c).alias(f"_c{k}") for k, c in enumerate(cols)]
    )
    pairs = F.array(
        *[
            F.struct(F.lit(k).alias("lag"), F.col(f"_c{k}").alias("ccf"))
            for k in range(max_lag + 1)
        ]
    )
    return agg.select(F.explode(pairs).alias("_p")).select(
        F.col("_p.lag").alias("lag"), F.col("_p.ccf").alias("ccf")
    )


def autocorr(
    df: DataFrame,
    max_lag: int,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Sample autocorrelation for lags 1..max_lag per series → rows
    (key, lag, acf), as the Pearson correlation of the (y_t, y_{t−k}) pairs —
    exactly the reference's formula (``UnivariateTimeSeries.scala:66-96``
    computes per-slice means/variances, i.e. Pearson over the overlap).
    Pure window+aggregate plan: one exchange."""
    w = Window.partitionBy(key_col).orderBy(order_col)
    lagged = df
    for k in range(1, max_lag + 1):
        lagged = lagged.withColumn(f"_l{k}", F.lag(value_col, k).over(w))
    agg = lagged.groupBy(key_col).agg(
        *[F.corr(value_col, f"_l{k}").alias(f"_c{k}") for k in range(1, max_lag + 1)]
    )
    pairs = F.array(
        *[
            F.struct(F.lit(k).alias("lag"), F.col(f"_c{k}").alias("acf"))
            for k in range(1, max_lag + 1)
        ]
    )
    return agg.select(key_col, F.explode(pairs).alias("_p")).select(
        key_col, F.col("_p.lag").alias("lag"), F.col("_p.acf").alias("acf")
    )


_CORR_BCAST_CONF = "spark.spark_timeseries.corrMatrix.broadcastMaxBytes"
_CORR_BCAST_DEFAULT = 512 * 1024 * 1024  # 512 MiB — well under the 8 GiB cap


def _corr_broadcast_max_bytes(spark) -> int:
    """Broadcast budget for corr_matrix's join kernel — parameterised via
    session conf (production clusters size it to driver/executor memory),
    local default 512 MiB."""
    try:
        return int(spark.conf.get(_CORR_BCAST_CONF, str(_CORR_BCAST_DEFAULT)))
    except Exception:
        return _CORR_BCAST_DEFAULT


def _est_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate for ``df`` (the same statistic the
    autoBroadcastJoinThreshold decision reads) — no job is run. Returns 0
    (i.e. 'fits') when the estimate is unavailable or derives from the
    ``spark.sql.defaultSizeInBytes`` Long.MaxValue sentinel (non-file
    sources like LocalRelation/ExistingRDD report that, meaning UNKNOWN,
    not huge), preserving the documented bounded-K broadcast contract.
    A Project scales the sentinel by its column-width ratio, so anything
    at or above 2^50 bytes (1 PiB — no real broadcast candidate) counts
    as unknown, not only values near 2^63."""
    try:
        est = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return 0
    return 0 if est >= (1 << 50) else est


def corr_matrix(
    df: DataFrame,
    min_overlap: int = 2,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Pairwise Pearson correlation across ALL series of a corpus →
    (key_a, key_b, n_overlap, corr) for the strict upper triangle
    (key_a < key_b) — the corpus-wide companion of :func:`crosscorr`
    (which compares TWO named series at many lags; this compares every
    pair at lag 0). Beyond-reference: the reference's multivariate surface
    stops at the instants matrix (``TimeSeriesRDD.scala:526-545``);
    a clustering/factor pipeline needs the full correlation structure.

    Pairs are formed over the time locations where BOTH series are
    observed (pairwise-complete convention, R's ``use="pairwise"``);
    pairs with fewer than ``min_overlap`` overlapping points, or with a
    zero-variance side over the overlap, yield NULL ``corr`` so
    downstream filters behave. Output is inherently O(K²) for K series —
    that's the result's size, not a plan defect; at corpus scale callers
    bound K with a key filter first.

    Plan: one self-equi-join on the location + one (key_a, key_b)
    moment aggregate, every flop inside whole-stage-codegen'd native
    aggregates. The right side is BROADCAST (the K×T series table) so
    the joined rows are never exchanged — but only while its
    plan-estimated size stays under
    ``spark.spark_timeseries.corrMatrix.broadcastMaxBytes`` (default
    512 MiB; the broadcast hard cap is 8 GiB / 512M rows). Past the
    bound it degrades to a location shuffle join + post-join aggregate
    exchange — O(T·K²) shuffled rows, slower but unbounded. (An
    array-compact variant — one value array per key, broadcast pair
    fold — measured 1.5× slower than this plan; its win needs a
    network-bound cluster, so only this plan is kept.)

    The statistic is sample-moment Pearson via try_divide — ANSI mode
    makes native ``corr`` THROW on zero-variance sides where this
    contract is NULL."""
    from ..parallel import spread_kernel

    # Left side partitioned by key_a with an explicit cores-scaled count
    # (AQE preserves it): the location equi-join EXPLODES the row count
    # (T·K² joined rows from T·K input rows), and AQE's byte-based
    # coalescing — seeing only the small pre-join inputs — would other-
    # wise run the entire O(T·K²) moment aggregation in ONE task. The
    # right side is the broadcast K×T series table, and with the stream
    # side hash-partitioned by key_a the (key_a, key_b) aggregate needs
    # NO post-join exchange —
    # the 35M-row partial-aggregate shuffle disappears from the plan
    # (HashPartitioning(key_a) satisfies the grouping's clustering).
    a = spread_kernel(
        df.where(F.col(value_col).isNotNull()).select(
            F.col(key_col).alias("key_a"),
            F.col(order_col).alias("_o"),
            F.col(value_col).alias("_va"),
        ),
        "key_a",
    )
    b = df.where(F.col(value_col).isNotNull()).select(
        F.col(key_col).alias("key_b"),
        F.col(order_col).alias("_o"),
        F.col(value_col).alias("_vb"),
    )
    # Size guard (r14 ADVICE): the explicit broadcast hint bypasses
    # autoBroadcastJoinThreshold, so an unguarded hint would drive the
    # join into the 8 GiB / 512M-row broadcast hard cap (or a driver
    # OOM) on long-series/many-key corpora where the old shuffle join
    # merely crawled. Gate on the optimizer's size ESTIMATE (no job);
    # if the estimate is unavailable, keep the broadcast (the bounded-K
    # contract above).
    if _est_bytes(b) <= _corr_broadcast_max_bytes(df.sparkSession):
        j = a.join(F.broadcast(b), "_o")
    else:
        # fallback regime: plain location equi-join (sort-merge /
        # shuffled-hash per planner); the (key_a, key_b) aggregate then
        # pays its own exchange — unbounded, network-bound, correct.
        j = a.join(b, "_o")
    j = j.where(F.col("key_a") < F.col("key_b"))
    agg = j.groupBy("key_a", "key_b").agg(
        F.count(F.lit(1)).alias("n_overlap"),
        F.covar_samp("_va", "_vb").alias("_cov"),
        F.stddev_samp("_va").alias("_sa"),
        F.stddev_samp("_vb").alias("_sb"),
    )
    c = F.try_divide(F.col("_cov"), F.col("_sa") * F.col("_sb"))
    return agg.select(
        "key_a",
        "key_b",
        "n_overlap",
        F.when(F.col("n_overlap") >= min_overlap, c).alias("corr"),
    )


def roll_slope(
    df: DataFrame,
    n: int,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Rolling OLS trend per series → adds (slope, intercept, r2) over
    right-aligned complete n-windows, regressing the value on
    ``order_col`` itself: slope = cov(x, v)/var(x) in value-units per
    loc-unit, intercept at x = 0, r² = cov²/(var(x)·var(v)) the
    window's linear-fit quality. The local-trend companion of
    :func:`roll_beta` (which regresses on ANOTHER series) and the
    parametric sibling of the Theil-Sen operator (one global robust
    slope there, a per-window LS slope here). Same contract as
    :func:`roll_agg`: windows containing a NULL value yield NULL
    statistics, incomplete boundary windows are trimmed; r² is NULL
    for a constant-value window (zero variance — try_divide).

    Plan: ONE window pass per key (covar/var/avg share the frame and
    one sort) — all JVM, linear, no join; irregular spacing is honored
    because x is the actual ``order_col`` value, not the row number."""
    if n < 2:
        raise ValueError(f"roll_slope needs n >= 2, got {n}")
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(-(n - 1), 0)
    )
    x = F.col(order_col).cast("double")
    v = F.col(value_col)
    cov = F.covar_samp(x, v).over(w)
    slope = F.try_divide(cov, F.var_samp(x).over(w))
    full = F.col("_vals") == n
    out = (
        df.withColumn("_rows", F.count(F.lit(1)).over(w))
        .withColumn("_vals", F.count(value_col).over(w))
        .withColumn("slope", F.when(full, slope))
        .withColumn(
            "intercept",
            F.when(full, F.avg(v).over(w) - F.col("slope") * F.avg(x).over(w)),
        )
        .withColumn(
            "r2",
            F.when(
                full,
                F.try_divide(
                    cov * cov, F.var_samp(x).over(w) * F.var_samp(v).over(w)
                ),
            ),
        )
        .where(F.col("_rows") == n)
        .drop("_rows", "_vals")
    )
    return out


def roll_rank(
    df: DataFrame,
    n: int,
    align: str = "right",
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    out_col: str | None = None,
) -> DataFrame:
    """Rolling percentile RANK of each observation within its own
    n-window: the fraction of the window's values ≤ the current value
    (∈ (0, 1]; the current value counts itself, so a running maximum
    scores 1.0 and a running minimum 1/n). The regime-detection
    companion of :func:`roll_quantile` — "is today extreme RELATIVE to
    the recent past" without choosing a threshold first. Same contract
    as :func:`roll_agg`: windows with a missing cell yield NULL,
    incomplete boundary windows are trimmed. One window pass, one
    array-filter expression, no Python."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    lo, hi = _frame(n, align)
    w = Window.partitionBy(key_col).orderBy(order_col).rowsBetween(lo, hi)
    out_col = out_col or value_col
    v = F.col(value_col)
    arr = F.collect_list(v.cast("double")).over(w)
    rank = F.size(F.filter(arr, lambda x: x <= v)) / F.lit(float(n))
    return (
        df.withColumn("_rows", F.count(F.lit(1)).over(w))
        .withColumn("_vals", F.count(value_col).over(w))
        .withColumn(
            out_col,
            F.when(F.col("_vals") == n, rank),
        )
        .where(F.col("_rows") == n)
        .drop("_rows", "_vals")
    )


def roll_entropy(
    df: DataFrame,
    n: int = 20,
    bins: int = 8,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Rolling Shannon entropy (nats) of the last n observations,
    bucketed into ``bins`` equal-width bins over the SERIES' OWN
    [min, max] (stated: per-series global bounds, so the bin grid is
    stable across the whole series and two windows are comparable; the
    max value clips into the top bin). Output = non-null input rows +
    ``bin`` (0-based) + ``entropy`` (NULL until a full n-window; 0 for
    a constant series — every value lands in bin 0 of a zero-width
    range). Low entropy flags regime-locked/flatlined stretches, high
    entropy noise storms — the distributional companion of
    :func:`roll_std`.

    Plan: two key-partition extrema windows + ONE bounded n-element
    ``collect_list`` rolling window folded with higher-order functions
    (the cci window-local buffer envelope) — one sort, one exchange,
    all JVM."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    wk = Window.partitionBy(key_col)
    lo = F.min(v).over(wk)
    hi = F.max(v).over(wk)
    # zero-width range (constant series) -> everything in bin 0
    raw = F.when(
        hi > lo,
        F.floor((v - lo) / (hi - lo) * bins).cast("int"),
    ).otherwise(F.lit(0))
    b = F.least(raw, F.lit(bins - 1))  # v = max clips into the top bin
    d = pts.withColumn("bin", b)
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(-(n - 1), 0)
    )
    lst = F.collect_list("bin").over(w)
    cnt = F.size(lst).cast("double")
    ent = -F.aggregate(
        F.transform(
            F.array_distinct(lst),
            lambda bb: F.size(F.filter(lst, lambda x: x == bb)) / cnt,
        ),
        F.lit(0.0),
        lambda a, p: a + p * F.log(p),
    )
    return d.withColumn(
        "entropy", F.when(F.count(F.lit(1)).over(w) >= n, ent)
    )


def lead_lag(
    df: DataFrame,
    key_a: str,
    key_b: str,
    max_lag: int,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
    tie_digits: int | None = None,
) -> DataFrame:
    """Best lead-lag alignment of two conformed series → one row
    (key_a, key_b, best_lag, ccf): the lag in [−max_lag, +max_lag]
    maximizing |ccf| over :func:`crosscorr`'s per-overlap Pearson
    convention. POSITIVE best_lag means ``key_a`` LAGS ``key_b`` (B
    leads — B's moves show up in A best_lag steps later); negative
    means A leads. Ties go to the SMALLEST |lag|, then the positive
    sign (deterministic); ``tie_digits`` ranks on round(|ccf|,
    tie_digits) so near-ties below fp noise resolve by the lag rule on
    every engine (the ``dominant_period`` convention). NULL-ccf lags
    (constant overlap slices) drop out; no row if every lag is NULL.

    Plan: two :func:`crosscorr` passes (one per direction) over the
    same bounded pair + one struct-max aggregate — the two-named-series
    envelope."""
    ab = crosscorr(
        df, key_a, key_b, max_lag, key_col, order_col, value_col
    )
    ba = (
        crosscorr(df, key_b, key_a, max_lag, key_col, order_col, value_col)
        .where(F.col("lag") > 0)
        .select((-F.col("lag")).alias("lag"), "ccf")
    )
    u = ab.select("lag", "ccf").unionByName(ba).where(
        F.col("ccf").isNotNull()
    )
    mag = F.abs(F.col("ccf"))
    rank_c = F.round(mag, tie_digits) if tie_digits is not None else mag
    best = u.agg(
        F.max(
            F.struct(
                rank_c.alias("rc"),
                (-F.abs(F.col("lag"))).alias("nal"),
                F.col("lag").alias("lag"),
                F.col("ccf").alias("ccf"),
            )
        ).alias("_b")
    )
    return best.where(F.col("_b").isNotNull()).select(
        F.lit(key_a).alias("key_a"),
        F.lit(key_b).alias("key_b"),
        F.col("_b.lag").cast("int").alias("best_lag"),
        F.col("_b.ccf").alias("ccf"),
    )
