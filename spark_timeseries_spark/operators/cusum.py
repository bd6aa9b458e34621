"""CUSUM mean-shift detection (Page 1954), per series, windows-only.

Page's one-sided CUSUM recursion ``g_t = max(0, g_{t-1} + (z_t − k))``
looks imperatively stateful, but has the classic closed form

    g_t = s_t − min_{j ≤ t} s_j,      s_t = Σ_{i ≤ t} (z_i − k)

— a running sum minus a running minimum, i.e. two window frames over the
same (key, loc) sort: the whole detector stays in whole-stage codegen,
no Python, no recursion. Both shift directions run side by side
(``z − k`` and ``−z − k``); values are standardized per series first, so
``k`` (slack) and ``h`` (decision threshold) are in σ units — the usual
(0.5, 4–5) defaults detect a 1σ mean shift quickly while ignoring noise.

Missing cells carry no evidence and are EXCLUDED from the cumulative
sums (the statistic simply bridges the gap); a zero-variance series
yields NULL statistics.

Beyond-reference: sryza/spark-timeseries has no change-point surface.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..parallel import map_groups, route_by_length

#: series length (season length for :func:`seasonal_mann_kendall`) up to
#: which theil_sen and the Mann-Kendall S run the SQL-exact pairwise
#: self-join; longer ones take the in-core ``map_groups`` kernel
_KERNEL_THRESHOLD = 1000

__all__ = ["cusum", "cusum_changepoints", "theil_sen", "mann_kendall",
           "seasonal_mann_kendall", "page_hinkley"]


def cusum(
    df: DataFrame,
    k: float = 0.5,
    h: float = 5.0,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
    standardize: bool = True,
) -> DataFrame:
    """Per-point CUSUM: input columns (missing-value rows dropped) +
    ``g_pos`` / ``g_neg`` (the one-sided statistics, in σ) + ``alarm``
    (either side above ``h``).

    ``standardize=True`` scales by the FULL series' mean/std — a series
    containing a level shift then sits persistently off-center on both
    sides of the change, so BOTH one-sided statistics grow and the first
    alarm can fire in the pre-change segment (that is the statistic, not
    a bug). For the textbook monitoring setup — calibrate on an
    in-control baseline, watch what follows — standardize the values
    yourself against the baseline's mean/σ and pass
    ``standardize=False`` (``k``/``h`` are then in the caller's units)."""
    pts = df.where(F.col(value_col).isNotNull())
    if standardize:
        stats = pts.groupBy(key_col).agg(
            F.avg(value_col).alias("_m"), F.stddev(value_col).alias("_s")
        )
        z = F.try_divide(F.col(value_col) - F.col("_m"), F.col("_s"))
    else:
        stats = pts.groupBy(key_col).agg(
            F.lit(0.0).alias("_m"), F.lit(1.0).alias("_s")
        )
        z = F.col(value_col).cast("double")
    wc = (
        Window.partitionBy(key_col)
        .orderBy(loc_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        pts.join(F.broadcast(stats), key_col)
        .withColumn("_zp", z - F.lit(float(k)))
        .withColumn("_zn", -z - F.lit(float(k)))
        .withColumn("_sp", F.sum("_zp").over(wc))
        .withColumn("_sn", F.sum("_zn").over(wc))
        .withColumn(
            "g_pos",
            F.col("_sp") - F.least(F.min("_sp").over(wc), F.lit(0.0)),
        )
        .withColumn(
            "g_neg",
            F.col("_sn") - F.least(F.min("_sn").over(wc), F.lit(0.0)),
        )
        .withColumn(
            "alarm",
            F.when(
                F.col("g_pos").isNotNull(),
                (F.col("g_pos") > float(h)) | (F.col("g_neg") > float(h)),
            ),
        )
        .drop("_m", "_s", "_zp", "_zn", "_sp", "_sn")
    )
    return out


def cusum_changepoints(
    df: DataFrame,
    k: float = 0.5,
    h: float = 5.0,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
    standardize: bool = True,
) -> DataFrame:
    """Per-series summary → (key, max_stat, alarm_loc, direction):
    the peak one-sided statistic, the FIRST location where either side
    crosses ``h`` (NULL if never), and which side peaked ("up"/"down",
    ties to "up"; NULL when the statistics themselves are NULL —
    zero-variance or single-point series — rather than a spurious
    "down")."""
    pts = cusum(df, k, h, key_col, loc_col, value_col, standardize)
    first_alarm = F.min(
        F.when(F.col("alarm"), F.col(loc_col))
    ).alias("alarm_loc")
    return pts.groupBy(key_col).agg(
        F.greatest(F.max("g_pos"), F.max("g_neg")).alias("max_stat"),
        first_alarm,
        F.when(F.max("g_pos").isNull() | F.max("g_neg").isNull(), F.lit(None))
        .when(F.max("g_pos") >= F.max("g_neg"), F.lit("up"))
        .otherwise(F.lit("down"))
        .alias("direction"),
    )


def theil_sen(
    df: DataFrame,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
    method: str = "auto",
) -> DataFrame:
    """Theil–Sen robust trend per series → (key, slope, intercept,
    n_pairs): slope = median of all pairwise slopes (29% breakdown
    point — a few spikes cannot bend it, unlike OLS), intercept =
    median of ``y − slope·loc``. Medians are exact interpolated
    percentiles (a + (b − a)·0.5 on even counts — the cross-engine-exact
    lerp). Series with <2 observations yield NULLs.

    Exact Theil–Sen is O(n²) pairs anywhere; what matters at scale is
    WHERE the quadratic lives. ``method``: "auto" (default) routes each
    series by length through
    :func:`~spark_timeseries_spark.parallel.route_by_length` — for
    n ≤ ``_KERNEL_THRESHOLD`` the pairwise
    self-join (the SQL-oracle-replayable form; O(n²) SHUFFLED rows per
    series, fine inside the reference's one-series-in-memory envelope,
    ``src/site/markdown/index.md:35-40``); above it a grouped-map numpy
    kernel forms the slope pairs IN-CORE (blocked outer differences —
    zero pair shuffle; n²/2 doubles of executor memory, so ~n ≤ 50k —
    beyond that exact TS is impractical on any engine; sample or use
    Siegel's repeated median, out of scope). "join"/"kernel" force one
    strategy.

    The input lineage feeds several consumers (both self-join sides, the
    residual join, the key anchor); on an EXPENSIVE upstream plan,
    persist the input grid before calling — the lazy builder cannot own
    a cache lifetime (the ``pretrain_clean`` caller-owns-the-cache
    rule)."""
    pts = df.where(F.col(value_col).isNotNull()).select(
        key_col,
        F.col(loc_col).alias("_l"),
        F.col(value_col).alias("_v"),
    )

    def _join_plan(src):
        a, b = src.alias("a"), src.alias("b")
        pairs = (
            a.join(b, key_col)
            .where(F.col("a._l") < F.col("b._l"))
            .select(
                key_col,
                (
                    (F.col("b._v") - F.col("a._v"))
                    / (F.col("b._l") - F.col("a._l"))
                ).alias("_s"),
            )
        )
        slopes = pairs.groupBy(key_col).agg(
            F.percentile("_s", F.lit(0.5)).alias("slope"),
            F.count("*").alias("n_pairs"),
        )
        resid = src.join(slopes, key_col).select(
            key_col,
            "slope",
            "n_pairs",
            (F.col("_v") - F.col("slope") * F.col("_l")).alias("_r"),
        )
        return (
            resid.groupBy(key_col, "slope", "n_pairs")
            .agg(F.percentile("_r", F.lit(0.5)).alias("intercept"))
            .select(key_col, "slope", "intercept", "n_pairs")
        )

    def _kernel_plan(src):
        kt = src.schema[key_col].dataType.simpleString()

        def kern(pdf):
            import numpy as np

            pdf = pdf.sort_values("_l")
            ls = pdf["_l"].to_numpy(dtype=float)
            vs = pdf["_v"].to_numpy(dtype=float)
            n = ls.size
            if n < 2:
                return pd.DataFrame(
                    {key_col: [pdf[key_col].iloc[0]], "slope": [None],
                     "intercept": [None], "n_pairs": [0]}
                )
            # blocked pairwise slopes: n²/2 doubles total, formed in
            # row-blocks so the peak transient stays bounded. Equal-loc
            # pairs (dl == 0 after sort) are EXCLUDED, matching the join
            # plan's strict a._l < b._l — otherwise duplicate timestamps
            # inject ±inf/nan into the median and the two auto-routed
            # plans disagree.
            chunks = []
            for s0 in range(0, n - 1, 512):
                hi = min(s0 + 512, n - 1)
                for i in range(s0, hi):
                    dl = ls[i + 1:] - ls[i]
                    dv = vs[i + 1:] - vs[i]
                    m = dl > 0
                    chunks.append(dv[m] / dl[m])
            sl = np.concatenate(chunks)
            if sl.size == 0:
                # every loc equal: no orderable pairs on either plan
                return pd.DataFrame(
                    {key_col: [pdf[key_col].iloc[0]], "slope": [None],
                     "intercept": [None], "n_pairs": [0]}
                )
            # np.percentile's 'linear' is a + (b−a)·f — the same lerp as
            # F.percentile, so join/kernel agree to the last bit
            slope = float(np.percentile(sl, 50.0))
            inter = float(np.percentile(vs - slope * ls, 50.0))
            return pd.DataFrame(
                {key_col: [pdf[key_col].iloc[0]], "slope": [slope],
                 "intercept": [inter], "n_pairs": [int(sl.size)]}
            )

        return map_groups(
            src, key_col, kern,
            f"`{key_col}` {kt}, slope double, intercept double, n_pairs long",
        )

    out = route_by_length(
        pts, [key_col], _KERNEL_THRESHOLD, _join_plan, _kernel_plan,
        method, sides=("join", "kernel"),
    )
    # anchor on every input series so <2-point series report NULLs
    return (
        df.select(key_col)
        .distinct()
        .join(out, key_col, "left")
        .select(
            key_col,
            "slope",
            "intercept",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        )
    )


def _inversion_counts(v):
    """→ (concordant, discordant) pair counts over the time-ordered value
    array ``v`` (pairs tied in value excluded from both), via bottom-up
    merge counting with vectorized ``searchsorted`` — O(n log² n) numpy,
    no Python-level pair loop. S = concordant − discordant."""
    import numpy as np

    n = v.size
    conc = 0
    disc = 0
    arr = v.copy()
    width = 1
    while width < n:
        for s in range(0, n, 2 * width):
            mid = s + width
            if mid >= n:
                break
            end = min(s + 2 * width, n)
            left = arr[s:mid]          # sorted by induction
            right = arr[mid:end]       # sorted by induction
            lo = np.searchsorted(left, right, side="left")
            hi = np.searchsorted(left, right, side="right")
            conc += int(lo.sum())                    # left < right pairs
            disc += int((left.size - hi).sum())      # left > right pairs
            arr[s:end] = np.sort(arr[s:end], kind="mergesort")
        width *= 2
    return conc, disc


def _mk_s_groups(
    pts: DataFrame, group_cols: list[str], method: str
) -> DataFrame:
    """S = Σ sign(v_j − v_i) over time-ordered (i < j) pairs WITHIN each
    ``group_cols`` group → one row per group with column ``s``.

    Dual physical plan, selected PER GROUP by length inside one lazy
    plan by :func:`~spark_timeseries_spark.parallel.route_by_length` at
    ``_KERNEL_THRESHOLD`` (the ``periodogram`` precedent):

    - **join** (short groups, and the SQL-oracle-replayable form): the
      pairwise self-join — O(n²) shuffled rows per group, fine inside
      the reference's one-series-in-memory envelope;
    - **kernel** (long groups): a grouped-map merge-count — the Kendall
      S is concordant-minus-discordant, an inversion count, O(n log² n)
      in-core with ZERO pair shuffle (at n = 440k the join form would
      shuffle ~10¹¹ pair rows per series; the kernel moves n rows).
    """

    def _join_plan(src):
        a, b = src.alias("a"), src.alias("b")
        cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in group_cols]
        return (
            a.join(b, cond)
            .where(F.col("a._l") < F.col("b._l"))
            .groupBy(*[F.col(f"a.{c}").alias(c) for c in group_cols])
            .agg(
                F.sum(
                    F.signum(F.col("b._v") - F.col("a._v")).cast("long")
                ).alias("s")
            )
        )

    def _kernel_plan(src):
        fields = ", ".join(
            f"`{c}` {src.schema[c].dataType.simpleString()}"
            for c in group_cols
        )

        def kern(pdf):
            pdf = pdf.sort_values("_l")
            out = {c_: [pdf[c_].iloc[0]] for c_ in group_cols}
            if len(pdf) < 2:
                # no pairs: NULL, matching the join form (which emits no
                # row for the group) so both plans agree post-assembly
                out["s"] = [None]
            else:
                c, d = _inversion_counts(pdf["_v"].to_numpy(dtype=float))
                out["s"] = [c - d]
            return pd.DataFrame(out)

        return map_groups(src, group_cols, kern, f"{fields}, s long")

    return route_by_length(
        pts, group_cols, _KERNEL_THRESHOLD, _join_plan, _kernel_plan,
        method, sides=("join", "kernel"),
    )


def mann_kendall(
    df: DataFrame,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
    s_method: str = "auto",
) -> DataFrame:
    """Mann-Kendall nonparametric trend test per series → (key, n, s,
    var_s, z, p_value): S = Σ_{i<j} sign(v_j − v_i) over time-ordered
    pairs, tie-corrected variance Var(S) = [n(n−1)(2n+5) −
    Σ_t t(t−1)(2t+5)]/18 (Mann 1945, Kendall 1975), and the
    continuity-corrected normal z ((S∓1)/√Var; 0 when S=0). The
    distribution-free companion of :func:`theil_sen`. ``s_method``:
    "auto" (default) routes each series by length — pairwise self-join
    for n ≤ ``_KERNEL_THRESHOLD`` (the SQL-oracle-replayable form),
    grouped-map merge-count kernel above it (O(n log² n) in-core, zero
    pair shuffle — see :func:`_mk_s_groups`); "join"/"kernel" force one
    strategy. Two-sided p-value from the closed-form normal tail; n < 3
    or all-tied (Var(S) = 0) series yield NULL z AND NULL p (degenerate
    evidence, not certainty). NULL cells are skipped (pairs form over
    the observed run)."""
    from ..models._numeric import norm_cdf

    pts = df.where(F.col(value_col).isNotNull()).select(
        key_col,
        F.col(loc_col).alias("_l"),
        F.col(value_col).alias("_v"),
    )
    s_agg = _mk_s_groups(pts, [key_col], s_method)
    n_agg = pts.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
    ties = (
        pts.groupBy(key_col, "_v")
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy(key_col)
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).alias("_tie")
        )
    )
    n = F.col("n").cast("double")
    var_s = (
        n * (n - 1) * (2 * n + 5) - F.col("_tie").cast("double")
    ) / 18.0
    s = F.col("s").cast("double")
    # z gated on var_s NOT NULL and > 0 AND s NOT NULL: a NULL var_s
    # (n < 3) or NULL s (single-point series — no pairs) must yield NULL
    # z/p as documented, not fall through a null condition into the
    # otherwise() branch (z=0, p=1 — false certainty).
    z = F.when(
        F.col("var_s").isNotNull()
        & (F.col("var_s") > 0)
        & F.col("s").isNotNull(),
        F.when(s > 0, (s - 1) / F.sqrt("var_s"))
        .when(s < 0, (s + 1) / F.sqrt("var_s"))
        .otherwise(0.0),
    )
    out = (
        n_agg.join(s_agg, key_col, "left")
        .join(ties, key_col, "left")
        .withColumn("var_s", F.when(F.col("n") >= 3, var_s))
        .withColumn("z", z)
    )

    @F.pandas_udf("double")
    def _p(zc: pd.Series) -> pd.Series:
        return zc.map(
            lambda v: None if pd.isna(v) else 2.0 * (1.0 - norm_cdf(abs(v)))
        )

    return out.select(
        key_col, "n", "s", "var_s", "z", _p(F.col("z")).alias("p_value")
    )


def seasonal_mann_kendall(
    df: DataFrame,
    period: int,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
    s_method: str = "auto",
) -> DataFrame:
    """Seasonal Mann-Kendall trend test (Hirsch, Slack & Smith 1982) →
    (key, n, s, var_s, z, p_value): the :func:`mann_kendall` statistic
    computed WITHIN each season (``loc mod period`` — January-vs-January,
    Monday-vs-Monday) and summed across seasons, so a strong seasonal
    cycle can't masquerade as (or mask) a monotone trend. S = Σ_g S_g,
    Var = Σ_g Var_g (tie-corrected per season; the seasons-independent
    form — the serial-correlation covariance correction is out of
    scope and documented as such), continuity-corrected z, closed-form
    two-sided normal p. Per-season S routes through the same dual plan
    as :func:`mann_kendall` (``s_method``/``_KERNEL_THRESHOLD``, length
    measured PER (series, season) group — the pairwise form is quadratic
    in series length divided by the period; the merge-count kernel
    takes over above the bound with zero pair shuffle)."""
    from ..models._numeric import norm_cdf

    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    pts = df.where(F.col(value_col).isNotNull()).select(
        key_col,
        F.col(loc_col).alias("_l"),
        F.pmod(F.col(loc_col), F.lit(period)).alias("_g"),
        F.col(value_col).alias("_v"),
    )
    s_agg = (
        _mk_s_groups(pts, [key_col, "_g"], s_method)
        .groupBy(key_col)
        .agg(F.sum("s").alias("s"))
    )
    per_season = pts.groupBy(key_col, "_g").agg(
        F.count(F.lit(1)).alias("_ng")
    )
    ties = (
        pts.groupBy(key_col, "_g", "_v")
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy(key_col, "_g")
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).alias("_tie")
        )
    )
    ng = F.col("_ng").cast("double")
    var_g = F.when(
        F.col("_ng") >= 2,
        (ng * (ng - 1) * (2 * ng + 5) - F.col("_tie").cast("double"))
        / 18.0,
    ).otherwise(0.0)
    vars_ = (
        per_season.join(ties, [key_col, "_g"])
        .withColumn("_vg", var_g)
        .groupBy(key_col)
        .agg(
            F.sum("_ng").alias("n"),
            F.sum("_vg").alias("var_s"),
        )
    )
    s = F.col("s").cast("double")
    # same degenerate-evidence gate as mann_kendall: NULL/zero Var(S)
    # yields NULL z/p, never a spurious z=0/p=1
    z = F.when(
        F.col("var_s").isNotNull() & (F.col("var_s") > 0),
        F.when(s > 0, (s - 1) / F.sqrt("var_s"))
        .when(s < 0, (s + 1) / F.sqrt("var_s"))
        .otherwise(0.0),
    )
    out = (
        vars_.join(s_agg, key_col, "left")
        .withColumn("s", F.coalesce(F.col("s"), F.lit(0)))
        .withColumn("z", z)
    )

    @F.pandas_udf("double")
    def _p(zc: pd.Series) -> pd.Series:
        return zc.map(
            lambda v: None if pd.isna(v) else 2.0 * (1.0 - norm_cdf(abs(v)))
        )

    return out.select(
        key_col, "n", "s", "var_s", "z", _p(F.col("z")).alias("p_value")
    )


def page_hinkley(
    df: DataFrame,
    delta: float = 0.005,
    lam: float = 50.0,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Page-Hinkley drift test (Page 1954; the streaming-drift form in
    Gama et al. 2014) per point: input non-null rows + ``ph_pos`` /
    ``ph_neg`` (the increase/decrease statistics) + ``alarm`` (either
    side above ``lam``). m_t = Σ_{i≤t} (x_i − x̄_i ∓ δ) with x̄_i the
    RUNNING mean up to i; PH_t = m_t − min_{i≤t} m_i (increase side;
    max for the decrease side, sign-flipped so both are ≥ 0 and compare
    against the same λ). δ is the magnitude tolerance in VALUE units
    (unlike :func:`cusum`, PH is classically run unstandardized — the
    running mean IS the baseline estimate).

    Plan: the recursive-looking statistic is three stacked frames over
    the ONE (key, loc) sort — running mean, prefix sum of the deviation
    column, running min — identical shape to :func:`cusum`'s closed
    form; all JVM, O(n) rows per series."""
    pts = df.where(F.col(value_col).isNotNull())
    wc = (
        Window.partitionBy(key_col)
        .orderBy(loc_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v = F.col(value_col)
    d = (
        pts.withColumn("_rm", F.avg(value_col).over(wc))
        .withColumn("_dp", v - F.col("_rm") - F.lit(float(delta)))
        .withColumn("_dn", v - F.col("_rm") + F.lit(float(delta)))
        .withColumn("_mp", F.sum("_dp").over(wc))
        .withColumn("_mn", F.sum("_dn").over(wc))
        .withColumn(
            "ph_pos",
            F.col("_mp") - F.least(F.min("_mp").over(wc), F.lit(0.0)),
        )
        .withColumn(
            "ph_neg",
            F.greatest(F.max("_mn").over(wc), F.lit(0.0)) - F.col("_mn"),
        )
        .withColumn(
            "alarm",
            (F.col("ph_pos") > float(lam)) | (F.col("ph_neg") > float(lam)),
        )
    )
    return d.drop("_rm", "_dp", "_dn", "_mp", "_mn")
