"""Single mean-shift changepoint per series (binary-segmentation step).

Beyond-reference (the reference's change detection surface is the CUSUM
gate this engine already ships in ``operators/cusum.py``); this is the
offline companion: the first step of binary segmentation (Scott & Knott
1974; the AMOC case of Killick & Eckley's ``changepoint``), which an
alerting pipeline runs to LOCATE the level shift CUSUM flagged.

Statistic: for every admissible split after position ``i`` (1-based,
``minseg ≤ i ≤ n - minseg``) over the non-NULL cells of a series,

    T(i) = sqrt(i · (n − i) / n) · |mean(left) − mean(right)|

— the two-sample mean-shift statistic under a common-variance normal
model; the changepoint is the argmax split. Returned per key:
``cp_loc`` (the ``loc`` of the LAST point of the left segment),
``stat`` (T at the argmax), ``mean_left``, ``mean_right``.

Determinism: the argmax is taken on T ROUNDED to ``round_digits``
decimals with ties broken by the SMALLEST split position — so two
engines that agree on T to 6 decimals (they do: it's one subtraction,
one multiply, one sqrt over exact prefix sums) pick the same split even
when the unrounded values differ in the last bit.

Plan: one (key, loc) window pass builds prefix count/sum (map-side after
the single exchange), a per-key window computes the series totals, the
statistic is a JVM column expression per row, and ONE map-side-combined
groupBy takes the struct-min argmax. No Python, no self-join, no
quadratic anything — O(n) rows per series throughout, so the operator
scales to arbitrarily many series (the 100 TB axis) and to long series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["changepoint_mean", "pettitt", "intervention_analysis", "bocpd"]


def changepoint_mean(
    df: DataFrame,
    minseg: int = 2,
    round_digits: int = 6,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Most likely single mean-shift split per series.

    NULL cells are dropped first (splits are over the observed
    subsequence, positions counted over non-NULL cells only). Series with
    fewer than ``2 * minseg`` observations produce no row.
    """
    if minseg < 1:
        raise ValueError("minseg must be >= 1")
    obs = df.where(F.col(value_col).isNotNull())
    wcum = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(key_col)
    pre = (
        obs.withColumn("_i", F.count(value_col).over(wcum))
        .withColumn("_s", F.sum(value_col).over(wcum))
        .withColumn("_n", F.count(value_col).over(wall))
        .withColumn("_t", F.sum(value_col).over(wall))
    )
    i, s, n, t = F.col("_i"), F.col("_s"), F.col("_n"), F.col("_t")
    admissible = (i >= minseg) & (i <= n - minseg)
    ml = s / i
    mr = (t - s) / (n - i)
    stat = F.sqrt(i * (n - i) / n) * F.abs(ml - mr)
    # argmax on the ROUNDED statistic; earliest split on ties (struct-min
    # over (-stat_r, i) — both components integer-or-rounded, so the pick
    # is bit-stable across engines)
    scale = float(10**round_digits)
    stat_r = F.floor(stat * scale + F.lit(0.500001)) / scale
    arg = F.struct(
        (-stat_r).alias("negstat"),
        i.alias("i"),
        F.col(order_col).alias("loc"),
        ml.alias("ml"),
        mr.alias("mr"),
    )
    return (
        pre.where(admissible & (n >= 2 * minseg))
        .groupBy(key_col)
        .agg(F.min(arg).alias("_a"))
        .select(
            key_col,
            F.col("_a.loc").alias("cp_loc"),
            (-F.col("_a.negstat")).alias("stat"),
            F.col("_a.ml").alias("mean_left"),
            F.col("_a.mr").alias("mean_right"),
        )
    )


def pettitt(
    df: DataFrame,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Pettitt (1979) nonparametric single-changepoint test per series →
    (key, n, k_stat, cp_loc, p_value): the rank-based companion of
    :func:`changepoint_mean` — no normality assumption, robust to
    outliers. U_t = Σ_{i≤t} Σ_{j>t} sgn(x_j − x_i); K = max_t |U_t|;
    the changepoint is the argmax t (``cp_loc`` = the ``loc`` of the
    last point of the first segment; ties → smallest t); the
    approximate significance is Pettitt's closed form
    p ≈ 2·exp(−6K²/(n³ + n²)) (capped at 1 — exact for one-sided K,
    conservative at tiny K; a closed form, so fully oracle-replayable).
    Series with n < 2 yield no row.

    Plan: the naive statistic is O(n²) per t; this implementation is
    JOIN-FREE via the midrank identity U_t = t·(n+1) − 2·Σ_{i≤t} r_i,
    where r_i is the MIDRANK of x_i within its series (2·r_i = 2·rank +
    ties − 1 — an INTEGER, so the whole computation is exact long
    arithmetic with zero float drift). Proof sketch: Σ_{j≠i}
    sgn(x_i − x_j) = 2r_i − (n+1); summing over i ≤ t cancels the
    within-prefix pairs (antisymmetry) and leaves −U_t. Physical plan:
    one value-ordered rank window + one tie-count window + one
    time-ordered prefix sum + one struct-min argmax — O(n) rows per
    series end to end, ZERO joins (plan-pinned in
    ``tests/test_plans.py::test_pettitt_no_join``), so the operator
    scales in BOTH the corpus axis and the series-length axis (the r7
    pairwise form shuffled ~n²/2 rows per series — 9.6M at n=4400)."""
    pts = df.where(F.col(value_col).isNotNull()).select(
        key_col,
        F.col(order_col).alias("_l"),
        F.col(value_col).alias("_v"),
    )
    wv = Window.partitionBy(key_col).orderBy("_v")
    wtie = Window.partitionBy(key_col, "_v")
    wk = Window.partitionBy(key_col)
    wt = Window.partitionBy(key_col).orderBy("_l")
    wpre = wt.rowsBetween(Window.unboundedPreceding, 0)
    ranked = (
        pts.withColumn(
            "_2r",
            2 * F.rank().over(wv) + F.count(F.lit(1)).over(wtie) - 1,
        )
        .withColumn("_n", F.count(F.lit(1)).over(wk))
        .withColumn("_t", F.row_number().over(wt))
        .withColumn("_sum2r", F.sum("_2r").over(wpre))
    )
    # 2·midrank = 2·minrank + (ties − 1); minrank = rank(). U_t over
    # admissible splits t < n (U_n = 0 by construction, not admissible).
    u_col = F.col("_t") * (F.col("_n") + 1) - F.col("_sum2r")
    ut = ranked.withColumn("_u", u_col).where(F.col("_t") < F.col("_n"))
    best = (
        ut.groupBy(key_col)
        .agg(
            F.max("_n").alias("n"),
            F.min(
                F.struct(
                    (-F.abs(F.col("_u"))).alias("_negk"),
                    F.col("_t").alias("_pos"),
                    F.col("_l").alias("_loc"),
                    F.abs(F.col("_u")).alias("_k"),
                )
            ).alias("_b"),
        )
    )
    n = F.col("n").cast("double")
    k = F.col("_b._k").cast("double")
    p = F.least(
        F.lit(1.0), 2.0 * F.exp(-6.0 * k * k / (n * n * n + n * n))
    )
    return best.select(
        key_col,
        "n",
        F.col("_b._k").alias("k_stat"),
        F.col("_b._loc").alias("cp_loc"),
        p.alias("p_value"),
    )


def intervention_analysis(
    df: DataFrame,
    break_loc: float,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Interrupted-time-series segmented regression per series around a
    KNOWN intervention point (Box & Tiao 1975's intervention setting,
    in the segmented-OLS form every policy/deploy analysis uses;
    :func:`pettitt` / :func:`changepoint_mean` find an UNKNOWN break —
    this quantifies a known one) → (key, n_pre, n_post, slope_pre,
    slope_post, slope_change, level_change):

    - independent OLS fits value ~ a + b·loc on the pre (loc <
      ``break_loc``) and post (loc ≥ ``break_loc``) segments, in closed
      form from the five classical sums (n, Σt, Σt², Σy, Σt·y);
    - ``slope_change`` = b_post − b_pre (trend shift);
    - ``level_change`` = (a_post + b_post·t0) − (a_pre + b_pre·t0) —
      the jump between the two fitted lines AT the break (the ITS
      "level effect").

    A segment with < 2 points or zero loc variance yields NULL slope
    (try_divide), which propagates to the changes. NULL cells are
    skipped. Plan: ONE map-side-combinable groupBy(key) of conditional
    sums — zero windows, zero joins; a word-count at 100 TB."""
    v = F.col(value_col)
    t = F.col(loc_col).cast("double")
    pre = t < F.lit(float(break_loc))
    pts = df.where(v.isNotNull())

    def seg_aggs(cond, tag):
        vv = F.when(cond, v)
        tt = F.when(cond, t)
        return [
            F.count(vv).alias(f"_n{tag}"),
            F.sum(tt).alias(f"_st{tag}"),
            F.sum(tt * tt).alias(f"_st2{tag}"),
            F.sum(vv).alias(f"_sy{tag}"),
            F.sum(tt * vv).alias(f"_sty{tag}"),
        ]

    agg = pts.groupBy(key_col).agg(
        *seg_aggs(pre, "p"), *seg_aggs(~pre, "q")
    )

    def fit(tag):
        n = F.col(f"_n{tag}").cast("double")
        st, st2 = F.col(f"_st{tag}"), F.col(f"_st2{tag}")
        sy, sty = F.col(f"_sy{tag}"), F.col(f"_sty{tag}")
        slope = F.try_divide(n * sty - st * sy, n * st2 - st * st)
        inter = F.try_divide(sy - slope * st, n)
        return slope, inter

    sp, ip = fit("p")
    sq, iq = fit("q")
    t0 = F.lit(float(break_loc))
    return agg.select(
        key_col,
        F.col("_np").alias("n_pre"),
        F.col("_nq").alias("n_post"),
        sp.alias("slope_pre"),
        sq.alias("slope_post"),
        (sq - sp).alias("slope_change"),
        ((iq + sq * t0) - (ip + sp * t0)).alias("level_change"),
    )


def bocpd(
    df: DataFrame,
    hazard: float = 1.0 / 100.0,
    mu0: float = 0.0,
    kappa0: float = 1.0,
    alpha0: float = 1.0,
    beta0: float = 1.0,
    trunc: float = 1e-6,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Bayesian online changepoint detection (Adams & MacKay 2007) per
    series → one row per non-null observation: (key, loc, p_cp — the
    posterior probability that a new regime STARTS at this point;
    run_map — the MAP run length, counted as points-since-segment-start
    minus one). The online/probabilistic complement of :func:`pettitt`
    (single retrospective break) and :func:`changepoint_mean` — BOCPD
    emits a full posterior as data arrives and handles any number of
    breaks.

    Model: constant hazard H (geometric segment lengths, E[len] = 1/H);
    Gaussian observations with Normal-Gamma conjugate prior
    (μ₀, κ₀, α₀, β₀) → Student-t predictives, computed in log space.
    Convention: r_t = 0 means x_t is the FIRST point of a new segment,
    so the changepoint path scores x_t under the PRIOR predictive and
    the growth paths under each run's posterior predictive (the
    Fearnhead 2006 exact-filtering form). Under AM07's original
    x_t-under-old-run convention, constant hazard makes P(r_t = 0)
    identically H — a useless detector; this form makes p_cp spike
    exactly when the prior explains x_t better than every active run.
    Run-length mass below ``trunc`` is pruned then renormalized — the
    standard truncation that keeps the per-step state O(effective run
    lengths), so a T-point series costs O(T·R) not O(T²), bounded
    memory.

    Plan: sequential posterior recursion — inherently order-dependent,
    so a grouped-map numpy kernel (the DTW/STL precedent; no SQL oracle
    exists for a filtered posterior). One shuffle on key; each series
    in-core."""
    if not 0.0 < hazard < 1.0:
        raise ValueError(f"hazard must be in (0, 1), got {hazard}")
    import pandas as pd  # noqa: F811

    kt = df.schema[key_col].dataType.simpleString()
    lt = df.schema[order_col].dataType.simpleString()

    # the Student-t predictive log-pdf is written out explicitly via
    # lgamma (math.lgamma vectorized through numpy) — no scipy here
    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        import numpy as np

        pdf = pdf[pdf[value_col].notna()].sort_values(order_col)
        x = pdf[value_col].to_numpy(dtype=float)
        locs = pdf[order_col].to_numpy()
        n = x.size
        if n == 0:
            return pd.DataFrame(
                {key_col: [], order_col: [], "p_cp": [], "run_map": []}
            )
        key = pdf[key_col].iloc[0]
        logH, log1mH = math.log(hazard), math.log(1.0 - hazard)

        # every path's alpha is alpha0 + 0.5 x (points absorbed), and a
        # path at run length r has absorbed exactly r + 1 points — so the
        # two lgamma terms only ever take n distinct values. Precompute
        # them ONCE by the SAME repeated +0.5 additions the posterior
        # update performs (bit-identical alphas), replacing the
        # np.vectorize(math.lgamma) path that cost two python-level calls
        # per active run per step (the sf0.1 bench's 16 s hotspot).
        al_tab = np.empty(n + 1)
        al_tab[0] = alpha0
        for j in range(1, n + 1):
            al_tab[j] = al_tab[j - 1] + 0.5
        lg_num = np.array(
            [math.lgamma((2.0 * a + 1.0) / 2.0) for a in al_tab]
        )
        lg_den = np.array([math.lgamma((2.0 * a) / 2.0) for a in al_tab])

        def student_logpdf(xi, mu_, kap_, al_, be_, jidx):
            """jidx = points absorbed per path (indexes the lgamma
            tables); al_ still carries the exact alpha values for the
            scale arithmetic."""
            df_t = 2.0 * al_
            scale2 = be_ * (kap_ + 1.0) / (al_ * kap_)
            z2 = (xi - mu_) ** 2 / scale2
            return (
                lg_num[jidx]
                - lg_den[jidx]
                - 0.5 * np.log(np.pi * df_t * scale2)
                - (df_t + 1.0) / 2.0 * np.log1p(z2 / df_t)
            )

        def posterior(xi, mu_, kap_, al_, be_):
            return (
                (kap_ * mu_ + xi) / (kap_ + 1.0),
                kap_ + 1.0,
                al_ + 0.5,
                be_ + kap_ * (xi - mu_) ** 2 / (2.0 * (kap_ + 1.0)),
            )

        p_cp = np.empty(n)
        run_map = np.empty(n, dtype=np.int64)
        prior = (
            np.array([mu0]), np.array([kappa0]),
            np.array([alpha0]), np.array([beta0]),
        )
        # x_0 necessarily starts the first segment
        mu, kap, al, be = posterior(x[0], *prior)
        logp = np.array([0.0])
        runs = np.array([0], dtype=np.int64)
        p_cp[0] = 1.0
        run_map[0] = 0
        for i in range(1, n):
            # growth: x_i under each active run's posterior predictive
            grow = (
                logp
                + student_logpdf(x[i], mu, kap, al, be, runs + 1)
                + log1mH
            )
            # changepoint: x_i is the FIRST point of a new segment —
            # scored under the prior predictive; prior mass sums to 1
            cp_mass = float(
                student_logpdf(x[i], *prior, np.array([0]))[0]
            ) + logH
            new_logp = np.concatenate(([cp_mass], grow))
            norm = new_logp.max() + math.log(
                np.exp(new_logp - new_logp.max()).sum()
            )
            new_logp -= norm
            # posterior params: every path absorbs x_i (the r = 0
            # component is the prior updated with x_i alone)
            m0, k0_, a0_, b0_ = posterior(x[i], *prior)
            mg, kg, ag, bg = posterior(x[i], mu, kap, al, be)
            mu_new = np.concatenate((m0, mg))
            kap_new = np.concatenate((k0_, kg))
            al_new = np.concatenate((a0_, ag))
            be_new = np.concatenate((b0_, bg))
            runs_new = np.concatenate(([0], runs + 1))
            # truncate tiny mass, renormalize
            keep = new_logp >= math.log(trunc)
            keep[0] = True
            mu, kap, al, be = (
                mu_new[keep], kap_new[keep], al_new[keep], be_new[keep]
            )
            runs = runs_new[keep]
            logp = new_logp[keep]
            logp -= logp.max() + math.log(np.exp(logp - logp.max()).sum())
            p_cp[i] = math.exp(logp[0])
            run_map[i] = runs[np.argmax(logp)]
        return pd.DataFrame(
            {key_col: key, order_col: locs, "p_cp": p_cp,
             "run_map": run_map}
        )

    from ..parallel import map_groups

    return map_groups(
        df, key_col, kern,
        f"`{key_col}` {kt}, `{order_col}` {lt}, p_cp double, run_map long",
    )
