"""Distribution-shape hypothesis tests per series: Jarque-Bera
normality, Mann-Whitney half-split location shift, Brown-Forsythe
variance homogeneity across calendar groups.

Beyond-reference (sryza/spark-timeseries's test surface is the
residual-diagnostic suite — ADF/KPSS/DW/BG/LB/BP in
``src/main/scala/com/cloudera/sparkts/stats/TimeSeriesStatisticalTests.scala``);
these are the complementary DISTRIBUTION tests a data-quality pass
asks of the raw series: is it Gaussian (Jarque & Bera 1987), did its
location shift between the first and second half (Mann & Whitney
1947), is its spread stable across weekdays (Brown & Forsythe 1974)?

Conventions shared by all three:

- NULL values are dropped before testing (the ``kruskal_dow``
  convention).
- Mid-ranks for ties (rank() + (tie_size − 1)/2 — the standard
  average-rank treatment), tie corrections applied where the test
  defines one.
- p-values are emitted only where the reference distribution has a
  closed form (χ²₂ survival = exp(−x/2) for Jarque-Bera). The
  Mann-Whitney z and Brown-Forsythe F are returned as statistics with
  their degrees of freedom; compare downstream (normal / F tables) —
  the engine ships no special-function library and an erf
  approximation would break bit-parity with the SQL oracle.

Plan shapes (all JVM, no Python, no joins):

- ``jarque_bera``: one per-key mean window + ONE map-side-combinable
  aggregate of centered power sums.
- ``mann_whitney_halves``: two windows (value mid-rank, time
  row-number) on the same key partition + ONE aggregate.
- ``brown_forsythe_dow``: one per-(key, group) median window + one
  per-(key, group) aggregate + one per-key aggregate.

All scale linearly in rows and parallelize across keys — at 100 TB
the only exchange is the hash partition on the key (and Catalyst
reuses one sort for windows sharing a partition/order).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .fill import suffix_window

__all__ = [
    "jarque_bera",
    "mann_whitney_halves",
    "brown_forsythe_dow",
    "fdr_bh",
    "cramers_v",
    "welch_t",
    "mcnemar",
    "wilcoxon_signed",
    "friedman",
    "chow",
    "g_test",
    "cohen_kappa",
    "cochran_armitage",
    "anova_oneway",
    "kendall_tau_b",
    "energy_distance",
    "partial_corr",
    "theil_u",
]


def jarque_bera(
    df: DataFrame,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Jarque-Bera normality test per series → (key, n, skew, kurt,
    jb, p_value): skew g₁ = m₃/m₂^1.5 and excess kurtosis g₂ =
    m₄/m₂² − 3 over BIASED central moments mₖ = Σ(x−x̄)ᵏ/n (the
    classical JB moments, not the sample-adjusted b-coefficients),
    JB = n/6·(g₁² + g₂²/4), p = exp(−JB/2) — the exact χ²₂ survival
    function (closed form, so the p-value ships). NULL statistics
    when the series is constant (m₂ = 0 → try_divide); single-point
    series (n < 2) are dropped, not NULLed.

    Centering is explicit (per-key mean window, then one aggregate of
    (x−x̄)ᵏ sums) rather than raw-moment algebra — raw fourth moments
    of large-magnitude values lose the ~10 significant digits the
    6-digit oracle round requires; centered powers do not."""
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    wk = Window.partitionBy(key_col)
    # keep key_col UN-aliased: the aggregate then groups on the exact
    # column the window partitioned by, and Catalyst reuses one exchange
    c = pts.select(
        F.col(key_col),
        (v - F.avg(v).over(wk)).alias("_c"),
    )
    d = F.col("_c")
    agg = c.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(d * d).alias("_m2"),
        F.avg(d * d * d).alias("_m3"),
        F.avg(d * d * d * d).alias("_m4"),
    )
    m2, m3, m4 = F.col("_m2"), F.col("_m3"), F.col("_m4")
    skew = F.try_divide(m3, F.sqrt(m2 * m2 * m2))
    kurt = F.try_divide(m4, m2 * m2) - 3.0
    jb = (
        F.col("n").cast("double")
        / 6.0
        * (skew * skew + kurt * kurt / 4.0)
    )
    return agg.where(F.col("n") >= 2).select(
        key_col,
        "n",
        skew.alias("skew"),
        kurt.alias("kurt"),
        jb.alias("jb"),
        F.exp(-jb / 2.0).alias("p_value"),
    )


def mann_whitney_halves(
    df: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Mann-Whitney U location-shift test per series, first half vs
    second half in time order → (key, n1, n2, u1, z): did the
    distribution's location move? The rank-based companion of a
    mean-shift t-test (outlier-proof, no normality assumption) and
    the two-sample sibling of :func:`~.changepoint` detectors — here
    the split point is FIXED at the series midpoint (first
    ⌈n/2⌉ observations = group 1), not searched.

    U₁ = R₁ − n₁(n₁+1)/2 over mid-ranks of the pooled series; z is
    the tie-corrected normal approximation with a ±0.5 continuity
    correction toward the null, σ² = n₁n₂/12·((N+1) −
    Σ(t³−t)/(N(N−1))) (Mann & Whitney 1947; Lehmann 1975 tie form).
    NULL z when every value is tied (σ = 0) or a half is empty.
    Compare |z| to the normal table downstream (module docstring).

    Plan: a time row-number window and a value mid-rank window on the
    same key partition, then ONE aggregate — no join, no Python."""
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    wt = Window.partitionBy(key_col).orderBy(ts_col)
    wr = Window.partitionBy(key_col).orderBy(value_col)
    wtie = Window.partitionBy(key_col, value_col)
    wn = Window.partitionBy(key_col)
    # un-aliased key_col: one exchange shared by every window + the agg
    d = pts.select(
        F.col(key_col),
        (
            F.row_number().over(wt)
            <= F.ceil(F.count(F.lit(1)).over(wn) / 2.0)
        ).alias("_g1"),
        (
            F.rank().over(wr)
            + (F.count(F.lit(1)).over(wtie) - 1) / 2.0
        ).alias("_r"),
        F.count(F.lit(1)).over(wtie).alias("_t"),
    )
    agg = d.groupBy(key_col).agg(
        F.sum(F.col("_g1").cast("long")).alias("n1"),
        F.sum((~F.col("_g1")).cast("long")).alias("n2"),
        F.sum(F.when(F.col("_g1"), F.col("_r"))).alias("_r1"),
        # t² − 1 summed over member rows = Σ over tie groups of t³ − t
        F.sum(F.col("_t") * F.col("_t") - 1).alias("_tsum"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    nn = n1 + n2
    u1 = F.col("_r1") - n1 * (n1 + 1.0) / 2.0
    mu = n1 * n2 / 2.0
    # try_divide: a key with a single non-null row has N(N−1) = 0, which
    # under ANSI mode would abort the job instead of honoring the
    # documented NULL-z contract (the module-wide try_divide convention)
    sigma = F.sqrt(
        n1
        * n2
        / 12.0
        * (
            (nn + 1.0)
            - F.try_divide(
                F.col("_tsum").cast("double"), nn * (nn - 1.0)
            )
        )
    )
    dev = u1 - mu
    # continuity correction shrinks |dev| by 0.5, never across zero
    corrected = F.signum(dev) * F.greatest(
        F.abs(dev) - 0.5, F.lit(0.0)
    )
    return agg.select(
        key_col,
        "n1",
        "n2",
        u1.alias("u1"),
        F.try_divide(corrected, sigma).alias("z"),
    )


def brown_forsythe_dow(
    df: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test per series across
    day-of-week groups → (key, n, n_groups, df1, df2, f_stat): is the
    SPREAD stable across weekdays? The median-centered Levene variant
    (Brown & Forsythe 1974 — robust to non-normality, unlike Bartlett)
    and the scale companion of :func:`~.features.kruskal_dow`'s
    location test: one-way ANOVA F on zᵢⱼ = |xᵢⱼ − median(group i)|,
    F = [(N−k)/(k−1)] · Σnᵢ(z̄ᵢ−z̄)² / ΣΣ(zᵢⱼ−z̄ᵢ)², df = (k−1, N−k).
    Group medians are EXACT (``percentile`` — the ``robust_scale``
    parity convention). NULL f_stat when the within-group sum is 0
    (all |deviations| equal) or k < 2. Compare to the F table
    downstream (module docstring).

    Plan: one per-(key, dow) exact-percentile window, one (key, dow)
    aggregate, one key aggregate — no join, no Python. Day-of-week
    grouping only (the calendar axis the engine's seasonal operators
    share); generalize by pre-computing a group column upstream."""
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    wg = Window.partitionBy(key_col, F.dayofweek(ts_col))
    z = pts.select(
        F.col(key_col).alias("_k"),
        F.dayofweek(ts_col).alias("_dow"),
        F.abs(
            v - F.expr(f"percentile({value_col}, 0.5)").over(wg)
        ).alias("_z"),
    )
    g = z.groupBy("_k", "_dow").agg(
        F.count(F.lit(1)).alias("_ni"),
        F.avg("_z").alias("_zi"),
        F.sum(F.col("_z") * F.col("_z")).alias("_zz"),
    )
    # within-group Σ(z−z̄ᵢ)² = Σz² − nᵢ·z̄ᵢ² (exact on these scales; z ≥ 0)
    agg = g.groupBy(F.col("_k").alias(key_col)).agg(
        F.sum("_ni").alias("n"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.col("_ni") * F.col("_zi")).alias("_sz"),
        F.sum(
            F.col("_ni").cast("double") * F.col("_zi") * F.col("_zi")
        ).alias("_bsq"),
        F.sum(
            F.col("_zz")
            - F.col("_ni").cast("double") * F.col("_zi") * F.col("_zi")
        ).alias("_within"),
    )
    nn = F.col("n").cast("double")
    k = F.col("n_groups").cast("double")
    zbar = F.col("_sz") / nn
    between = F.col("_bsq") - nn * zbar * zbar
    f_stat = F.try_divide(
        (nn - k) / (k - 1.0) * between, F.col("_within")
    )
    return agg.where(F.col("n_groups") >= 2).select(
        key_col,
        "n",
        "n_groups",
        (F.col("n_groups") - 1).alias("df1"),
        (F.col("n") - F.col("n_groups")).alias("df2"),
        f_stat.alias("f_stat"),
    )


def fdr_bh(
    df: DataFrame,
    p_col: str = "p",
    alpha: float = 0.05,
    group_col: str | None = None,
) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate correction → the input
    rows plus (q, reject): q_i = min_{j ≥ i}(p_(j) · m / j) clamped to
    1 (the BH adjusted p-value), reject = q ≤ alpha. The mandatory
    companion of any per-series test fanned out over thousands of keys
    (``jarque_bera``, ``stats_suite``, …) — controlling FDR instead of
    per-test α. Tied p-values receive identical q regardless of their
    ordering among themselves (the backward running-min absorbs the
    tie block), so the output is deterministic without a tie-break
    column. NULL p rows are excluded from m and pass through with NULL
    q / NULL reject.

    Plan: an ascending rank window, then the backward running min as a
    prefix frame over the materialized rank descending
    (:func:`~.fill.suffix_window`) — two sorts over the p table, a table
    of test RESULTS (one row per series/test), orders of magnitude
    smaller than the data; with ``group_col`` (one test family per
    group) both windows partition by it."""
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    gcols = [group_col] if group_col is not None else []
    w_rank = Window.partitionBy(*gcols).orderBy(F.col(p_col).asc())
    w_part = Window.partitionBy(*gcols)
    # ordered by the unique rank, not by p: tied p-values keep their ranks
    w_back = suffix_window(gcols, "_i")
    ok = df.where(F.col(p_col).isNotNull())
    m = F.count(F.lit(1)).over(w_part).cast("double")
    d = ok.withColumn("_i", F.row_number().over(w_rank))
    d = d.withColumn("_raw", F.col(p_col) * m / F.col("_i").cast("double"))
    d = d.withColumn(
        "q", F.least(F.min("_raw").over(w_back), F.lit(1.0))
    ).drop("_raw", "_i")
    d = d.withColumn("reject", F.col("q") <= F.lit(float(alpha)))
    bad = df.where(F.col(p_col).isNull()).withColumn(
        "q", F.lit(None).cast("double")
    ).withColumn("reject", F.lit(None).cast("boolean"))
    return d.unionByName(bad)


def cramers_v(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Association strength between two CATEGORICAL columns → ONE row:
    (n, r, c, chi2, dof, v, v_corrected). chi2 is the Pearson
    contingency statistic Σ (o − e)²/e over the r×c table with
    e = row_tot·col_tot/n, computed via the algebraically identical
    χ² = n·(Σ o²/(row_tot·col_tot) − 1) so EMPTY cells — absent from
    the groupBy output — still contribute their (0 − e)²/e mass
    without materializing the zero scaffold;
    V = √(chi2/(n·(min(r,c) − 1))) (Cramér
    1946) ∈ [0, 1]; ``v_corrected`` applies the Bergsma (2013)
    bias correction (φ̃² = max(0, φ² − (r−1)(c−1)/(n−1)) with
    similarly shrunk r̃, c̃) — the plain V overstates association in
    small samples / large tables. NULL categories are dropped
    (stated). Complements :func:`~..pipeline.clean.profile_columns`
    (per-column shape) and the info-theoretic
    :func:`~.infotheory.mutual_information` (which needs binning for
    continuous data; V is the χ²-scale analog for categoricals).

    Plan: ONE groupBy(a, b) full-data pass; the margins and the
    chi-square run on the r×c CELL table (two windows + one reduce —
    bounded by category cardinalities, not rows). No joins, no
    Python."""
    cells = (
        df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    wa = Window.partitionBy("_a")
    wb = Window.partitionBy("_b")
    o = F.col("_o").cast("double")
    # o^2/(row_tot * col_tot): zero cells contribute 0 to this sum, and
    # the n*(S - 1) identity folds their (0 - e)^2/e mass in exactly
    cells = cells.select(
        "_a", "_b", "_o",
        (
            o * o
            / (
                F.sum("_o").over(wa).cast("double")
                * F.sum("_o").over(wb).cast("double")
            )
        ).alias("_t"),
    )
    agg = cells.groupBy(F.lit(1).alias("_j")).agg(
        F.sum("_o").alias("_ncheck"),
        F.countDistinct("_a").alias("_r"),
        F.countDistinct("_b").alias("_c"),
        F.sum("_t").alias("_s"),
    )
    nd = F.col("_ncheck").cast("double")
    agg = agg.withColumn("chi2", nd * (F.col("_s") - 1.0))
    r, c = F.col("_r").cast("double"), F.col("_c").cast("double")
    phi2 = F.col("chi2") / nd
    # Bergsma bias correction: shrink phi2 and the table dims by their
    # small-sample expectation under independence
    phi2c = F.greatest(
        F.lit(0.0), phi2 - (r - 1.0) * (c - 1.0) / (nd - 1.0)
    )
    rc = r - (r - 1.0) * (r - 1.0) / (nd - 1.0)
    cc = c - (c - 1.0) * (c - 1.0) / (nd - 1.0)
    return agg.select(
        F.col("_ncheck").cast("long").alias("n"),
        F.col("_r").cast("int").alias("r"),
        F.col("_c").cast("int").alias("c"),
        "chi2",
        ((F.col("_r") - 1) * (F.col("_c") - 1)).cast("int").alias("dof"),
        F.sqrt(
            F.try_divide(phi2, F.least(r, c) - 1.0)
        ).alias("v"),
        F.sqrt(
            F.try_divide(phi2c, F.least(rc, cc) - 1.0)
        ).alias("v_corrected"),
    )


def welch_t(
    df: DataFrame,
    group_col: str = "group",
    value_col: str = "value",
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups → ONE row:
    (n1, n2, mean1, mean2, t_stat, df). t = (x̄₂ − x̄₁)/√(s₁²/n₁ +
    s₂²/n₂) with the Welch-Satterthwaite degrees of freedom
    ν = (s₁²/n₁ + s₂²/n₂)² / ((s₁²/n₁)²/(n₁−1) + (s₂²/n₂)²/(n₂−1))
    (Welch 1947) — the default two-sample mean test (Student's
    equal-variance form is a special case that buys nothing and risks
    a broken size under variance heterogeneity). Group 1 = the
    lexicographically smaller group value; exactly two groups required
    (raises otherwise — the srm_check discipline). t/df NULL when a
    group is degenerate (n < 2 or both variances 0). No p-value: the
    t CDF has no closed form (module convention — compare |t| against
    the t table at ν downstream).

    Empty-input contract: an EMPTY (or all-NULL-value) input yields
    ZERO rows, not a NULL-statistic row — the groupBy(lit(1)) reduce
    has nothing to group (module convention for pure one-row test
    readouts). Callers that crossJoin the result against base rows
    need a global ``.agg`` instead (the eb_shrinkage rule).

    Plan: ONE map-side-combinable groupBy(group) + a 2-row reduce.
    No windows on data, no joins, no Python."""
    g = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("_g"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.avg(F.col(value_col).cast("double")).alias("_m"),
            F.var_samp(F.col(value_col).cast("double")).alias("_v"),
        )
    )
    w = Window.partitionBy(F.lit(1)).orderBy("_g")
    r = g.select(
        F.row_number().over(w).alias("_i"), "_n", "_m", "_v"
    )
    agg = r.groupBy(F.lit(1).alias("_j")).agg(
        F.count(F.lit(1)).alias("_k"),
        F.max(F.when(F.col("_i") == 1, F.col("_n"))).alias("n1"),
        F.max(F.when(F.col("_i") == 2, F.col("_n"))).alias("n2"),
        F.max(F.when(F.col("_i") == 1, F.col("_m"))).alias("mean1"),
        F.max(F.when(F.col("_i") == 2, F.col("_m"))).alias("mean2"),
        F.max(F.when(F.col("_i") == 1, F.col("_v"))).alias("_v1"),
        F.max(F.when(F.col("_i") == 2, F.col("_v"))).alias("_v2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    a = F.col("_v1") / n1
    b = F.col("_v2") / n2
    t = F.try_divide(F.col("mean2") - F.col("mean1"), F.sqrt(a + b))
    dfree = F.try_divide(
        (a + b) * (a + b),
        F.try_divide(a * a, n1 - 1.0) + F.try_divide(b * b, n2 - 1.0),
    )
    return agg.select(
        # k-check embedded in the emitted n1 (the srm_check pattern)
        F.when(F.col("_k") == 2, F.col("n1"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("welch_t needs exactly 2 groups, got "),
                    F.col("_k").cast("string"),
                )
            )
        )
        .alias("n1"),
        "n2", "mean1", "mean2",
        t.alias("t_stat"),
        dfree.alias("df"),
    )


def mcnemar(
    df: DataFrame,
    before_col: str = "before",
    after_col: str = "after",
) -> DataFrame:
    """McNemar's test of marginal homogeneity for PAIRED binary
    outcomes → ONE row: (n, n00, n01, n10, n11, chi2, reject_05).
    Only the discordant cells carry information: with b = n01
    (before 0, after 1) and c = n10, χ² = (|b − c| − 1)²/(b + c)
    (Edwards 1948 continuity-corrected form of McNemar 1947),
    compared against the df = 1 upper-5% critical value 3.841. The
    standard readout for "did the change flip outcomes" on the SAME
    subjects — model A vs model B on one eval set, pre vs post per
    user — where a two-proportion z-test would ignore the pairing.
    chi2 NULL when b + c = 0 (no discordant pairs — nothing to test).
    NULL-valued pairs are dropped (stated).

    Plan: ONE map-side-combinable aggregate of the four cell counts.
    No windows, no joins, no Python."""
    b0 = F.col(before_col).cast("int")
    a0 = F.col(after_col).cast("int")
    pts = df.where(b0.isNotNull() & a0.isNotNull())
    agg = pts.groupBy(F.lit(1).alias("_j")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(((b0 == 0) & (a0 == 0)).cast("long")).alias("n00"),
        F.sum(((b0 == 0) & (a0 == 1)).cast("long")).alias("n01"),
        F.sum(((b0 == 1) & (a0 == 0)).cast("long")).alias("n10"),
        F.sum(((b0 == 1) & (a0 == 1)).cast("long")).alias("n11"),
    )
    b = F.col("n01").cast("double")
    c = F.col("n10").cast("double")
    num = (F.abs(b - c) - 1.0) * (F.abs(b - c) - 1.0)
    chi2 = F.try_divide(num, b + c)
    return agg.select(
        "n", "n00", "n01", "n10", "n11",
        chi2.alias("chi2"),
        (chi2 > 3.841).alias("reject_05"),
    )


def wilcoxon_signed(
    df: DataFrame,
    diff_col: str = "diff",
) -> DataFrame:
    """Wilcoxon signed-rank test on a column of PAIRED differences →
    ONE row: (n, n_zero, w_plus, w_minus, z). Zero differences are
    dropped (Wilcoxon 1945 convention; their count is reported),
    |d| is mid-ranked, W⁺ = Σ ranks of positive d; z is the
    tie-corrected normal approximation with ±0.5 continuity
    correction: σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48 (Lehmann 1975).
    The paired sibling of :func:`mann_whitney_halves` — location
    shift of matched before/after measurements without normality.
    z NULL when σ = 0 (all |d| tied at one value after zero-drop ≤ 1
    row). No p-value (module convention — normal table downstream).

    Empty-input contract: an input with NO non-zero differences (all
    d = 0 or empty) yields ZERO rows, not a NULL-statistic row — the
    groupBy(lit(1)) reduce has nothing to group (module convention
    for pure one-row test readouts). Callers that crossJoin the
    result against base rows need a global ``.agg`` instead.

    Plan: one global mid-rank window over non-zero |d| (single-
    partition sort bounded by the PAIRED-ENTITY table, which is
    pre-aggregated — not raw rows; quantize/bin at corpus scale) +
    ONE reduce. No joins, no Python."""
    d = F.col(diff_col).cast("double")
    pts = df.where(d.isNotNull())
    nz = pts.where(d != 0.0).select(
        d.alias("_d"), F.abs(d).alias("_a")
    )
    wr = Window.orderBy("_a")
    wtie = Window.partitionBy("_a")
    ranked = nz.select(
        "_d",
        (
            F.rank().over(wr)
            + (F.count(F.lit(1)).over(wtie) - 1) / 2.0
        ).alias("_r"),
        F.count(F.lit(1)).over(wtie).alias("_t"),
    )
    zero_n = pts.where(d == 0.0).groupBy(F.lit(1).alias("_j")).agg(
        F.count(F.lit(1)).alias("n_zero")
    )
    agg = ranked.groupBy(F.lit(1).alias("_j")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("_d") > 0, F.col("_r"))).alias("_wp"),
        F.sum(F.when(F.col("_d") < 0, F.col("_r"))).alias("_wm"),
        F.sum(F.col("_t") * F.col("_t") - 1).alias("_tsum"),
    )
    n = F.col("n").cast("double")
    mu = n * (n + 1.0) / 4.0
    sigma = F.sqrt(
        n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
        - F.col("_tsum").cast("double") / 48.0
    )
    dev = F.coalesce(F.col("_wp"), F.lit(0.0)) - mu
    corrected = F.signum(dev) * F.greatest(
        F.abs(dev) - 0.5, F.lit(0.0)
    )
    return (
        agg.join(F.broadcast(zero_n), "_j", "left")
        .select(
            "n",
            F.coalesce(F.col("n_zero"), F.lit(0)).alias("n_zero"),
            F.coalesce(F.col("_wp"), F.lit(0.0)).alias("w_plus"),
            F.coalesce(F.col("_wm"), F.lit(0.0)).alias("w_minus"),
            F.when(sigma > 0.0, F.try_divide(corrected, sigma)).alias("z"),
        )
    )


def friedman(
    df: DataFrame,
    block_col: str = "block",
    treatment_col: str = "treatment",
    value_col: str = "value",
) -> DataFrame:
    """Friedman rank test for k treatments over n matched blocks →
    ONE row: (n_blocks, k, q, df, crit_05, reject_05). Within each
    complete block the k treatment values are mid-ranked; with R_j
    the treatment rank sums, Q = (12/(n·k·(k+1)))·ΣR_j² − 3n(k+1),
    divided by the tie correction 1 − Σ(t³−t)/(n·k·(k²−1))
    (Friedman 1937; Conover 1999 tie form), compared against the
    χ²_{k−1} 5% critical value. The repeated-measures companion of a
    one-way rank ANOVA: "did ANY treatment shift outcomes across
    matched subjects". Blocks missing any treatment are dropped
    (Friedman is defined on the complete n×k layout — count reported
    via n_blocks); duplicate (block, treatment) rows must be
    pre-aggregated (raises on detection — a silent mean would hide a
    data bug).

    Empty-input contract: an EMPTY input (or one with no complete
    block) yields ZERO rows, not a NULL-statistic row — the
    groupBy(lit(1)) reduce has nothing to group (module convention
    for pure one-row test readouts). Callers that crossJoin the
    result against base rows need a global ``.agg`` instead.

    Plan: one groupBy(block) completeness pass + the per-block
    mid-rank window on the same hash key (one exchange each, both on
    the bounded n×k cell table), a broadcast one-row global-k, one
    aggregate + a one-row reduce. No data-sized joins, no Python."""
    v = F.col(value_col)
    pts = df.where(v.isNotNull()).select(
        F.col(block_col).alias("_b"),
        F.col(treatment_col).alias("_t"),
        v.cast("double").alias("_v"),
    )
    # k = the GLOBAL treatment count (one-row broadcast); a block is
    # complete iff it holds all k DISTINCT treatments. The dup check
    # lives INSIDE the single gate filter (when(no-dup, complete?)
    # .otherwise(raise)) so no predicate reordering can skip it.
    kg = F.broadcast(pts.agg(F.countDistinct("_t").alias("_k")))
    blocks = pts.groupBy("_b").agg(
        F.countDistinct("_t").alias("_nt"),
        F.count(F.lit(1)).alias("_bn"),
    )
    good = (
        blocks.crossJoin(kg)
        .where(
            F.when(
                F.col("_bn") == F.col("_nt"),
                F.col("_nt") == F.col("_k"),
            ).otherwise(
                F.raise_error(F.lit(
                    "friedman: duplicate (block, treatment) rows — "
                    "pre-aggregate first"
                ))
            )
        )
        .select("_b", "_k")
    )
    complete = pts.join(good, "_b")
    wr = Window.partitionBy("_b").orderBy("_v")
    wtie = Window.partitionBy("_b", "_v")
    ranked = complete.select(
        "_b", "_t", "_k",
        (
            F.rank().over(wr)
            + (F.count(F.lit(1)).over(wtie) - 1) / 2.0
        ).alias("_r"),
        F.count(F.lit(1)).over(wtie).alias("_tsz"),
    )
    per_t = ranked.groupBy("_t").agg(
        F.sum("_r").alias("_rsum"),
        F.count(F.lit(1)).alias("_nb"),
        F.max("_k").alias("_k"),
        # t² − 1 summed over member rows = Σ over tie groups of t³ − t
        F.sum(F.col("_tsz") * F.col("_tsz") - 1).alias("_tcorr"),
    )
    agg = per_t.groupBy(F.lit(1).alias("_j")).agg(
        F.max("_nb").alias("n_blocks"),
        F.max("_k").alias("_k"),
        F.sum(F.col("_rsum") * F.col("_rsum")).alias("_r2"),
        F.sum("_tcorr").alias("_tc"),
    )
    n = F.col("n_blocks").cast("double")
    k = F.col("_k").cast("double")
    q_raw = (
        12.0 / (n * k * (k + 1.0)) * F.col("_r2") - 3.0 * n * (k + 1.0)
    )
    corr = 1.0 - F.try_divide(
        F.col("_tc").cast("double"), n * k * (k * k - 1.0)
    )
    q = F.try_divide(q_raw, corr)
    from .experiment import chi2_crit_05

    dfree = (F.col("_k") - 1).cast("int")
    crit = chi2_crit_05(dfree)
    return agg.select(
        "n_blocks",
        F.col("_k").cast("int").alias("k"),
        q.alias("q"),
        dfree.alias("df"),
        crit.alias("crit_05"),
        (q > crit).alias("reject_05"),
    )


def chow(
    df: DataFrame,
    split: Column,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Chow test for a structural break in the simple regression
    y = a + b·x at a KNOWN split → ONE row: (n1, n2, ssr_pooled,
    ssr1, ssr2, f_stat, df1, df2). ``split`` is a boolean Column —
    True marks the first regime. Each regime and the pooled sample
    get an intercept+slope OLS whose residual sum of squares comes
    from moments (SSE = n·var_pop(y)·(1 − ρ²), exact for OLS with
    intercept); F = ((SSR_p − SSR₁ − SSR₂)/p) / ((SSR₁ + SSR₂)/
    (n₁ + n₂ − 2p)) with p = 2 parameters (Chow 1960). The
    known-breakpoint complement of the SEARCHING detectors
    (:mod:`~.changepoint`, :mod:`~.cusum`): "did the relationship
    change at the deploy/policy date". F NULL when a regime is
    degenerate (n ≤ p or zero x-variance — try_divide). Rows where
    ``split`` evaluates to NULL are DROPPED (a NULL split belongs to
    neither regime; silently pooling it would bias F with n₁+n₂ < n).
    No p-value (F CDF has no closed form — module convention).

    Plan: ONE map-side-combinable aggregate pass computing both
    regime moment sets (conditional aggregates) + the pooled set in
    the same row. No second scan, no windows, no joins, no Python."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    # NULL split dropped alongside NULL x/y: F.when(NULL) and ~NULL both
    # skip, so a NULL-split row would enter the pooled moments but
    # neither regime — SSR_pooled over more rows than SSR1+SSR2.
    pts = df.where(
        x.isNotNull() & y.isNotNull() & split.cast("boolean").isNotNull()
    ).select(
        split.cast("boolean").alias("_s"), x.alias("_x"), y.alias("_y")
    )

    def moments(cond):
        xx = F.when(cond, F.col("_x"))
        yy = F.when(cond, F.col("_y"))
        return [
            F.count(xx),
            F.avg(xx), F.avg(yy),
            F.avg(xx * F.col("_x")), F.avg(yy * F.col("_y")),
            F.avg(xx * F.col("_y")),
        ]

    cols = []
    for tag, cond in (
        ("1", F.col("_s")), ("2", ~F.col("_s")), ("p", F.lit(True))
    ):
        m = moments(cond)
        cols += [
            m[0].alias(f"_n{tag}"),
            m[1].alias(f"_mx{tag}"), m[2].alias(f"_my{tag}"),
            m[3].alias(f"_mxx{tag}"), m[4].alias(f"_myy{tag}"),
            m[5].alias(f"_mxy{tag}"),
        ]
    agg = pts.groupBy(F.lit(1).alias("_j")).agg(*cols)

    def ssr(tag):
        n = F.col(f"_n{tag}").cast("double")
        vx = F.col(f"_mxx{tag}") - F.col(f"_mx{tag}") * F.col(f"_mx{tag}")
        vy = F.col(f"_myy{tag}") - F.col(f"_my{tag}") * F.col(f"_my{tag}")
        cxy = F.col(f"_mxy{tag}") - F.col(f"_mx{tag}") * F.col(f"_my{tag}")
        return n * (vy - F.try_divide(cxy * cxy, vx))

    s1, s2, sp = ssr("1"), ssr("2"), ssr("p")
    n1 = F.col("_n1").cast("double")
    n2 = F.col("_n2").cast("double")
    df2 = n1 + n2 - 4.0
    f_stat = F.try_divide(
        (sp - s1 - s2) / 2.0, F.try_divide(s1 + s2, df2)
    )
    return agg.select(
        F.col("_n1").alias("n1"),
        F.col("_n2").alias("n2"),
        sp.alias("ssr_pooled"),
        s1.alias("ssr1"),
        s2.alias("ssr2"),
        F.when((n1 > 2.0) & (n2 > 2.0), f_stat).alias("f_stat"),
        F.lit(2).alias("df1"),
        df2.cast("int").alias("df2"),
    )


def g_test(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Log-likelihood-ratio test of independence for two CATEGORICAL
    columns → ONE row: (n, r, c, g, dof, crit_05, reject_05).
    G = 2·Σ o·ln(o/e) over the r×c contingency table with
    e = row_tot·col_tot/n (Sokal & Rohlf 1981) — the
    information-theoretic sibling of :func:`cramers_v`'s Pearson χ²
    (G = 2n·MI in nats), asymptotically χ²_{(r−1)(c−1)} like it but
    additive across table partitions, which Pearson χ² is not.
    Empty cells need NO special handling here: lim_{o→0} o·ln(o/e) = 0,
    so cells absent from the groupBy contribute exactly their limit
    (contrast the χ² identity dance in :func:`cramers_v`). NULL
    categories dropped; empty input → ZERO rows (module convention).

    Plan: ONE groupBy(a, b) full-data pass; margins and the reduce on
    the r×c CELL table (two windows + one reduce, bounded by category
    cardinalities). No joins, no Python."""
    from .experiment import chi2_crit_05

    cells = (
        df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    wa = Window.partitionBy("_a")
    wb = Window.partitionBy("_b")
    o = F.col("_o").cast("double")
    # o >= 1 on every materialized cell, so the ln argument is strictly
    # positive by construction (the guard-ln rule)
    term = o * F.log(
        o / (
            F.sum("_o").over(wa).cast("double")
            * F.sum("_o").over(wb).cast("double")
        )
    )
    agg = cells.select("_a", "_b", "_o", term.alias("_t")).groupBy(
        F.lit(1).alias("_j")
    ).agg(
        F.sum("_o").alias("_n"),
        F.countDistinct("_a").alias("_r"),
        F.countDistinct("_b").alias("_c"),
        F.sum("_t").alias("_s"),
    )
    nd = F.col("_n").cast("double")
    # Σ o ln(o n/(ra cb)) = Σ o ln(o/(ra cb)) + n ln n
    g = 2.0 * (F.col("_s") + nd * F.log(nd))
    dof = ((F.col("_r") - 1) * (F.col("_c") - 1)).cast("int")
    crit = chi2_crit_05(dof)
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_r").cast("int").alias("r"),
        F.col("_c").cast("int").alias("c"),
        g.alias("g"),
        dof.alias("dof"),
        crit.alias("crit_05"),
        (g > crit).alias("reject_05"),
    )


def cohen_kappa(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Cohen's κ chance-corrected agreement between two raters/labelers
    over the SAME items → ONE row: (n, n_categories, po, pe, kappa).
    po = observed agreement rate (diagonal mass), pe = Σ_v p_a(v)·p_b(v)
    the agreement expected if both raters labeled independently from
    their own marginals, κ = (po − pe)/(1 − pe) (Cohen 1960). The
    labeling-pipeline QA readout raw percent-agreement overstates:
    two raters who both say "good" 95% of the time agree 90.5% by
    chance alone. κ NULL when pe = 1 (a single shared category —
    agreement is vacuous). Categories are compared by VALUE across the
    union of both raters' label sets (a category one rater never uses
    has marginal 0 and drops out of pe). NULL-labeled rows dropped;
    empty input → ZERO rows (module convention).

    Plan: ONE groupBy(a, b) full-data pass; both marginals re-aggregate
    the CELL table; the pe pairing is a UNION + groupBy(category) of
    the two category-bounded margin tables (join-free — a full-outer
    join cannot broadcast) + one reduce. Nothing data-sized after the
    first pass, no Python."""
    cells = (
        df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(
            F.col(a_col).cast("string").alias("_a"),
            F.col(b_col).cast("string").alias("_b"),
        )
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    ma = cells.groupBy(F.col("_a").alias("_v")).agg(
        F.sum("_o").alias("_ra"), F.lit(0).cast("long").alias("_cb")
    )
    mb = cells.groupBy(F.col("_b").alias("_v")).agg(
        F.lit(0).cast("long").alias("_ra"), F.sum("_o").alias("_cb")
    )
    marg = ma.unionByName(mb).groupBy("_v").agg(
        F.sum("_ra").alias("_ra"), F.sum("_cb").alias("_cb")
    )
    diag = cells.groupBy(F.lit(1).alias("_j")).agg(
        F.sum("_o").alias("_n"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_o"))).alias(
            "_agree"
        ),
    )
    pe_agg = marg.groupBy(F.lit(1).alias("_j")).agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum(
            F.col("_ra").cast("double") * F.col("_cb").cast("double")
        ).alias("_pesum"),
    )
    j = diag.join(F.broadcast(pe_agg), "_j")
    nd = F.col("_n").cast("double")
    po = F.coalesce(F.col("_agree").cast("double"), F.lit(0.0)) / nd
    pe = F.col("_pesum") / (nd * nd)
    return j.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_k").cast("int").alias("n_categories"),
        po.alias("po"),
        pe.alias("pe"),
        F.try_divide(po - pe, F.lit(1.0) - pe).alias("kappa"),
    )


def cochran_armitage(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """Cochran-Armitage test for a linear TREND in a binary outcome
    across ordered exposure levels → ONE row: (n, k, n_pos, t_stat,
    var_t, z, chi2, reject_05). With numeric dose scores s and binary
    y, T = Σᵢ yᵢ(sᵢ − s̄) and Var(T) = p̄(1 − p̄)·Σᵢ(sᵢ − s̄)²
    (Cochran 1954, Armitage 1955 — algebraically the grouped
    Σ_k s_k(r_k − n_k R/N) form, collapsed to plain moments so no
    per-level grouping is needed); z = T/√Var, chi2 = z² ~ χ²₁. The
    ORDERED alternative the omnibus r×2 χ² wastes power on: "does the
    positive rate climb with the dose/severity/bucket level". z/chi2
    NULL when the outcome or the score is constant (Var = 0 —
    try_divide). NULL rows dropped; labels outside {0, 1} RAISE (the
    roc_auc discipline); empty input → ZERO rows (module convention).

    Plan: ONE map-side-combinable aggregate (moment sums in one row) —
    no groupBy key, no windows, no joins, no Python."""
    s = F.col(score_col).cast("double")
    lb = F.col(label_col).cast("double")
    lb_ok = F.when((lb == 0.0) | (lb == 1.0), lb).otherwise(
        F.raise_error(
            F.concat(
                F.lit("cochran_armitage: label outside {0,1}: "),
                lb.cast("string"),
            )
        )
    )
    # stable covar_pop/var_pop form: T = n·cov_pop(y, s) and
    # Σ(s−s̄)² = n·var_pop(s) — the raw Σs² − (Σs)²/n algebra cancels
    # catastrophically on large-offset dose scores (calendar years,
    # epochs); the builtins are the same single combinable aggregate
    agg = (
        df.where(s.isNotNull() & lb.isNotNull())
        .groupBy(F.lit(1).alias("_j"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(s).alias("_k"),
            F.sum(lb_ok).alias("_rr"),
            F.covar_pop(lb_ok, s).alias("_cls"),
            F.var_pop(s).alias("_vs"),
        )
    )
    nd = F.col("n").cast("double")
    pbar = F.col("_rr") / nd
    t = nd * F.col("_cls")
    var_t = pbar * (F.lit(1.0) - pbar) * nd * F.col("_vs")
    z = F.when(var_t > 0.0, t / F.sqrt(var_t))
    return agg.select(
        "n",
        F.col("_k").cast("int").alias("k"),
        F.col("_rr").cast("long").alias("n_pos"),
        t.alias("t_stat"),
        var_t.alias("var_t"),
        z.alias("z"),
        (z * z).alias("chi2"),
        (z * z > 3.841).alias("reject_05"),
    )


def anova_oneway(
    df: DataFrame,
    group_col: str = "group",
    value_col: str = "value",
) -> DataFrame:
    """One-way fixed-effects ANOVA F-test across k groups → ONE row:
    (n, k, ss_between, ss_within, f_stat, df1, df2, eta_sq).
    SSB = Σ n_j(x̄_j − x̄)², SSW = Σ(n_j − 1)s_j²,
    F = (SSB/(k−1))/(SSW/(n−k)) (Fisher 1925); η² = SSB/(SSB+SSW) is
    the variance-explained effect size. The k-group extension of
    :func:`welch_t` under homoskedasticity (for a robust variant see
    :func:`brown_forsythe_dow`'s median-centered form; for the rank
    analog :func:`~.features.kruskal_dow`). At least two groups
    required — raises otherwise (the srm_check discipline). F NULL
    when SSW = 0 or any df ≤ 0 (try_divide). NULL values dropped;
    empty input → ZERO rows (module convention). No p-value (F CDF
    has no closed form — module convention).

    Plan: ONE map-side-combinable groupBy(group) + a k-row reduce.
    No windows on data, no joins, no Python."""
    v = F.col(value_col).cast("double")
    g = (
        df.where(v.isNotNull())
        .groupBy(F.col(group_col).alias("_g"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.avg(v).alias("_m"),
            F.var_samp(v).alias("_v"),
        )
    )
    agg = g.groupBy(F.lit(1).alias("_j")).agg(
        F.sum("_n").alias("_nn"),
        F.count(F.lit(1)).alias("_k"),
        F.sum(F.col("_n").cast("double") * F.col("_m")).alias("_snm"),
        F.sum(
            F.col("_n").cast("double") * F.col("_m") * F.col("_m")
        ).alias("_snm2"),
        F.sum(
            (F.col("_n") - 1).cast("double")
            * F.coalesce(F.col("_v"), F.lit(0.0))
        ).alias("_ssw"),
    )
    nd = F.col("_nn").cast("double")
    kd = F.col("_k").cast("double")
    ssb = F.col("_snm2") - F.col("_snm") * F.col("_snm") / nd
    ssw = F.col("_ssw")
    f_stat = F.try_divide(
        F.try_divide(ssb, kd - 1.0), F.try_divide(ssw, nd - kd)
    )
    # k-check embedded in the emitted n (the srm_check pattern)
    return agg.select(
        F.when(F.col("_k") >= 2, F.col("_nn"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("anova_oneway needs >= 2 groups, got "),
                    F.col("_k").cast("string"),
                )
            )
        )
        .cast("long")
        .alias("n"),
        F.col("_k").cast("int").alias("k"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        F.when((nd > kd) & (ssw > 0.0), f_stat).alias("f_stat"),
        (F.col("_k") - 1).cast("int").alias("df1"),
        (F.col("_nn") - F.col("_k")).cast("int").alias("df2"),
        F.try_divide(ssb, ssb + ssw).alias("eta_sq"),
    )


def kendall_tau_b(
    df: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Kendall's τ-b rank correlation between two numeric columns →
    ONE row: (n, concordant, discordant, s, tau_b, z).
    τ_b = (C − D)/√((n₀ − n₁)(n₀ − n₂)) with n₀ = n(n−1)/2 and
    n₁/n₂ the within-tie pair counts of each margin (Kendall 1945);
    z uses the exact tie-corrected null variance
    Var(S) = (v₀ − v_t − v_u)/18 + v₁ + v₂ (Kendall 1970, the scipy
    formula). The PAIRWISE-column companion of the per-series trend
    test :func:`~.cusum.mann_kendall` (x = time there) and the
    rank-robust alternative to Pearson when outliers or monotone
    nonlinearity would distort moments. Distinct from
    :func:`~.rankcorr.kendall_tau`, which takes two NAMED SERIES from
    a long table (loc-aligned overlap, O(T²) join / O(T log T)
    merge-kernel plans, no z): use that for a series pair; use THIS
    for two row-level columns whose value cardinalities are bounded —
    the cell-collapsed grid plan is O(|X|·|Y|) regardless of row
    count and stays entirely JVM-side, and it ships the test z. NULL pairs dropped; τ/z NULL
    when either margin is a single tie group (try_divide); empty
    input → ZERO rows (module convention).

    NOT an all-pairs join: rows collapse to the (x × y) VALUE-CELL
    table in one pass; concordant/discordant pair mass comes from two
    cumulative-dominance ledgers on the densified x-grid × y-grid
    rectangle (the :func:`~.survival.concordance_index` pattern —
    QUANTIZE continuous columns first at corpus scale), tie terms
    from the two margin tables.

    Plan: one groupBy(x, y) full-data pass; a |X|×|Y| crossJoin
    densification; two window passes per direction on the bounded
    grid; margin groupBys on the cell table; ONE reduce.

    Eager: the call runs the groupBy(x, y) pass at once and pins it with
    ``localCheckpoint(eager=True)``; the returned DataFrame reads those
    executor blocks, which live until it is garbage-collected and are
    not recomputed if an executor is lost."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    # the cell table is referenced five times below (grid margins, the
    # densification join, both tie margins); without materialization each
    # reference re-runs the FULL-data scan + aggregate — measured 10
    # parquet scans in one plan. One eager checkpoint = one data pass;
    # everything downstream runs on the bounded |X|·|Y| table.
    cells = (
        df.where(x.isNotNull() & y.isNotNull())
        .groupBy(x.alias("_x"), y.alias("_y"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=True)
    )
    xg = cells.select("_x").distinct()
    yg = cells.select("_y").distinct()
    dense = (
        xg.crossJoin(yg)
        .join(cells, ["_x", "_y"], "left")
        .select(
            "_x", "_y", F.coalesce(F.col("_n"), F.lit(0)).alias("_n")
        )
    )
    w_y_hi = suffix_window(["_x"], "_y", start=1)
    w_y_lo = (
        Window.partitionBy("_x").orderBy("_y")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = dense.withColumn(
        "_gty", F.coalesce(F.sum("_n").over(w_y_hi), F.lit(0))
    ).withColumn(
        "_lty", F.coalesce(F.sum("_n").over(w_y_lo), F.lit(0))
    )
    w_x_hi = suffix_window(["_y"], "_x", start=1)
    d = d.withColumn(
        "_cc", F.coalesce(F.sum("_gty").over(w_x_hi), F.lit(0))
    ).withColumn(
        "_dd", F.coalesce(F.sum("_lty").over(w_x_hi), F.lit(0))
    )
    nn = F.col("_n").cast("double")
    pair_agg = d.groupBy(F.lit(1).alias("_j")).agg(
        F.sum("_n").alias("_nt"),
        F.sum(nn * F.col("_cc")).alias("_c"),
        F.sum(nn * F.col("_dd")).alias("_d"),
    )

    def _margin(col):
        t = cells.groupBy(col).agg(F.sum("_n").alias("_t"))
        td = F.col("_t").cast("double")
        return t.groupBy(F.lit(1).alias("_j")).agg(
            F.sum(td * (td - 1.0) / 2.0).alias("_pairs"),
            F.sum(td * (td - 1.0) * (2.0 * td + 5.0)).alias("_v"),
            F.sum(td * (td - 1.0)).alias("_tt1"),
            F.sum(td * (td - 1.0) * (td - 2.0)).alias("_tt2"),
        )

    mx = _margin("_x").select(
        "_j",
        F.col("_pairs").alias("_n1"), F.col("_v").alias("_vt"),
        F.col("_tt1").alias("_xt1"), F.col("_tt2").alias("_xt2"),
    )
    my = _margin("_y").select(
        "_j",
        F.col("_pairs").alias("_n2"), F.col("_v").alias("_vu"),
        F.col("_tt1").alias("_yt1"), F.col("_tt2").alias("_yt2"),
    )
    j = pair_agg.join(F.broadcast(mx), "_j").join(F.broadcast(my), "_j")
    nd = F.col("_nt").cast("double")
    n0 = nd * (nd - 1.0) / 2.0
    s = F.col("_c") - F.col("_d")
    tau = F.try_divide(
        s,
        F.sqrt((n0 - F.col("_n1")) * (n0 - F.col("_n2"))),
    )
    v0 = nd * (nd - 1.0) * (2.0 * nd + 5.0)
    v1 = F.try_divide(
        F.col("_xt1") * F.col("_yt1"), 2.0 * nd * (nd - 1.0)
    )
    v2 = F.try_divide(
        F.col("_xt2") * F.col("_yt2"),
        9.0 * nd * (nd - 1.0) * (nd - 2.0),
    )
    var_s = (
        (v0 - F.col("_vt") - F.col("_vu")) / 18.0
        + F.coalesce(v1, F.lit(0.0))
        + F.coalesce(v2, F.lit(0.0))
    )
    return j.select(
        F.col("_nt").cast("long").alias("n"),
        F.col("_c").cast("long").alias("concordant"),
        F.col("_d").cast("long").alias("discordant"),
        s.cast("long").alias("s"),
        tau.alias("tau_b"),
        F.when(var_s > 0.0, s / F.sqrt(var_s)).alias("z"),
    )


def energy_distance(
    df: DataFrame,
    group_col: str = "group",
    value_col: str = "value",
) -> DataFrame:
    """Székely-Rizzo energy distance between two groups' value
    distributions → ONE row: (n1, n2, e_xy, e_xx, e_yy, energy, e_stat).
    e_xy = E|X−Y|, e_xx = E|X−X'|, e_yy = E|Y−Y'| (expectations over
    independent draws); energy = 2e_xy − e_xx − e_yy ≥ 0, zero iff the
    distributions coincide; e_stat = (n₁n₂/(n₁+n₂))·energy is the
    two-sample test statistic (Székely & Rizzo 2004). Sensitive to ANY
    distributional difference — location, scale, shape — where KS
    (sup-CDF) underweights tails; metric-scale, unlike rank tests.
    Complements :func:`~..pipeline.drift.wasserstein_halves` (W₁ of a
    series' first vs second half — a fixed temporal split there; an
    arbitrary two-group column here, and energy is the quadratic-
    kernel distance, not W₁).
    Group 1 = the lexicographically smaller group value; exactly two
    groups required (raises, the srm_check discipline). NULL values
    AND NULL-group rows are dropped (a NULL group belongs to neither
    cohort — the chow NULL-split rationale); empty input → ZERO rows.

    NOT an all-pairs join: every pairwise-|difference| sum collapses
    to cumulative count/sum ledgers on the DISTINCT-VALUE grid —
    Σ_{i,j}|v_i − w_j| = Σ_v n_v·(v·cnt_below(v) − sum_below(v)) + …
    (the sorted prefix-sum identity) — so cost is grid-bounded
    (quantize a continuous column first at corpus scale).

    Plan: one groupBy(value) full-data pass with conditional group
    counts (group-cardinality gate embedded); four cumulative windows
    on the distinct-value grid; ONE reduce. No joins, no Python."""
    v = F.col(value_col).cast("double")
    pts = df.where(
        v.isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(group_col).alias("_g"), v.alias("_v"))
    kg = pts.groupBy(F.lit(1).alias("_j")).agg(
        F.countDistinct("_g").alias("_k"),
        F.min("_g").alias("_g1"),
    )
    cells = (
        pts.crossJoin(F.broadcast(kg))
        .select(
            "_v",
            # k-check embedded in the per-row group indicator (the
            # guard-placement rule: every surviving row flows through)
            F.when(
                F.col("_k") == 2, (F.col("_g") == F.col("_g1"))
            )
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("energy_distance needs exactly 2 "
                              "groups, got "),
                        F.col("_k").cast("string"),
                    )
                )
            )
            .alias("_isa"),
        )
        .groupBy("_v")
        .agg(
            F.sum(F.col("_isa").cast("long")).alias("_na"),
            F.sum((~F.col("_isa")).cast("long")).alias("_nb"),
        )
    )
    w_lo = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    d = cells.select(
        "_v", "_na", "_nb",
        F.coalesce(F.sum(na).over(w_lo), F.lit(0.0)).alias("_ca"),
        F.coalesce(F.sum(na * F.col("_v")).over(w_lo), F.lit(0.0))
        .alias("_sa"),
        F.coalesce(F.sum(nb).over(w_lo), F.lit(0.0)).alias("_cb"),
        F.coalesce(F.sum(nb * F.col("_v")).over(w_lo), F.lit(0.0))
        .alias("_sb"),
    )
    vv = F.col("_v")
    agg = d.groupBy(F.lit(1).alias("_j")).agg(
        F.sum("_na").alias("_n1"),
        F.sum("_nb").alias("_n2"),
        # unordered pair sums of |vi - vj|, each pair counted once at
        # its LARGER value via the below-ledgers
        F.sum(
            na * (vv * F.col("_cb") - F.col("_sb"))
            + nb * (vv * F.col("_ca") - F.col("_sa"))
        ).alias("_sab"),
        F.sum(na * (vv * F.col("_ca") - F.col("_sa"))).alias("_saa"),
        F.sum(nb * (vv * F.col("_cb") - F.col("_sb"))).alias("_sbb"),
    )
    n1 = F.col("_n1").cast("double")
    n2 = F.col("_n2").cast("double")
    e_xy = F.try_divide(F.col("_sab"), n1 * n2)
    e_xx = F.try_divide(2.0 * F.col("_saa"), n1 * n1)
    e_yy = F.try_divide(2.0 * F.col("_sbb"), n2 * n2)
    energy = 2.0 * e_xy - e_xx - e_yy
    return agg.select(
        F.col("_n1").cast("long").alias("n1"),
        F.col("_n2").cast("long").alias("n2"),
        e_xy.alias("e_xy"),
        e_xx.alias("e_xx"),
        e_yy.alias("e_yy"),
        energy.alias("energy"),
        (n1 * n2 / (n1 + n2) * energy).alias("e_stat"),
    )


def partial_corr(
    df: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    z_col: str = "z",
) -> DataFrame:
    """First-order partial correlation of x and y CONTROLLING for z →
    ONE row: (n, r_xy, r_xz, r_yz, r_partial).
    r_xy·z = (r_xy − r_xz·r_yz)/√((1 − r_xz²)(1 − r_yz²)) (Fisher
    1924) — "does the x↔y association survive once the confounder z is
    held fixed", the cheapest confounding probe before a regression.
    The cross-sectional cousin of :func:`~.rolling.pacf` (which
    partials out intermediate LAGS of one series; this partials a
    third COLUMN). Rows with any NULL among x/y/z are dropped (the
    correlations must share one sample). r_partial NULL when either
    controlling correlation is degenerate (|r| = 1 or a zero-variance
    margin — try_divide). Empty input → ZERO rows (module convention).

    Plan: ONE map-side-combinable aggregate of the 9 pairwise moments
    — no groupBy key, no windows, no joins, no Python."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    z = F.col(z_col).cast("double")
    pts = df.where(x.isNotNull() & y.isNotNull() & z.isNotNull()).select(
        x.alias("_x"), y.alias("_y"), z.alias("_z")
    )
    # stable covar_samp/var_samp builtins, NOT raw-moment algebra
    # (avg(x*x) - avg(x)^2 cancels catastrophically on large-offset
    # inputs like epoch timestamps — the rankcorr/features convention)
    agg = pts.groupBy(F.lit(1).alias("_j")).agg(
        F.count(F.lit(1)).alias("n"),
        F.covar_samp("_x", "_y").alias("_cxy"),
        F.covar_samp("_x", "_z").alias("_cxz"),
        F.covar_samp("_y", "_z").alias("_cyz"),
        F.var_samp("_x").alias("_vx"),
        F.var_samp("_y").alias("_vy"),
        F.var_samp("_z").alias("_vz"),
    )

    def corr(cov, va, vb):
        return F.try_divide(
            F.col(cov), F.sqrt(F.col(va) * F.col(vb))
        )

    agg = agg.select(
        "n",
        corr("_cxy", "_vx", "_vy").alias("r_xy"),
        corr("_cxz", "_vx", "_vz").alias("r_xz"),
        corr("_cyz", "_vy", "_vz").alias("r_yz"),
    )
    num = F.col("r_xy") - F.col("r_xz") * F.col("r_yz")
    den = F.sqrt(
        (1.0 - F.col("r_xz") * F.col("r_xz"))
        * (1.0 - F.col("r_yz") * F.col("r_yz"))
    )
    return agg.select(
        "n", "r_xy", "r_xz", "r_yz",
        F.try_divide(num, den).alias("r_partial"),
    )


def theil_u(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Theil's uncertainty coefficient between two CATEGORICAL columns
    → ONE row: (n, h_a, h_b, mi, u_a_given_b, u_b_given_a).
    U(a|b) = I(a;b)/H(a) ∈ [0, 1]: the fraction of a's entropy that
    knowing b removes (Theil 1970) — the ASYMMETRIC association
    readout :func:`cramers_v` and :func:`g_test` cannot give ("source
    determines language" vs "language determines source" are different
    numbers here). I = Σ (o/n)·ln(o·n/(r_a·c_b)) over the cell table
    (plug-in MI in nats; empty cells vanish in the limit, the g_test
    argument); H from the margins. U NULL when the conditioned
    margin is constant (H = 0 — nothing to explain; try_divide). NULL
    categories dropped; empty input → ZERO rows (module convention).
    The categorical-column sibling of the series-level
    :func:`~.infotheory.mutual_information` (median-binarized there).

    Plan: ONE groupBy(a, b) full-data pass; MI from the cell table
    with window margins, entropies from the two margin re-aggregates
    (one-row broadcasts). No data-sized joins, no Python."""
    cells = (
        df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    wa = Window.partitionBy("_a")
    wb = Window.partitionBy("_b")
    o = F.col("_o").cast("double")
    term = o * F.log(
        o / (
            F.sum("_o").over(wa).cast("double")
            * F.sum("_o").over(wb).cast("double")
        )
    )
    mi_agg = cells.select("_o", term.alias("_t")).groupBy(
        F.lit(1).alias("_j")
    ).agg(
        F.sum("_o").alias("_n"),
        F.sum("_t").alias("_s"),
    )

    def _entropy(col, out):
        m = cells.groupBy(col).agg(F.sum("_o").alias("_t"))
        td = F.col("_t").cast("double")
        return m.groupBy(F.lit(1).alias("_j")).agg(
            F.sum(td * F.log(td)).alias(out),
        )

    ha = _entropy("_a", "_ea")
    hb = _entropy("_b", "_eb")
    j = mi_agg.join(F.broadcast(ha), "_j").join(F.broadcast(hb), "_j")
    nd = F.col("_n").cast("double")
    # H = ln n − Σ t ln t / n; MI = (Σ o ln(o/(ra·cb)) + n ln n)/n
    h_a = F.log(nd) - F.col("_ea") / nd
    h_b = F.log(nd) - F.col("_eb") / nd
    mi = (F.col("_s") + nd * F.log(nd)) / nd
    return j.select(
        F.col("_n").cast("long").alias("n"),
        h_a.alias("h_a"),
        h_b.alias("h_b"),
        mi.alias("mi"),
        F.try_divide(mi, h_a).alias("u_a_given_b"),
        F.try_divide(mi, h_b).alias("u_b_given_a"),
    )
