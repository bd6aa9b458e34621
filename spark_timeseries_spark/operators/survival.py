"""Survival analysis over event logs: Kaplan-Meier curves, Weibull fits,
and time-to-event extraction.

An extension beyond the reference (which has no survival surface): the
standard toolkit for churn/retention duration modelling and reliability
analysis over event streams. Three surfaces:

- :func:`time_to_event` — per-entity (duration, event) extraction from a
  raw event log: time from the entity's first ``start_type`` event to its
  first subsequent ``end_type`` event, right-censored at the log horizon.
- :func:`kaplan_meier` — the product-limit survival estimator
  (Kaplan & Meier 1958) on a (duration, event) table.
- :func:`weibull_mrr` — Weibull shape/scale via median-rank regression
  (Bernard's approximation), the classic linearized probability-plot fit.
- :func:`nelson_aalen` — the cumulative-hazard dual of Kaplan-Meier.
- :func:`log_rank` / :func:`stratified_log_rank` — Mantel-Cox tests of
  survival-curve equality, unadjusted and stratified (the Cox PH score
  test for a group effect given a stratification covariate).

All are pure DataFrame plans (windows + aggregates, no Python in the
hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .experiment import chi2_crit_05
from .fill import suffix_window


def time_to_event(
    df: DataFrame,
    start_type: str,
    end_type: str,
    unit_seconds: float = 3600.0,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """→ (key, duration, event): per entity, elapsed time (in units of
    ``unit_seconds``) from its FIRST ``start_type`` event to its first
    ``end_type`` event AT OR AFTER that start. Entities that never reach
    ``end_type`` are right-CENSORED (``event`` = 0) at the log horizon
    (the global max timestamp — the natural "observation ended here"
    boundary of a batch extract); entities with no ``start_type`` event
    are not at risk and drop out.

    Plan: one key-partitioned window (start time), one groupBy(key) on
    the SAME key (the window's hash partitioning is reused — no second
    exchange), plus a broadcast of the single-row global-horizon
    aggregate. No entity-table broadcast anywhere."""
    if unit_seconds <= 0:
        raise ValueError(f"unit_seconds must be > 0, got {unit_seconds}")
    ts_us = F.unix_micros(F.col(ts_col))
    wk = Window.partitionBy("key")
    start_us = F.min(
        F.when(F.col("_t") == start_type, F.col("_us"))
    ).over(wk)
    d = (
        df.select(
            F.col(key_col).alias("key"),
            F.col(type_col).alias("_t"),
            ts_us.alias("_us"),
        )
        .withColumn("_start", start_us)
        .where(F.col("_start").isNotNull())
    )
    per_key = d.groupBy("key").agg(
        F.first("_start").alias("_start"),
        F.min(
            F.when(
                (F.col("_t") == end_type) & (F.col("_us") >= F.col("_start")),
                F.col("_us"),
            )
        ).alias("_end"),
    )
    horizon = F.broadcast(
        df.select(F.max(F.unix_micros(F.col(ts_col))).alias("_hor"))
    )
    unit_us = float(unit_seconds) * 1e6
    return per_key.crossJoin(horizon).select(
        "key",
        (
            (
                F.coalesce(F.col("_end"), F.col("_hor")) - F.col("_start")
            ).cast("double")
            / F.lit(unit_us)
        ).alias("duration"),
        F.col("_end").isNotNull().cast("int").alias("event"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Kaplan-Meier product-limit estimator → one row per distinct
    duration: (duration, n_risk, n_events, n_censored, survival), where
    ``survival`` = Π over t' ≤ t of (1 − d_{t'}/n_{t'}) — the running
    product including the current row (censor-only times contribute a
    factor of 1 and appear in the table so the at-risk ledger is
    complete). Standard convention: subjects censored AT t are still at
    risk for the deaths at t. Reaches exactly 0 when the last at-risk
    subject dies.

    Plan: one groupBy(duration), then three windows over the GLOBAL
    duration grid — a single-partition sort that is bounded by the
    number of DISTINCT durations, not subjects (callers at scale bin
    durations to a grid first, e.g. :func:`time_to_event` with hour
    units + ``F.ceil``; an unbinned continuous duration column would
    make the grid as big as the cohort). The cumulative product is
    exp∘sum∘log with an explicit zero-factor guard (both Spark and the
    SQL oracle choke on ln(0))."""
    g = df.groupBy(F.col(duration_col).alias("duration")).agg(
        F.sum(F.col(event_col).cast("long")).alias("n_events"),
        F.sum(
            (F.lit(1) - F.col(event_col).cast("long"))
        ).alias("n_censored"),
    )
    w_tot = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prev = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, 0
    )
    exits = F.col("n_events") + F.col("n_censored")
    n_risk = (
        F.sum(exits).over(w_tot)
        - F.coalesce(F.sum(exits).over(w_prev), F.lit(0))
    )
    d = g.withColumn("n_risk", n_risk)
    factor = F.lit(1.0) - F.try_divide(
        F.col("n_events").cast("double"), F.col("n_risk").cast("double")
    )
    d = d.withColumn("_f", factor)
    # the log argument is guarded to 1 on the zero-factor row (both Spark
    # ANSI and DuckDB reject ln(0) even under a CASE that discards it —
    # window sums evaluate eagerly); the outer WHEN still pins the
    # survival to exactly 0 from that row on
    safe_log = F.log(
        F.when(F.col("_f") > 0.0, F.col("_f")).otherwise(F.lit(1.0))
    )
    surv = F.when(F.min("_f").over(w_cum) <= 0.0, F.lit(0.0)).otherwise(
        F.exp(F.sum(safe_log).over(w_cum))
    )
    return d.select(
        "duration", "n_risk", "n_events", "n_censored",
        surv.alias("survival"),
    )


def weibull_mrr(
    df: DataFrame,
    duration_col: str = "duration",
    group_col: str | None = None,
    event_col: str | None = None,
) -> DataFrame:
    """Weibull fit via median-rank regression → one row per group:
    (group?, n, shape, scale, r2). Linearization: F(t) = 1−exp(−(t/λ)^k)
    ⇒ ln(−ln(1−F)) = k·ln t − k·ln λ, with F estimated by Bernard's
    median-rank approximation F_i = (i − 0.3)/(n + 0.4) over the sorted
    durations. OLS of y on x = ln t gives shape k (slope) and scale
    λ = exp(x̄ − ȳ/k); r2 = corr(x, y)². Non-positive durations are
    excluded (ln t undefined); if ``event_col`` is given, censored rows
    (event = 0) are excluded too (MRR is an uncensored-sample method —
    use :func:`kaplan_meier` when censoring matters). Duration ties are
    safe: tied rows share x, and the SET of ranks assigned among them is
    fixed, so the OLS moments are deterministic regardless of tie order.

    Plan: one rank window + one map-side-combinable aggregate per group.
    With ``group_col=None`` the rank window is a single global sort —
    bounded only by the cohort, so at scale pass a group column (the
    cross-key parallelism) or pre-sample."""
    gcol = group_col if group_col is not None else "_g"
    pts = df.where(F.col(duration_col) > 0)
    if event_col is not None:
        pts = pts.where(F.col(event_col).cast("int") == 1)
    if group_col is None:
        pts = pts.withColumn("_g", F.lit(1))
    wg = Window.partitionBy(gcol).orderBy(duration_col)
    wn = Window.partitionBy(gcol)
    i = F.row_number().over(wg).cast("double")
    n = F.count(F.lit(1)).over(wn).cast("double")
    fi = (i - 0.3) / (n + 0.4)
    d = pts.select(
        F.col(gcol).alias("_grp"),
        F.log(F.col(duration_col).cast("double")).alias("_x"),
        F.log(-F.log(F.lit(1.0) - fi)).alias("_y"),
    )
    agg = d.groupBy("_grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.try_divide(
            F.covar_pop("_x", "_y"), F.var_pop("_x")
        ).alias("_k"),
        F.avg("_x").alias("_mx"),
        F.avg("_y").alias("_my"),
        F.try_divide(
            F.covar_pop("_x", "_y") * F.covar_pop("_x", "_y"),
            F.var_pop("_x") * F.var_pop("_y"),
        ).alias("r2"),
    )
    out = agg.select(
        F.col("_grp"),
        "n",
        F.col("_k").alias("shape"),
        F.exp(
            F.col("_mx") - F.try_divide(F.col("_my"), F.col("_k"))
        ).alias("scale"),
        "r2",
    )
    if group_col is None:
        return out.drop("_grp")
    return out.withColumnRenamed("_grp", group_col)


def nelson_aalen(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator → one row per distinct
    duration: (duration, n_risk, n_events, n_censored, cum_hazard,
    hazard_var, survival_fh). H(t) = Σ_{t'≤t} d_{t'}/n_{t'} (Nelson
    1972; Aalen 1978) with the standard variance estimate
    σ̂²(t) = Σ_{t'≤t} d_{t'}/n_{t'}² and the Fleming-Harrington
    survival exp(−H(t)) — the estimator that behaves better than
    Kaplan-Meier in small risk sets and is the additive dual of
    :func:`kaplan_meier` (censor-at-t convention and the at-risk
    ledger are identical; censor-only times contribute 0 hazard but
    appear so the table is complete). Unlike KM there is no zero
    factor to guard: d/n ≤ 1 always and no logarithm is taken.

    Plan: identical shape to :func:`kaplan_meier` — one
    groupBy(duration) full-data pass, then windows over the GLOBAL
    duration grid (a single-partition sort bounded by DISTINCT
    durations — bin durations at scale, same caveat as KM)."""
    g = df.groupBy(F.col(duration_col).alias("duration")).agg(
        F.sum(F.col(event_col).cast("long")).alias("n_events"),
        F.sum(
            (F.lit(1) - F.col(event_col).cast("long"))
        ).alias("n_censored"),
    )
    w_tot = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prev = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, 0
    )
    exits = F.col("n_events") + F.col("n_censored")
    n_risk = (
        F.sum(exits).over(w_tot)
        - F.coalesce(F.sum(exits).over(w_prev), F.lit(0))
    )
    d = g.withColumn("n_risk", n_risk)
    dn = F.try_divide(
        F.col("n_events").cast("double"), F.col("n_risk").cast("double")
    )
    dn2 = F.try_divide(
        F.col("n_events").cast("double"),
        F.col("n_risk").cast("double") * F.col("n_risk").cast("double"),
    )
    d = d.withColumn("_h", dn).withColumn("_v", dn2)
    haz = F.sum("_h").over(w_cum)
    return d.select(
        "duration", "n_risk", "n_events", "n_censored",
        haz.alias("cum_hazard"),
        F.sum("_v").over(w_cum).alias("hazard_var"),
        F.exp(-haz).alias("survival_fh"),
    )


def log_rank(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    group_col: str = "group",
) -> DataFrame:
    """Log-rank (Mantel-Cox) test of survival-curve equality across k
    groups → ONE row: (k, n, chi2, df, crit_05, reject_05,
    chi2_exact2). At every distinct duration t, each group's observed
    events d_{g,t} are compared with the expectation under the null
    E_{g,t} = d_t·n_{g,t}/n_t (hypergeometric mean given the shared
    risk set); ``chi2`` is the k-group approximation
    Σ_g (O_g − E_g)²/E_g on k−1 df (the textbook screen — conservative
    vs the full covariance form), compared against the shared
    :func:`~.experiment.chi2_crit_05` 5% critical value.
    ``chi2_exact2`` is the EXACT-variance two-group statistic
    (Σ_t (d_{1,t} − E_{1,t}))² / Σ_t V_t with the hypergeometric
    variance V_t = d_t·(n₁/n)·(1 − n₁/n)·(n−d)/(n−1) — NULL unless
    k = 2 (group 1 = the lexicographically smallest group value,
    stated; the statistic is symmetric in the choice). Censor-at-t
    convention matches :func:`kaplan_meier`: subjects censored AT t
    are still at risk for the events at t.

    Plan: ONE full-data pass (groupBy(group, duration)); everything
    after runs on the (k × distinct-durations) grid — a grid×groups
    crossJoin of two aggregate outputs (both bounded), per-group
    running-exit windows for the at-risk ledger, per-duration windows
    for the shared totals, and two one-row reduces. Bin durations at
    scale (the KM caveat)."""
    per = df.groupBy(
        F.col(group_col).alias("_g"),
        F.col(duration_col).alias("_t"),
    ).agg(
        F.sum(F.col(event_col).cast("long")).alias("_d"),
        F.count(F.lit(1)).alias("_x"),
    )
    grid = per.select(F.col("_t")).distinct()
    gtot = per.groupBy("_g").agg(F.sum("_x").alias("_tot"))
    # (k × T) scaffold: every group observed on every event time
    full = (
        grid.crossJoin(F.broadcast(gtot))
        .join(per, ["_g", "_t"], "left")
        .select(
            "_g", "_t", "_tot",
            F.coalesce(F.col("_d"), F.lit(0)).alias("_d"),
            F.coalesce(F.col("_x"), F.lit(0)).alias("_x"),
        )
    )
    w_prev = (
        Window.partitionBy("_g")
        .orderBy("_t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    full = full.withColumn(
        "_nrisk",
        F.col("_tot") - F.coalesce(F.sum("_x").over(w_prev), F.lit(0)),
    )
    wt = Window.partitionBy("_t")
    wall = Window.partitionBy(F.lit(1))
    g1 = F.min("_g").over(wall)
    full = (
        full.withColumn("_nt", F.sum("_nrisk").over(wt))
        .withColumn("_dt", F.sum("_d").over(wt))
        .withColumn("_is1", (F.col("_g") == g1).cast("int"))
    )
    e_gt = F.col("_dt").cast("double") * F.try_divide(
        F.col("_nrisk").cast("double"), F.col("_nt").cast("double")
    )
    per_group = full.groupBy("_g").agg(
        F.sum(F.col("_d").cast("double")).alias("_O"),
        F.sum(e_gt).alias("_E"),
    )
    # exact-variance 2-group pieces, one term per duration (computed on
    # the group-1 rows so each t contributes exactly once)
    nt = F.col("_nt").cast("double")
    dt = F.col("_dt").cast("double")
    p1 = F.try_divide(F.col("_nrisk").cast("double"), nt)
    v_t = dt * p1 * (1.0 - p1) * F.try_divide(nt - dt, nt - 1.0)
    two = full.where(F.col("_is1") == 1).groupBy(F.lit(1).alias("_j")).agg(
        F.sum(F.col("_d").cast("double") - e_gt).alias("_num"),
        F.sum(v_t).alias("_den"),
    )
    out = per_group.groupBy(F.lit(1).alias("_j")).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(
            F.try_divide(
                (F.col("_O") - F.col("_E")) * (F.col("_O") - F.col("_E")),
                F.col("_E"),
            )
        ).alias("chi2"),
    )
    n_tot = gtot.groupBy(F.lit(1).alias("_j")).agg(
        F.sum("_tot").alias("n")
    )
    j = (
        out.join(F.broadcast(n_tot), "_j")
        .join(F.broadcast(two), "_j")
    )
    dfree = (F.col("k") - 1).cast("int")
    crit = chi2_crit_05(dfree)
    return j.select(
        F.col("k").cast("int").alias("k"),
        "n",
        "chi2",
        dfree.alias("df"),
        crit.alias("crit_05"),
        (F.col("chi2") > crit).alias("reject_05"),
        F.when(
            F.col("k") == 2,
            F.try_divide(
                F.col("_num") * F.col("_num"), F.col("_den")
            ),
        ).alias("chi2_exact2"),
    )


def rmst(
    df: DataFrame,
    tau: float,
    duration_col: str = "duration",
    event_col: str = "event",
    group_col: str | None = None,
) -> DataFrame:
    """Restricted mean survival time → one row (per group):
    (group?, n, rmst) where rmst = ∫₀^τ Ŝ(t)dt, the area under the
    Kaplan-Meier curve truncated at ``tau`` — the model-free "average
    survival time over the first τ units" effect measure recommended
    when proportional hazards is doubtful (Royston & Parmar 2013). The
    KM step function is integrated exactly: the interval [0, t₁)
    contributes 1·min(t₁, τ), each grid interval [tᵢ, tᵢ₊₁)
    contributes Ŝ(tᵢ)·(min(tᵢ₊₁, τ) − tᵢ) while tᵢ < τ, and the last
    step ≤ τ runs to τ (lead-window formulation — the NULL lead on the
    final grid row IS the run-to-τ term). Same censor-at-t convention
    and zero-factor exp∘sum∘log guard as :func:`kaplan_meier`.

    Plan: one groupBy(group, duration) full-data pass; everything
    after runs on the per-group duration grid (windows partitioned by
    group — bin durations at scale, the KM caveat) and one final
    groupBy(group) reduce."""
    if tau <= 0:
        raise ValueError(f"tau must be > 0, got {tau}")
    gcol = group_col if group_col is not None else "_g1"
    d0 = df if group_col is not None else df.withColumn("_g1", F.lit(1))
    g = d0.groupBy(
        F.col(gcol).alias("_grp"),
        F.col(duration_col).cast("double").alias("_t"),
    ).agg(
        F.sum(F.col(event_col).cast("long")).alias("_d"),
        F.count(F.lit(1)).alias("_x"),
    )
    w_tot = Window.partitionBy("_grp")
    w_prev = (
        Window.partitionBy("_grp")
        .orderBy("_t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("_grp")
        .orderBy("_t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lead = Window.partitionBy("_grp").orderBy("_t")
    n_risk = (
        F.sum("_x").over(w_tot)
        - F.coalesce(F.sum("_x").over(w_prev), F.lit(0))
    )
    d = g.withColumn("_nrisk", n_risk)
    factor = F.lit(1.0) - F.try_divide(
        F.col("_d").cast("double"), F.col("_nrisk").cast("double")
    )
    d = d.withColumn("_f", factor)
    safe_log = F.log(
        F.when(F.col("_f") > 0.0, F.col("_f")).otherwise(F.lit(1.0))
    )
    surv = F.when(F.min("_f").over(w_cum) <= 0.0, F.lit(0.0)).otherwise(
        F.exp(F.sum(safe_log).over(w_cum))
    )
    d = (
        d.withColumn("_s", surv)
        .withColumn("_next", F.lead("_t").over(w_lead))
        .withColumn("_rn", F.row_number().over(w_lead))
    )
    t = F.col("_t")
    # step contribution: S(t_i) * (min(next_t, tau) - t_i) while t_i < tau;
    # a NULL lead (last grid row) runs the step to tau. The pre-grid
    # interval [0, t_1) contributes 1 * min(t_1, tau) on the first row.
    step = F.when(
        t < F.lit(float(tau)),
        F.col("_s")
        * (F.least(F.coalesce(F.col("_next"), F.lit(float(tau))),
                   F.lit(float(tau))) - t),
    ).otherwise(F.lit(0.0))
    head = F.when(
        F.col("_rn") == 1, F.least(t, F.lit(float(tau)))
    ).otherwise(F.lit(0.0))
    out = d.groupBy("_grp").agg(
        F.sum("_x").alias("n"),
        F.sum(step + head).alias("rmst"),
    )
    if group_col is None:
        return out.drop("_grp")
    return out.withColumnRenamed("_grp", group_col)


def cumulative_incidence(
    df: DataFrame,
    duration_col: str = "duration",
    cause_col: str = "cause",
) -> DataFrame:
    """Aalen-Johansen cumulative-incidence estimator for COMPETING
    risks → one row per (cause, distinct duration): (cause, duration,
    n_risk, n_events, cif). ``cause_col`` is 0 for right-censored
    subjects and a positive code per competing event type; at each
    event time t, CIF_k(t) = Σ_{t'≤t} Ŝ(t'−)·d_{k,t'}/n_{t'} with
    Ŝ the ALL-CAUSE Kaplan-Meier survival evaluated just before t'
    (Aalen & Johansen 1978) — the quantity 1 − KM_k overstates when
    competing events remove subjects (Gooley et al. 1999), which is
    exactly what this fixes. Σ_k CIF_k(t) + Ŝ(t) = 1 up to the
    floor-division-free float arithmetic. Censor-only times appear
    with 0 hazard so the at-risk ledger is complete; censor-at-t
    convention matches :func:`kaplan_meier`.

    Plan: one groupBy(duration) full-data pass for the shared ledger
    (risk set + all-cause survival on the GLOBAL duration grid — bin
    durations at scale, the KM caveat), one groupBy(cause, duration)
    pass, a (grid × causes) scaffold join of two bounded aggregates,
    and per-cause cumulative windows on the grid."""
    base = df.select(
        F.col(duration_col).alias("_t"),
        F.col(cause_col).cast("int").alias("_c"),
    )
    # shared per-duration ledger: total exits, all-cause events
    g = base.groupBy("_t").agg(
        F.count(F.lit(1)).alias("_x"),
        F.sum((F.col("_c") > 0).cast("long")).alias("_d"),
    )
    w_tot = Window.orderBy("_t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prev = Window.orderBy("_t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("_t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    n_risk = (
        F.sum("_x").over(w_tot)
        - F.coalesce(F.sum("_x").over(w_prev), F.lit(0))
    )
    grid = g.withColumn("_nrisk", n_risk)
    factor = F.lit(1.0) - F.try_divide(
        F.col("_d").cast("double"), F.col("_nrisk").cast("double")
    )
    grid = grid.withColumn("_f", factor)
    safe_log = F.log(
        F.when(F.col("_f") > 0.0, F.col("_f")).otherwise(F.lit(1.0))
    )
    surv = F.when(F.min("_f").over(w_cum) <= 0.0, F.lit(0.0)).otherwise(
        F.exp(F.sum(safe_log).over(w_cum))
    )
    grid = grid.withColumn("_s", surv).withColumn(
        "_s_prev", F.coalesce(F.lag("_s").over(Window.orderBy("_t")),
                              F.lit(1.0))
    )
    # per-cause event counts on the (grid x causes) scaffold
    per = base.where(F.col("_c") > 0).groupBy("_c", "_t").agg(
        F.count(F.lit(1)).alias("_dk")
    )
    causes = per.select("_c").distinct()
    full = (
        grid.select("_t", "_nrisk", "_s_prev")
        .crossJoin(F.broadcast(causes))
        .join(per, ["_c", "_t"], "left")
        .select(
            "_c", "_t", "_nrisk", "_s_prev",
            F.coalesce(F.col("_dk"), F.lit(0)).alias("_dk"),
        )
    )
    w_kcum = (
        Window.partitionBy("_c")
        .orderBy("_t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    term = F.col("_s_prev") * F.try_divide(
        F.col("_dk").cast("double"), F.col("_nrisk").cast("double")
    )
    return (
        full.withColumn("_term", term)
        .select(
            F.col("_c").alias("cause"),
            F.col("_t").alias("duration"),
            F.col("_nrisk").alias("n_risk"),
            F.col("_dk").alias("n_events"),
            F.sum("_term").over(w_kcum).alias("cif"),
        )
    )


def stratified_log_rank(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    group_col: str = "group",
    strata_col: str = "stratum",
) -> DataFrame:
    """Stratified log-rank test — the Cox proportional-hazards SCORE
    test for a group effect adjusted for a stratification covariate
    (Mantel 1966 extension of Mantel-Cox) → ONE row: (k, strata, n,
    chi2, df, crit_05, reject_05, chi2_exact2). The O/E event ledger of
    :func:`log_rank` is built WITHIN each stratum (stratum-local risk
    sets: E_{g,s,t} = d_{s,t}·n_{g,s,t}/n_{s,t}), and the per-stratum
    O−E and hypergeometric-variance pieces are SUMMED ACROSS strata
    before the chi-square — so a covariate that shifts baseline hazard
    between strata (site, device, cohort age) cannot masquerade as a
    group effect. ``chi2`` is the k-group screen Σ_g (O_g − E_g)²/E_g
    on k−1 df with O_g = Σ_s O_{g,s}, E_g = Σ_s E_{g,s};
    ``chi2_exact2`` is the exact-variance two-group statistic
    (Σ_s Σ_t (d_{1,s,t} − E_{1,s,t}))² / Σ_s Σ_t V_{s,t} with the same
    V_t as :func:`log_rank` computed per stratum — NULL unless k = 2
    (group 1 = the globally smallest group value). A single-group
    stratum leaves the EXACT statistic untouched (p₁ ∈ {0, 1} zeroes
    its O−E and V terms identically), while the k-group screen's E_g
    denominator still absorbs that stratum's events (O_g and E_g grow
    equally — stated, inherent to the (O−E)²/E approximation). With
    one stratum this reduces exactly to :func:`log_rank`. Censor-at-t
    convention unchanged.

    Plan: ONE full-data pass (groupBy(stratum, group, duration));
    everything after runs on the Σ_s (k_s × T_s) grid — the per-stratum
    (stratum, duration) grid joined to the broadcast (stratum × group)
    totals, per-(stratum, group) running-exit windows for the at-risk
    ledger, per-(stratum, duration) windows for the shared totals, and
    two one-row reduces. Bin durations at scale (the KM caveat);
    stratum cardinality is covariate-bounded.

    Eager: the call runs the groupBy(stratum, group, duration) pass at
    once and pins it with ``localCheckpoint(eager=True)``; the returned
    DataFrame reads those executor blocks, which live until it is
    garbage-collected and are not recomputed if an executor is lost."""
    # the cell table feeds the grid scaffold, the totals, and the
    # densification join; materialize it once so the full-data pass (and
    # whatever pipeline produced df — time_to_event is itself windowed)
    # runs exactly once instead of per reference
    per = df.groupBy(
        F.col(strata_col).alias("_s"),
        F.col(group_col).alias("_g"),
        F.col(duration_col).alias("_t"),
    ).agg(
        F.sum(F.col(event_col).cast("long")).alias("_d"),
        F.count(F.lit(1)).alias("_x"),
    ).localCheckpoint(eager=True)
    grid = per.select("_s", "_t").distinct()
    gtot = per.groupBy("_s", "_g").agg(F.sum("_x").alias("_tot"))
    # per-stratum (k_s × T_s) scaffold: every group PRESENT in a stratum
    # observed on every event time of that stratum
    full = (
        grid.join(F.broadcast(gtot), "_s")
        .join(per, ["_s", "_g", "_t"], "left")
        .select(
            "_s", "_g", "_t", "_tot",
            F.coalesce(F.col("_d"), F.lit(0)).alias("_d"),
            F.coalesce(F.col("_x"), F.lit(0)).alias("_x"),
        )
    )
    w_prev = (
        Window.partitionBy("_s", "_g")
        .orderBy("_t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    full = full.withColumn(
        "_nrisk",
        F.col("_tot") - F.coalesce(F.sum("_x").over(w_prev), F.lit(0)),
    )
    wt = Window.partitionBy("_s", "_t")
    wall = Window.partitionBy(F.lit(1))
    g1 = F.min("_g").over(wall)
    full = (
        full.withColumn("_nt", F.sum("_nrisk").over(wt))
        .withColumn("_dt", F.sum("_d").over(wt))
        .withColumn("_is1", (F.col("_g") == g1).cast("int"))
    )
    e_gt = F.col("_dt").cast("double") * F.try_divide(
        F.col("_nrisk").cast("double"), F.col("_nt").cast("double")
    )
    per_group = full.groupBy("_g").agg(
        F.sum(F.col("_d").cast("double")).alias("_O"),
        F.sum(e_gt).alias("_E"),
    )
    nt = F.col("_nt").cast("double")
    dt = F.col("_dt").cast("double")
    p1 = F.try_divide(F.col("_nrisk").cast("double"), nt)
    v_t = dt * p1 * (1.0 - p1) * F.try_divide(nt - dt, nt - 1.0)
    two = full.where(F.col("_is1") == 1).groupBy(F.lit(1).alias("_j")).agg(
        F.sum(F.col("_d").cast("double") - e_gt).alias("_num"),
        F.sum(v_t).alias("_den"),
    )
    out = per_group.groupBy(F.lit(1).alias("_j")).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(
            F.try_divide(
                (F.col("_O") - F.col("_E")) * (F.col("_O") - F.col("_E")),
                F.col("_E"),
            )
        ).alias("chi2"),
    )
    n_tot = gtot.groupBy(F.lit(1).alias("_j")).agg(
        F.sum("_tot").alias("n"),
        F.countDistinct("_s").alias("strata"),
    )
    j = (
        out.join(F.broadcast(n_tot), "_j")
        .join(F.broadcast(two), "_j")
    )
    dfree = (F.col("k") - 1).cast("int")
    crit = chi2_crit_05(dfree)
    return j.select(
        F.col("k").cast("int").alias("k"),
        F.col("strata").cast("int").alias("strata"),
        "n",
        "chi2",
        dfree.alias("df"),
        crit.alias("crit_05"),
        (F.col("chi2") > crit).alias("reject_05"),
        F.when(
            F.col("k") == 2,
            F.try_divide(
                F.col("_num") * F.col("_num"), F.col("_den")
            ),
        ).alias("chi2_exact2"),
    )


def concordance_index(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    risk_col: str = "risk",
) -> DataFrame:
    """Harrell's concordance index (C-index) of a risk score against
    right-censored outcomes → ONE row: (n, n_events, comparable,
    concordant, tied_risk, c_index). A pair (i, j) is COMPARABLE when
    i had the event and j demonstrably outlived i: T_j > T_i, or j
    censored at T_j = T_i (the censored subject is known to have
    survived past the event — the lifelines tie convention); two
    events at the same time, or a censored i, are not comparable. A
    comparable pair is CONCORDANT when risk_i > risk_j (higher risk
    predicted the earlier event); tied risks count ½ (Harrell, Califf,
    Pryor et al. 1982). C = (concordant + tied/2) / comparable — the
    censoring-aware generalization of :func:`~..pipeline.classifier.
    roc_auc` (with no censoring and a binary "event by horizon" label
    the two coincide), the standard ranking readout for survival
    models. NULL duration/risk/event rows are dropped; ``event`` is
    truthiness-cast (0/false = censored). No comparable pairs → NULL
    c_index; empty input → ZERO rows (module convention).

    NOT an all-pairs join: subjects collapse to the (duration × risk)
    CELL table in one full-data pass, the cell table is densified to
    the duration-grid × risk-grid rectangle (the documented grid
    densification — both grids are value grids, so QUANTIZE a
    continuous duration or risk first at corpus scale, the KM caveat),
    and every pair count comes from two cumulative ledgers on that
    rectangle: later(t, r) = #{T > t at risk r} + #{censored at
    exactly (t, r)} via a duration-descending window per risk column,
    then the r-cumulative split of later into concordant / tied /
    discordant mass per duration row. Σ over event cells of
    n_ev · mass counts every ordered comparable pair exactly once.

    Plan: one groupBy(duration, risk) full-data pass; a |T|×|R|
    crossJoin densification; two bounded-grid window passes; ONE
    reduce. No data-sized joins, no Python.

    Eager: the call runs the groupBy(duration, risk) pass at once and
    pins it with ``localCheckpoint(eager=True)``; the returned DataFrame
    reads those executor blocks, which live until it is
    garbage-collected and are not recomputed if an executor is lost."""
    t = F.col(duration_col).cast("double")
    r = F.col(risk_col).cast("double")
    e = F.col(event_col).cast("boolean").cast("int")
    pts = df.where(t.isNotNull() & r.isNotNull() & e.isNotNull())
    # the cell table feeds the two grid margins and the densification
    # join; materialize it once (measured 18 parquet scans in one entry
    # plan without it) — everything downstream runs on the bounded
    # |T|·|R| rectangle
    cells = pts.groupBy(t.alias("_t"), r.alias("_r")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(e).alias("_nev"),
        (F.count(F.lit(1)) - F.sum(e)).alias("_ncens"),
    ).localCheckpoint(eager=True)
    tg = cells.select("_t").distinct()
    rg = cells.select("_r").distinct()
    dense = (
        tg.crossJoin(rg)
        .join(cells, ["_t", "_r"], "left")
        .select(
            "_t", "_r",
            F.coalesce(F.col("_n"), F.lit(0)).alias("_n"),
            F.coalesce(F.col("_nev"), F.lit(0)).alias("_nev"),
            F.coalesce(F.col("_ncens"), F.lit(0)).alias("_ncens"),
        )
    )
    w_later = suffix_window(["_r"], "_t", start=1)
    d = dense.withColumn(
        "_later",
        F.coalesce(F.sum("_n").over(w_later), F.lit(0)) + F.col("_ncens"),
    )
    w_lo = (
        Window.partitionBy("_t")
        .orderBy("_r")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_hi = suffix_window(["_t"], "_r", start=1)
    d = d.withColumn(
        "_conc_a", F.coalesce(F.sum("_later").over(w_lo), F.lit(0))
    ).withColumn(
        "_disc_a", F.coalesce(F.sum("_later").over(w_hi), F.lit(0))
    )
    nev = F.col("_nev").cast("double")
    agg = d.groupBy(F.lit(1).alias("_j")).agg(
        F.sum("_n").cast("long").alias("n"),
        F.sum("_nev").cast("long").alias("n_events"),
        F.sum(nev * F.col("_conc_a")).cast("long").alias("concordant"),
        F.sum(nev * F.col("_later")).cast("long").alias("tied_risk"),
        F.sum(nev * F.col("_disc_a")).cast("long").alias("_disc"),
    )
    comparable = (
        F.col("concordant") + F.col("tied_risk") + F.col("_disc")
    )
    return agg.select(
        "n", "n_events",
        comparable.alias("comparable"),
        "concordant", "tied_risk",
        F.try_divide(
            F.col("concordant").cast("double")
            + F.col("tied_risk").cast("double") / 2.0,
            comparable.cast("double"),
        ).alias("c_index"),
    )
