"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship time-series pipeline on sf0.001;
``queries()`` exposes one callable per implemented operator from SURVEY.md §2
(+ the LLM-data-pipeline operators); ``oracle_sql()`` gives the DuckDB
equivalent for the driver's correctness harness.

Column-name and rounding conventions: every computed column is aliased
identically on both sides; aggregates whose float value depends on summation
order (avg/stddev/ratios) are rounded to 6 decimals on both sides; pure
arithmetic (lag differences, quotients) is left exact (IEEE-identical in both
engines).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import spark_timeseries_spark as sts
from spark_timeseries_spark.operators import (
    fill as fill_ops,
    filters,
    layout,
    resample as resample_ops,
    rolling,
)
from spark_timeseries_spark.sources import events_observations, load_table

# ---------------------------------------------------------------------------
# shared fixtures: the events table spans January 2024
# ---------------------------------------------------------------------------

DAILY = sts.uniform("2024-01-01", 31, sts.DayFrequency(1))
HOURLY = sts.uniform("2024-01-01", 31 * 24, sts.HourFrequency(1))

_DAILY_GRID_SQL = """
    WITH keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events),
    cal AS (
        SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01', g) AS BIGINT) AS loc,
               CAST(g AS TIMESTAMP) AS ts
        FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31',
                             INTERVAL 1 DAY) t(g)
    ),
    agg AS (
        SELECT CAST(user_id AS VARCHAR) AS key, date_trunc('day', ts) AS ts,
               ROUND(AVG(value), 6) AS value
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT keys.key, cal.loc, cal.ts, agg.value
        FROM keys CROSS JOIN cal
        LEFT JOIN agg ON agg.key = keys.key AND agg.ts = cal.ts
    )
"""


def _daily_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events resampled to a dense daily grid (avg per user per day),
    values rounded 6 — the shared base for grid-level operator queries."""
    obs = events_observations(spark, sf_dir)
    res = resample_ops.resample(obs, DAILY, "avg")
    return res.withColumn("value", F.round("value", 6))


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents spread across all cores. The test corpus is one small
    parquet file (one scan partition); the shingling/fingerprint pipelines
    are CPU-bound per document, so a 1.5 MB round-robin shuffle buys full
    parallelism. At real scale the scan has thousands of splits and this
    repartition is still wanted — it decouples downstream CPU work from
    input-file skew (a giant file no longer serializes its documents)."""
    return load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )


def _emb_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings spread across all cores — same rationale as
    :func:`_docs_spread`: the corpus is one small parquet file (one scan
    split), and everything downstream (codebook fits, broadcast scoring
    crossJoins, moment partials) is CPU-bound per vector, so a sub-MB
    round-robin shuffle buys full parallelism for every job in the
    fit-then-score pipelines. At real scale the same repartition
    decouples vector CPU work from input-file skew."""
    return load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: irregular events → daily alignment → linear fill →
    7-day rolling mean (the Phase-0 slice of SURVEY.md §7)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    grid = _daily_grid(spark, "/root/testdata/sf0.001")
    t = sts.TimeSeriesDataFrame(grid, DAILY)
    return t.fill("linear").roll_mean(7, "right").df


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_series_stats(spark, sf_dir):
    obs = events_observations(spark, sf_dir)
    return layout.series_stats(obs).select(
        "key",
        F.col("count").alias("cnt"),
        F.round("mean", 6).alias("mean"),
        F.round("stdev", 6).alias("stdev"),
        F.col("min").alias("vmin"),
        F.col("max").alias("vmax"),
    )


def _q_slice(spark, sf_dir):
    obs = events_observations(spark, sf_dir)
    return filters.slice_by_time(obs, "2024-01-10", "2024-01-20").select(
        "key", "ts", "value"
    )


def _q_resample_daily_avg(spark, sf_dir):
    return _daily_grid(spark, sf_dir).select("key", "loc", "ts", "value")


def _q_resample_stamp_right(spark, sf_dir):
    obs = events_observations(spark, sf_dir)
    res = resample_ops.resample(
        obs, DAILY, "max", closed_right=True, stamp_right=True
    )
    return res.select("key", "loc", "ts", F.col("value").alias("vmax"))


def _q_fill_previous(spark, sf_dir):
    grid = _daily_grid(spark, sf_dir)
    return fill_ops.fill_previous(grid).select("key", "loc", "ts", "value")


def _q_fill_linear(spark, sf_dir):
    # _stable_round, not round: interpolating 6-decimal grid values with a
    # rational fraction can land EXACTLY on the 7th-digit .5 boundary,
    # where the two engines' ROUND disagree by one ulp of input (caught by
    # the first full sf0.001 sweep, r15) — the nudged boundary is the
    # established cross-engine contract (_sr_sql mirrors it)
    grid = _daily_grid(spark, sf_dir)
    return fill_ops.fill_linear(grid).select(
        "key", "loc", "ts", _stable_round(F.col("value"), 6).alias("value")
    )


def _q_differences(spark, sf_dir):
    obs = events_observations(spark, sf_dir)
    w = Window.partitionBy("key").orderBy("ts")
    return (
        obs.withColumn("diff", F.col("value") - F.lag("value", 1).over(w))
        .where(F.col("diff").isNotNull())
        .select("key", "ts", "diff")
    )


def _q_return_rates(spark, sf_dir):
    obs = events_observations(spark, sf_dir)
    w = Window.partitionBy("key").orderBy("ts")
    return (
        obs.withColumn("rate", F.try_divide("value", F.lag("value", 1).over(w)) - 1.0)
        .where(F.col("rate").isNotNull())
        .select("key", "ts", "rate")
    )


def _q_roll_mean(spark, sf_dir):
    grid = _daily_grid(spark, sf_dir)
    out = rolling.roll_mean(grid, 7, "right")

    return out.select("key", "loc", "ts", F.round("value", 6).alias("value"))


def _q_roll_quantile(spark, sf_dir):
    """roll_quantile(7, 0.3) + roll_median(7) in one row — exercises both
    the interpolated branch (idx = 6·0.3 = 1.8) and the exact-pick branch
    (idx = 3) of the sorted-window pick; DuckDB ``quantile_cont`` shares the
    same lerp form so the values match bit-for-bit before rounding.
    q = 0.3 (frac 0.8) rather than 0.25: frac 0.5 on 6-decimal grid values
    puts every interpolation exactly on a …5 rounding tie at the 6th
    decimal, where Spark's HALF_UP and DuckDB's round() disagree; frac 0.8
    keeps the 7th decimal even, so no ties exist."""
    grid = _daily_grid(spark, sf_dir)
    q30 = rolling.roll_quantile(grid, 7, 0.3, out_col="q30").select(
        "key", "loc", "ts", "q30"
    )
    med = rolling.roll_quantile(grid, 7, 0.5, out_col="med").select(
        "key", "loc", "med"
    )
    return q30.join(med, ["key", "loc"]).select(
        "key", "loc", "ts",
        F.round("q30", 6).alias("q30"), F.round("med", 6).alias("med"),
    )


def _q_fill_suite(spark, sf_dir):
    """Composed re-proof of the SQL-expressible fill family in one window
    slot (r6 verdict item 7): previous / next / nearest / linear / zero /
    constant, each as its own column off the same daily grid. All six share
    one (key, loc) sort → a single exchange; ``fill_spline`` (the one
    Python-kernel fill) keeps its own dedicated row."""
    g = _daily_grid(spark, sf_dir)
    for col, method in [
        ("prev", "previous"), ("nxt", "next"), ("near", "nearest"),
        ("lin", "linear"), ("zero", "zero"),
    ]:
        g = fill_ops.fill(g.withColumn(col, F.col("value")), method, value_col=col)
    g = fill_ops.fill_value(g.withColumn("cval", F.col("value")), -1.0,
                            value_col="cval")
    return g.select(
        "key", "loc", "ts", "prev", "nxt", "near",
        _stable_round(F.col("lin"), 6).alias("lin"), "zero", "cval",
    )


def _q_roll_skew_kurt(spark, sf_dir):
    """Rolling adjusted skewness + excess kurtosis (pandas conventions) in
    one row — the oracle replays the power-sum moment assembly
    term-for-term (explicit products, identical operation order), so the
    only cross-engine divergence is libm pow(m2, 1.5), absorbed by the
    6-decimal rounding."""
    grid = _daily_grid(spark, sf_dir)
    sk = rolling.roll_skew(grid, 7, out_col="skew").select(
        "key", "loc", "ts", "skew"
    )
    ku = rolling.roll_kurt(grid, 7, out_col="kurt").select("key", "loc", "kurt")
    return sk.join(ku, ["key", "loc"]).select(
        "key", "loc", "ts",
        F.round("skew", 6).alias("skew"), F.round("kurt", 6).alias("kurt"),
    )


def _q_roll_corr(spark, sf_dir):
    """Rolling 7-day Pearson correlation between two user series off the
    daily grid — windowed companion of crosscorr. The operator itself
    holds the NULL contract on zero-variance windows now (r8: try_divide
    moments replaced native F.corr, whose NaN the r7 harness had to
    canonicalize here)."""
    grid = _daily_grid(spark, sf_dir)
    out = rolling.roll_corr(grid, "1", "2", 7)
    return out.select("loc", F.round(F.col("corr"), 6).alias("corr"))


def _q_forecast_accuracy(spark, sf_dir):
    """Per-series forecast-accuracy suite (MAE/RMSE/MAPE/sMAPE/MASE,
    Hyndman & Koehler 2006 conventions) scoring a 3-day moving-average
    forecast against the filled daily grid — one lag window + one per-key
    aggregate; the oracle replays forecast construction and every
    exclusion rule."""
    from spark_timeseries_spark.stats import forecast_accuracy

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    w3 = Window.partitionBy("key").orderBy("loc").rowsBetween(-3, -1)
    fc = filled.withColumn("_c3", F.count("value").over(w3)).withColumn(
        "forecast", F.when(F.col("_c3") == 3, F.avg("value").over(w3))
    )
    out = forecast_accuracy(fc, "value", "forecast")
    return out.select(
        "key",
        "n",
        _stable_round(F.col("mae"), 6).alias("mae"),
        _stable_round(F.col("rmse"), 6).alias("rmse"),
        _stable_round(F.col("mape"), 6).alias("mape"),
        _stable_round(F.col("smape"), 6).alias("smape"),
        _stable_round(F.col("mase"), 6).alias("mase"),
    )


def _q_arch_test(spark, sf_dir):
    """Engle ARCH-LM(1) per series on raw event values: stat =
    n_obs·corr(v²_t, v²_{t−1})² — the single-regressor R² identity, so the
    oracle replays the whole statistic as one squared window correlation.
    p-value (χ²(1)) stays pytest-covered, like bp_test."""
    from spark_timeseries_spark.models import test_series

    obs = events_observations(spark, sf_dir)
    out = test_series(obs, "arch_lm", order_col="ts", max_lag=1)
    return out.select("key", _stable_round(F.col("stat"), 5).alias("arch_stat"))


def _q_granger(spark, sf_dir):
    """Granger non-causality (p=1) between two users' filled daily series:
    the F of restricted-vs-unrestricted lag regression, replayed by the
    oracle through the correlation-algebra closed form
    R²_u = (r_ya² + r_yb² − 2·r_ya·r_yb·r_ab)/(1 − r_ab²). χ² p-value
    stays pytest-covered."""
    from spark_timeseries_spark.models import granger_test

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = granger_test(filled, "1", "2", max_lag=1)
    return out.select(
        "target", "cause", "n",
        _stable_round(F.col("f_stat"), 5).alias("f_stat"),
    )


def _q_lag_suite(spark, sf_dir):
    """Composed re-proof of the lag family in one window slot: first and
    second differences, lag-2 quotients, and return rates as four columns
    off the same (key, ts) sort — one exchange, four window expressions
    (``TimeSeriesRDD.scala:113-131``, ``UnivariateTimeSeries.scala:47-65``,
    order-d recursion ``:468-480``)."""
    obs = events_observations(spark, sf_dir)
    w = Window.partitionBy("key").orderBy("ts")
    l1 = F.lag("value", 1).over(w)
    l2 = F.lag("value", 2).over(w)
    d1 = F.col("value") - l1
    return (
        obs.withColumn("diff1", d1)
        .withColumn("diff2", F.col("value") - 2.0 * l1 + l2)
        .withColumn("quot2", F.try_divide("value", l2))
        .withColumn("ret", F.try_divide("value", l1) - 1.0)
        .where(F.col("diff1").isNotNull())
        .select("key", "ts", "diff1", "diff2", "quot2", "ret")
    )


def _q_var_fit(spark, sf_dir):
    """VAR(1) over two users' filled daily series → the 6-coefficient
    table (2 equations × [const, lag-1 of each series]). The kernel's
    equation-by-equation lstsq is replayed by the oracle through the
    2-regressor normal-equations closed form (covariance algebra —
    b = Σ⁻¹c with the 2×2 inverse written out)."""
    from spark_timeseries_spark.models import fit_var

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = fit_var(filled, ["1", "2"], p=1)
    return out.select(
        "target", "regressor", "lag",
        _stable_round(F.col("coef"), 6).alias("coef"),
    )


def _q_ts_features(spark, sf_dir):
    """tsfeatures-style per-series catalog over the filled daily grid
    (tile=10 → three complete tiles of the 31-day grid): acf1,
    mean-crossings, tiled stability/lumpiness over the Z-SCORED series
    (bounds both to O(1) magnitude so 6-decimal rounding is inside
    cross-engine double reproducibility — the unscaled r7 form rounded a
    4.6e6-magnitude variance and lost the last digit) — every feature an
    exact closed form the oracle replays."""
    from spark_timeseries_spark.operators.features import ts_features

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = ts_features(filled, tile=10)
    return out.select(
        "key", "n",
        _stable_round(F.col("mean"), 6).alias("mean"),
        _stable_round(F.col("variance"), 6).alias("variance"),
        _stable_round(F.col("acf1"), 6).alias("acf1"),
        "crossing_points",
        _stable_round(F.col("stability"), 6).alias("stability"),
        _stable_round(F.col("lumpiness"), 6).alias("lumpiness"),
    )


def _q_decomp_strength(spark, sf_dir):
    """FPP trend/seasonal strength per series over the classical period-7
    decomposition of the daily grid — one aggregate on top of the
    seasonal_decompose machinery, oracle replays decomposition AND the
    variance-ratio features."""
    from spark_timeseries_spark.operators.decompose import (
        decomposition_strength,
    )

    grid = _daily_grid(spark, sf_dir)
    out = decomposition_strength(grid, 7)
    return out.select(
        "key", "n",
        _stable_round(F.col("trend_strength"), 6).alias("trend_strength"),
        _stable_round(F.col("seasonal_strength"), 6).alias("seasonal_strength"),
    )


def _q_baseline_forecast(spark, sf_dir):
    """naive + snaive(7) + drift baseline forecasts (h=3) off the raw
    daily grid in one row — per-key aggregates + horizon explode +
    (snaive) one equi-join; snaive NULLs surface where the one-cycle-back
    cell is a grid hole."""
    from spark_timeseries_spark.models import baseline_forecast

    grid = _daily_grid(spark, sf_dir)
    nv = baseline_forecast(grid, 3, "naive").withColumnRenamed(
        "forecast", "naive"
    )
    sn = baseline_forecast(grid, 3, "snaive", period=7).withColumnRenamed(
        "forecast", "snaive"
    )
    dr = baseline_forecast(grid, 3, "drift").withColumnRenamed(
        "forecast", "drift"
    )
    return (
        nv.join(sn, ["key", "step"]).join(dr, ["key", "step"])
        .select("key", "step", "naive", "snaive",
                F.round("drift", 6).alias("drift"))
    )


def _q_detect_seasonality(spark, sf_dir):
    """ACF season-length detection over the filled daily grid (lags 2..10,
    harmonic rule: smallest lag within 0.05 of the max rounded acf) — the
    time-domain twin of dominant_period; oracle replays the lag
    correlations AND the pick."""
    from spark_timeseries_spark.operators.features import detect_seasonality

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = detect_seasonality(filled, max_period=10, min_acf=0.1)
    return out.select(
        "key", "period", _stable_round(F.col("acf"), 6).alias("acf")
    )


def _q_spectral_entropy(spark, sf_dir):
    """Normalized spectral entropy per series over the HW-filled grid
    (same input as the periodogram row, so the oracle reuses its exact
    cos/sin projection CTE) — the forecastability feature of the
    tsfeatures catalog."""
    from spark_timeseries_spark.operators.features import spectral_entropy

    out = spectral_entropy(_hw_filled(spark, sf_dir), method="explode")
    return out.select(
        "key", _stable_round(F.col("entropy"), 6).alias("entropy")
    )


def _q_remove_instants_with_nans(spark, sf_dir):
    grid = _daily_grid(spark, sf_dir).where(F.col("key").isin("1", "2", "3"))
    out = filters.remove_instants_with_nans(grid, rebase_loc=False)
    return out.select("key", "ts", "value")


def _q_filter_starting_before(spark, sf_dir):
    obs = events_observations(spark, sf_dir)
    out = filters.filter_starting_before(obs, "2024-01-02")
    return out.groupBy("key").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )


def _q_filter_ending_after(spark, sf_dir):
    obs = events_observations(spark, sf_dir)
    out = filters.filter_ending_after(obs, "2024-01-29")
    return out.groupBy("key").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )


def _q_to_instants_pivot(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    avg = ev.groupBy(F.date_trunc("day", "ts").alias("ts")).pivot(
        "event_type", ["click", "error", "purchase", "signup", "view"]
    ).agg(F.round(F.avg("value"), 6))
    return avg.orderBy("ts")


def _q_min_max_datetimes(spark, sf_dir):
    obs = events_observations(spark, sf_dir)
    return obs.groupBy("key").agg(
        F.min(F.struct("value", "ts"))["ts"].alias("min_dt"),
        F.max(F.struct("value", "ts"))["ts"].alias("max_dt"),
    )


def _q_autocorr(spark, sf_dir):
    obs = events_observations(spark, sf_dir)
    out = rolling.autocorr(obs, 3, order_col="ts")
    return out.select("key", "lag", F.round("acf", 6).alias("acf"))


def _q_trim(spark, sf_dir):
    grid = _daily_grid(spark, sf_dir).where(F.col("key").isin("0", "1"))
    out = filters.trim_leading_trailing(grid)
    return out.select("key", "loc", "ts", "value")


# -- statistical tests & models ---------------------------------------------

def _q_pacf(spark, sf_dir):
    """Partial autocorrelation function (``EasyPlot.scala:84-86``: the
    AR(maxLag) coefficient vector) + the white-noise confidence band — exact
    OLS, oracle-replayed via the same centered 2×2 Cramer as ar_forecast."""
    from spark_timeseries_spark.stats import pacf

    obs = events_observations(spark, sf_dir)
    out = pacf(obs, 2, order_col="ts")
    return out.select(
        "key",
        "lag",
        _stable_round(F.col("pacf"), 4).alias("pacf"),
        _stable_round(F.col("conf_bound"), 6).alias("conf_bound"),
    )


def _q_dw_test(spark, sf_dir):
    """Durbin-Watson per series — SQL-expressible window+agg plan
    (SURVEY §2.10): sum(Δv²)/sum(v²) over the per-key event sequence."""
    obs = events_observations(spark, sf_dir)
    w = Window.partitionBy("key").orderBy("ts")
    d = F.col("value") - F.lag("value", 1).over(w)
    return (
        obs.withColumn("_d2", d * d)
        .groupBy("key")
        .agg(
            F.round(
                F.sum("_d2") / F.sum(F.col("value") * F.col("value")), 6
            ).alias("dw")
        )
    )


def _q_ar_forecast(spark, sf_dir):
    """AR(2) per-series fit + 5-step forecast via grouped-map pandas UDF.
    The fit is pure OLS, so the DuckDB oracle replays it exactly (centered
    2×2 Cramer on covariance moments + the 5-step recursion) — a full value
    check on a model surface (``Autoregression.scala:24-95``)."""
    from spark_timeseries_spark.models import forecast as model_forecast

    obs = events_observations(spark, sf_dir)
    out = model_forecast(obs, "ar", 5, order_col="ts", max_lag=2)
    return out.select(
        "key", "step", _stable_round(F.col("forecast"), 4).alias("forecast")
    )


def _q_adf_test(spark, sf_dir):
    """ADF(maxLag=1, c) statistic; the oracle solves the same 3-variable OLS
    (level, Δy lag, intercept) from covariance moments and reproduces the
    t-statistic. p-value (MacKinnon interpolation) is pytest-covered."""
    from spark_timeseries_spark.models import test_series

    obs = events_observations(spark, sf_dir)
    out = test_series(obs, "adf", order_col="ts", max_lag=1)
    return out.select("key", _stable_round(F.col("stat"), 4).alias("adf_stat"))


def _q_kpss_test(spark, sf_dir):
    """KPSS(c) statistic with the R-tseries lag rule and Newey-West long-run
    variance — all aggregate arithmetic, replayed exactly by the oracle."""
    from spark_timeseries_spark.models import test_series

    obs = events_observations(spark, sf_dir)
    out = test_series(obs, "kpss", order_col="ts", method="c")
    return out.select("key", _stable_round(F.col("stat"), 6).alias("kpss_stat"))


def _hw_filled(spark, sf_dir):
    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_linear(grid)
    filled = fill_ops.fill_previous(filled)
    return fill_ops.fill_next(filled)


_HW_PARAMS = [0.3, 0.1, 0.2]


def _q_holt_winters_forecast(spark, sf_dir):
    """Holt-Winters weekly-seasonal 7-step forecast with FIXED (α,β,γ) —
    exercises the full R-style init + triple-smoothing recursion + forecast
    machinery (``HoltWinters.scala:146-325``), which the oracle replays with
    a recursive CTE carrying (level, trend, season array). The optimizer
    itself is certified separately by ``holt_winters_fit``."""
    from spark_timeseries_spark.models import forecast as model_forecast

    out = model_forecast(
        _hw_filled(spark, sf_dir), "holtwinters", 7, period=7, params=_HW_PARAMS
    )
    return out.select(
        "key", "step", _stable_round(F.col("forecast"), 6).alias("forecast")
    )


def _q_holt_winters_fit(spark, sf_dir):
    """Nelder-Mead (α,β,γ) fit certificate: fitted SSE ≤ SSE at the fixed
    simplex start — the deterministic inequality the oracle can assert."""
    from spark_timeseries_spark.models import fit_improvement

    return fit_improvement(_hw_filled(spark, sf_dir), "holtwinters", period=7)


# -- pipeline operators (documents / embeddings) ----------------------------

def _q_dedup_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n")
    )


def _q_text_quality(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    n_nospace = F.length(F.regexp_replace("text", r"\s", ""))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(n_nospace / n_tokens, 6).alias("avg_token_len"),
        F.round(F.length("text") / n_tokens, 6).alias("chars_per_token"),
    )


def _q_token_count_by_source(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # empty/whitespace-only documents tokenize to [''] in both engines, but
    # counting them as 1 token is wrong — guard to 0 (mirrored in the oracle)
    n_tokens = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), r"\s+"))
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum(n_tokens).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
    )


def _q_token_count_bpe(spark, sf_dir):
    """BPE-ish regex pre-tokenization (letter / digit / punctuation runs —
    the GPT-2-style split reduced to its engine-portable core) counted per
    document; the oracle replays the identical regex."""
    from spark_timeseries_spark.pipeline import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text_ops.token_count(F.col("text"), bpe=True).alias("n_bpe_tokens"),
    )


def _q_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower("text"), r"\s+", " ")
    return docs.select("doc_id", F.md5(norm).alias("fp"))


def _q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard pairs via an inverted-index self-join on 64-bit
    shingle hashes. The per-doc signature table (doc_id, hash array) is
    computed once and persisted — it feeds three consumers (both join sides
    and the size table), and shingling is the expensive part; joining on
    longs instead of strings keeps the shuffle narrow. xxhash64 collisions
    across ~10⁵ distinct shingles are ~10⁻⁹-probable and deterministic."""
    from spark_timeseries_spark.pipeline import dedup as dd

    docs = _docs_spread(spark, sf_dir)
    sigs = docs.select(
        "doc_id",
        F.transform(
            dd.shingles("text", 3), lambda s: F.xxhash64(s)
        ).alias("hs"),
    ).persist()
    sh = sigs.select("doc_id", F.explode("hs").alias("sh"))
    sizes = sigs.select("doc_id", F.size("hs").alias("n"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        pairs.join(sizes.withColumnsRenamed({"doc_id": "id_a", "n": "na"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc_id": "id_b", "n": "nb"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ),
        )
        .where(F.col("jaccard") >= 0.2)
        .select("id_a", "id_b", "jaccard")
    )


def _q_knn_cosine(spark, sf_dir):
    emb = _emb_spread(spark, sf_dir).withColumn(
        "v", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # norms folded once per row on each side (same expressions, same
    # values); the pair stage folds only the dot product
    scored = (
        q.withColumn("_nq", norm(F.col("qv")))
        .crossJoin(F.broadcast(emb.withColumn("_nv", norm(F.col("v")))))
        .where(F.col("qid") != F.col("vec_id"))
        .withColumn("sim", F.try_divide(dot, F.col("_nq") * F.col("_nv")))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("qid", "vec_id", F.round("sim", 4).alias("sim"), "rank")
    )


def _q_lang_id(spark, sf_dir):
    from spark_timeseries_spark.pipeline import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", text_ops.language_id("text").alias("pred_lang")
    )


def _q_quality_score(spark, sf_dir):
    from spark_timeseries_spark.pipeline import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    return text_ops.quality_score(docs)


def _q_sessionize(spark, sf_dir):
    """Gap-based per-event session ids (6h gap): lag + running sum over one
    (key, ts) sort — single exchange (``operators/sessionize.py``)."""
    from spark_timeseries_spark.operators.sessionize import sessionize

    obs = events_observations(spark, sf_dir)
    return sessionize(obs, 21600).select("key", "ts", "session_id")


def _q_session_stats(spark, sf_dir):
    """Per-session aggregates via Spark's NATIVE session_window operator —
    the streaming-compatible form; oracle replays with lag+cumsum+groupBy."""
    from spark_timeseries_spark.operators.sessionize import session_stats

    obs = events_observations(spark, sf_dir)
    out = session_stats(obs, 21600)
    return out.select(
        "key",
        "session_start",
        "session_end_ts",
        "n_events",
        F.round("duration_seconds", 6).alias("duration_seconds"),
        _stable_round(F.col("value_sum"), 6).alias("value_sum"),
    )


def _q_pretrain_clean(spark, sf_dir):
    """End-to-end cleaning composition (language → quality → Gopher
    repetition → exact dedup) as one plan — ``pipeline/clean.py``. Row-local
    gates run first; the aggregation gate sees only survivors; the content
    digest shuffle runs last on the smallest set."""
    from spark_timeseries_spark.pipeline.clean import pretrain_clean

    docs = _docs_spread(spark, sf_dir)
    out = pretrain_clean(docs, lang="en", min_quality=0.5)
    return out.select("doc_id", F.round("quality", 6).alias("quality"))


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs sharing any 5-gram with a probe set
    (docs 0-4 standing in for a benchmark) are flagged; the probe n-gram
    set broadcasts, the corpus side is explode + semi-join."""
    from spark_timeseries_spark.pipeline.text import contamination_flags

    docs = _docs_spread(spark, sf_dir)
    probes = docs.where(F.col("doc_id") < 5)
    return contamination_flags(docs, probes, n=5)


def _q_gopher_quality(spark, sf_dir):
    """The non-repetition Gopher quality rules (word bounds, symbol/bullet/
    ellipsis ratios, alphabetic + stopword checks) — all row-local JVM
    expressions, one scan; oracle replays each rule."""
    from spark_timeseries_spark.pipeline import text as text_ops

    docs = _docs_spread(spark, sf_dir)
    feats = text_ops.gopher_quality_features(docs)
    keep = text_ops.gopher_quality_filter(docs)
    return feats.join(keep, "doc_id").select(
        "doc_id",
        "n_words",
        _stable_round(F.col("mean_word_len"), 6).alias("mean_word_len"),
        _stable_round(F.col("alpha_word_ratio"), 6).alias("alpha_word_ratio"),
        "n_gopher_stopwords",
        "keep",
    )


def _q_dedup_components(spark, sf_dir):
    """Duplicate-cluster resolution: the 3-gram-Jaccard near-dup pairs
    (same pipeline as ``ngram_jaccard_pairs``) collapsed into connected
    components via DataFrame min-label propagation → (doc_id, component).
    The oracle replays with a recursive-CTE transitive closure."""
    from spark_timeseries_spark.pipeline import dedup as dd

    docs = _docs_spread(spark, sf_dir)
    sigs = docs.select(
        "doc_id",
        F.transform(
            dd.shingles("text", 3), lambda s: F.xxhash64(s)
        ).alias("hs"),
    ).persist()
    sh = sigs.select("doc_id", F.explode("hs").alias("sh"))
    sizes = sigs.select("doc_id", F.size("hs").alias("n"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
        .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
        .where(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")) >= 0.2)
        .select("id_a", "id_b")
        # eager checkpoint cuts the lineage back to sigs so its cache can
        # be released here instead of leaking (r3 ADVICE), and the CC
        # iteration re-reads the materialized pairs, not the shingle join
        .localCheckpoint(eager=True)
    )
    sigs.unpersist()
    comp = dd.connected_components(pairs)
    return comp.select(F.col("id").alias("doc_id"), "component")


def _q_scrub_pii(spark, sf_dir):
    """PII redaction over documents with deterministically injected PII
    (email/IP/phone derived from doc_id, so both engines see identical
    inputs): the full regexp_replace chain is hash-checked via the
    scrubbed-text md5, plus a pre-scrub match count per kind."""
    from spark_timeseries_spark.pipeline.text import PII_PATTERNS, scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    salted = docs.withColumn(
        "text",
        F.concat(
            "text",
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 192.168.0."),
            F.col("doc_id").cast("string"),
            F.lit(" tel +1 555 0100 100"),
        ),
    )
    counts = [
        F.regexp_count("text", F.lit(pat)).alias(f"n_{kind}")
        for kind, pat in PII_PATTERNS
    ]
    pre = salted.select("doc_id", "text", *counts)
    out = scrub_pii(pre)
    return out.select(
        "doc_id",
        F.md5("text").alias("scrubbed_md5"),
        "n_email",
        "n_ipv4",
        "n_phone",
    )


def _q_token_percentiles(spark, sf_dir):
    """Per-source EXACT token-count percentiles (linear interpolation;
    Spark ``percentile`` ≡ DuckDB ``quantile_cont``) — exact mode is the
    oracle-checkable variant; the library default
    (``pipeline.text.token_percentiles``) is the mergeable
    ``approx_percentile`` sketch, the bounded-memory 100 TB path."""
    docs = load_table(spark, sf_dir, "documents")
    from spark_timeseries_spark.pipeline import text as text_ops

    out = text_ops.token_percentiles(docs, exact=True)
    return out.select(
        "source",
        _stable_round(F.col("p50"), 4).alias("p50"),
        _stable_round(F.col("p90"), 4).alias("p90"),
        _stable_round(F.col("p99"), 4).alias("p99"),
    )


def _q_stratified_sample(spark, sf_dir):
    """Deterministic per-source mixture sampling (md5_60 hash mode so the
    oracle replays the exact keep set): row-local hash compare, no shuffle —
    ``pipeline/sampling.py``."""
    from spark_timeseries_spark.pipeline.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        docs,
        {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1},
        stratum_col="source",
        seed=7,
        default_rate=0.05,
        hash_fn="md5_60",
    )
    return out.select("doc_id", "source")


def _q_repetition_features(spark, sf_dir):
    """Gopher-style within-document repetition signals (Rae et al. 2021):
    duplicate-line ratios + most-frequent word n-gram coverage — the
    standard pre-training repetition gate, as relational explode→groupBy
    aggregation (``pipeline/text.py::repetition_features``)."""
    from spark_timeseries_spark.pipeline import text as text_ops

    docs = _docs_spread(spark, sf_dir)
    # only the 2-/3-gram ratios are output — don't pay for the 4-gram
    # explode+aggregate (the gopher_repetition query covers n=4)
    out = text_ops.repetition_features(docs, top_ngram_ns=(2, 3))
    return out.select(
        "doc_id",
        "n_lines",
        _stable_round(F.col("dup_line_ratio"), 6).alias("dup_line_ratio"),
        _stable_round(F.col("dup_line_char_ratio"), 6).alias(
            "dup_line_char_ratio"
        ),
        _stable_round(F.col("top2gram_char_ratio"), 6).alias("top2_ratio"),
        _stable_round(F.col("top3gram_char_ratio"), 6).alias("top3_ratio"),
    )


def _q_gopher_repetition(spark, sf_dir):
    """Boolean Gopher repetition filter at the published thresholds."""
    from spark_timeseries_spark.pipeline import text as text_ops

    docs = _docs_spread(spark, sf_dir)
    return text_ops.gopher_repetition_filter(docs)


def _q_cosine_dup_pairs(spark, sf_dir):
    """Exact embedding near-dup pairs (cosine ≥ 0.35; the synthetic vectors
    are near-orthogonal, max pairwise ≈ 0.51) — exact blocked-GEMM all-pairs
    (one BLAS product per block pair); the LSH-bucketed variant is
    approximate and checked rows-only separately."""
    from spark_timeseries_spark.pipeline import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    out = sim.blocked_all_pairs_cosine(emb, threshold=0.35, num_blocks=8)
    return out.select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    )


def _q_minhash_lsh_dedup(spark, sf_dir):
    """Full MinHash+LSH pipeline in cross-engine md5_60 hash mode: the DuckDB
    oracle replays signatures → banding → candidate join → exact-Jaccard
    verify bit-for-bit, so the ENTIRE approximate pipeline (not just the
    verified pairs) is correctness-checked. xxhash64 remains the scale-path
    default in the library."""
    from spark_timeseries_spark.pipeline import dedup as dd

    docs = _docs_spread(spark, sf_dir)
    return dd.dedup_minhash_lsh(docs, threshold=0.3, hash_fn="md5_60").select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def _q_minhash_lsh_dedup_xx(spark, sf_dir):
    """BENCH-ONLY twin of ``minhash_lsh_dedup`` on the PRODUCTION hash path
    (``hash_fn="xxhash64"`` — one JVM xxhash64 per shingle per seed instead
    of 64 seeded MD5s), so the recorded headline number reflects the scale
    path, not the oracle-replay mode (r6 verdict item 4). Not in
    ``queries()``: DuckDB has no xxhash64, so the row is not
    oracle-replayable; correctness of the shared pipeline is already proven
    by the md5_60 row, which differs only in the hash expression."""
    from spark_timeseries_spark.pipeline import dedup as dd

    docs = _docs_spread(spark, sf_dir)
    return dd.dedup_minhash_lsh(docs, threshold=0.3, hash_fn="xxhash64").select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def _q_minhash_lsh_dedup_oph(spark, sf_dir):
    """BENCH-ONLY: the one-permutation-hashing signature path
    (``hash_fn="oph"`` — ONE xxhash64 per shingle with rotation
    densification instead of 64 seeded hashes), the extreme-scale variant;
    verified pairs match the xxhash64 path on the test corpus
    (tests/test_pipeline.py::test_oph_signatures_and_dedup)."""
    from spark_timeseries_spark.pipeline import dedup as dd

    docs = _docs_spread(spark, sf_dir)
    return dd.dedup_minhash_lsh(docs, threshold=0.3, hash_fn="oph").select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def bench_only_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Extra entries bench.py times but the correctness harness skips
    (non-oracle-replayable variants of already-proven pipelines)."""
    return {
        "minhash_lsh_dedup_xx": _q_minhash_lsh_dedup_xx,
        "minhash_lsh_dedup_oph": _q_minhash_lsh_dedup_oph,
    }


def _q_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup pairs in md5_60 hash mode — oracle recomputes the
    signatures and replays the pigeonhole-banding semantics (hamming ≤ 8 AND
    ≥1 equal 16-bit block) over all pairs."""
    from spark_timeseries_spark.pipeline import dedup as dd

    docs = _docs_spread(spark, sf_dir)
    return dd.simhash_near_dups(
        dd.simhash(docs, hash_fn="md5_60"), max_hamming=8
    )


def _q_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH multiprobe top-k. The seeded plane matrix is embedded
    as literals in the DuckDB oracle, which replays the exact bucketing +
    probing + ranking — the approximate result is deterministically checked."""
    from spark_timeseries_spark.pipeline import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    out = sim.lsh_topk(emb, q, k=5, dim=64, n_planes=8)
    return out.select("qid", "vec_id", F.round("sim", 4).alias("sim"), "rank")


def _q_lsh_recall(spark, sf_dir):
    """ANN evaluation: recall@5 of hyperplane-LSH multiprobe against exact
    brute-force top-k, per query point — the quality metric an approximate
    index must report at scale. Both sides are deterministic, so the oracle
    replays the entire evaluation."""
    exact = _q_knn_cosine(spark, sf_dir).select("qid", "vec_id")
    approx = _q_lsh_topk(spark, sf_dir).select("qid", "vec_id")
    hits = (
        exact.join(approx, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count("*").alias("hits"))
    )
    k = exact.groupBy("qid").agg(F.count("*").alias("k"))
    return k.join(hits, "qid", "left").select(
        "qid",
        F.round(F.coalesce("hits", F.lit(0)) / F.col("k"), 4).alias("recall"),
    )


def _q_winnowing_fingerprints(spark, sf_dir):
    """Winnowing min-sketch, exploded to (doc_id, fingerprint) rows (array
    columns defeat the harness canonicalizer) in md5_60 hash mode."""
    from spark_timeseries_spark.pipeline import text as text_ops

    docs = _docs_spread(spark, sf_dir)
    return text_ops.winnowing_fingerprints(
        docs, k=5, keep=8, hash_fn="md5_60", exploded=True
    )


# -- manipulation-parity operators (SURVEY §2.3-2.8 widening) ----------------

_IRREG_INSTANTS = [
    "2024-01-02", "2024-01-05", "2024-01-07", "2024-01-11", "2024-01-13",
    "2024-01-17", "2024-01-19", "2024-01-23", "2024-01-29",
]


def _q_lags(spark, sf_dir):
    """lags(2): per-series lagged copies as new series ``lag{i}(k)``,
    first 2 stamps trimmed (``TimeSeriesRDD.scala:77-100``)."""
    from spark_timeseries_spark.operators import lag as lag_ops

    grid = _daily_grid(spark, sf_dir).where(F.col("key").isin("0", "1", "2"))
    return lag_ops.lags(grid, 2)


def _q_quotients(spark, sf_dir):
    from spark_timeseries_spark.operators import lag as lag_ops

    obs = events_observations(spark, sf_dir)
    out = lag_ops.quotients(obs, 1, order_col="ts")
    return out.select("key", "ts", F.col("value").alias("quot"))


def _q_fill_next(spark, sf_dir):
    grid = _daily_grid(spark, sf_dir)
    return fill_ops.fill_next(grid).select("key", "loc", "ts", "value")


def _q_fill_nearest(spark, sf_dir):
    grid = _daily_grid(spark, sf_dir)
    return fill_ops.fill_nearest(grid).select("key", "loc", "ts", "value")


def _q_fill_zero(spark, sf_dir):
    grid = _daily_grid(spark, sf_dir)
    return fill_ops.fill(grid, "zero").select("key", "loc", "ts", "value")


def _q_resample_closed_right(spark, sf_dir):
    """closed-right / stamp-left regime: windows (cur, next]
    (``Resample.scala:62-86``)."""
    obs = events_observations(spark, sf_dir)
    res = resample_ops.resample(obs, DAILY, "sum", closed_right=True)
    return res.select("key", "loc", "ts", F.round("value", 6).alias("value"))


def _q_downsample(spark, sf_dir):
    grid = _daily_grid(spark, sf_dir)
    return resample_ops.downsample(grid, 3).select("key", "loc", "ts", "value")


def _q_upsample(spark, sf_dir):
    grid = _daily_grid(spark, sf_dir).where(F.col("key").isin("0", "1", "2"))
    return resample_ops.upsample(grid, 2).select("key", "loc", "value")


def _q_rebase_uniform(spark, sf_dir):
    """withIndex onto a shifted daily index (``TimeSeriesRDD.scala:554-563``):
    common instants survive, new instants are NULL."""
    from spark_timeseries_spark.operators import align as align_ops

    shifted = sts.uniform("2024-01-05", 31, sts.DayFrequency(1))
    return align_ops.with_index(_daily_grid(spark, sf_dir), shifted)


def _q_rebase_irregular(spark, sf_dir):
    """Rebase onto an irregular index — exercises the index-DataFrame
    equi-join path of ``attach_loc`` (vs the uniform arithmetic path)."""
    from spark_timeseries_spark.operators import align as align_ops

    idx = sts.irregular(_IRREG_INSTANTS)
    return align_ops.with_index(_daily_grid(spark, sf_dir), idx)


def _q_diff_by_frequency(spark, sf_dir):
    """Backward as-of difference vs the value at/just-before t − 7 days
    (``TimeSeries.scala:200-235``) as a native range window."""
    from spark_timeseries_spark.operators import lag as lag_ops

    obs = events_observations(spark, sf_dir)
    out = lag_ops.differences_by_frequency(obs, 7 * 86_400_000_000)
    return out.select("key", "ts", F.col("value").alias("diff7"))


def _q_ewma_smooth(spark, sf_dir):
    """EWMA(0.3) addTimeDependentEffects over every series
    (``EWMA.scala:125-143``); oracle is the closed-form window sum."""
    from spark_timeseries_spark.models import apply_model_effects

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = apply_model_effects(filled, "ewma", [0.3], add=True)
    # raw doubles are bit-identical to the oracle's recursion; use the same
    # floor-based rounding on both sides (engine ROUND() tie-breaks differ)
    rounded = F.floor(F.col("value") * 1e6 + F.lit(0.5)) / 1e6
    return out.select("key", "loc", rounded.alias("value"))


def _q_lb_test(spark, sf_dir):
    """Ljung-Box(3) per series; the oracle recomputes it from Pearson lag
    correlations — a strong value check on a 'model-side' statistic."""
    from spark_timeseries_spark.models import test_series

    obs = events_observations(spark, sf_dir)
    out = test_series(obs, "ljung_box", order_col="ts", max_lag=3)
    return out.select("key", F.round("stat", 6).alias("lb_stat"))


def _q_business_days(spark, sf_dir):
    """Business-day scalar kernel: nextBusinessDay + closed-form business-day
    difference from 2024-01-01 (``Frequency.scala:143-189``,
    ``DateTimeIndex.scala:855-869``) — pure JVM column arithmetic."""
    from spark_timeseries_spark import functions as ts_fns

    obs = events_observations(spark, sf_dir)
    start = F.lit("2024-01-01").cast("timestamp")
    return obs.select(
        "key",
        "ts",
        ts_fns.next_business_day(F.col("ts")).alias("nbd"),
        ts_fns.business_day_difference(start, F.col("ts")).alias("bd"),
    )


def _q_filter_by_instant(spark, sf_dir):
    grid = _daily_grid(spark, sf_dir).where(F.col("key").isin("1", "2", "3"))
    out = filters.filter_by_instant(
        grid, F.col("value") >= 10.0, rebase_loc=False
    )
    return out.select("key", "ts", "value")


def _q_to_observations(spark, sf_dir):
    return layout.to_observations(_daily_grid(spark, sf_dir))


def _q_index_union(spark, sf_dir):
    """DateTimeIndex.union as a distributed sorted-distinct
    (``DateTimeIndexUtils.scala:80-153``)."""
    import datetime as dt

    from spark_timeseries_spark.operators import align as align_ops

    extra = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1),),
            (dt.datetime(2024, 1, 15, 12, 0, 0),),
            (dt.datetime(2024, 2, 2),),
        ],
        "ts timestamp",
    )
    return align_ops.union_index_df(DAILY.to_df(spark), extra)


def _q_multimodal_meta(spark, sf_dir):
    """Multimodal plumbing: opaque binary column + JVM-side typed metadata
    (size / digest) — the scale-out filter keys that precede any decode."""
    from spark_timeseries_spark.pipeline import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "media", F.encode("text", "UTF-8")
    )
    out = mm.attach_binary_metadata(docs, "media", "text/plain")
    return out.select("doc_id", "media_size", "media_digest")


def _q_video_frames(spark, sf_dir):
    """Video frame-sampling plumbing (mapInPandas 1→N explode shape) with
    the deterministic fake sampler; the oracle replays frame counts and
    per-frame digests exactly."""
    from spark_timeseries_spark.pipeline import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "media", F.encode("text", "UTF-8")
    )
    return mm.sample_video_frames(docs, hop_bytes=128, max_frames=8, fake=True)


# -- model-surface widening (rows-only: non-SQL-expressible estimators) ------

def _q_arima_forecast(spark, sf_dir):
    """ARIMA(1,1,1) CSS fit certificate: the CSS at the fitted coefficients
    must not exceed the CSS at the Hannan-Rissanen start (the optimizer's own
    deterministic origin, ``ARIMA.scala:216-242``). Coefficient parity vs R
    goldens is pytest-covered (``ARIMASuite.scala:27-55`` datasets)."""
    from spark_timeseries_spark.models import fit_improvement

    obs = events_observations(spark, sf_dir)
    return fit_improvement(obs, "arima", order_col="ts", p=1, d=1, q=1)


def _q_garch_fit(spark, sf_dir):
    """GARCH(1,1) likelihood-maximization certificate: fitted ll ≥ ll at the
    fixed CG start (``GARCH.scala:75-162``); per-series fit failures surface
    as ok=false."""
    from spark_timeseries_spark.models import fit_improvement

    obs = events_observations(spark, sf_dir)
    return fit_improvement(obs, "garch", order_col="ts")


def _q_egarch_fit(spark, sf_dir):
    """EGARCH(1,1) likelihood certificate. The reference DECLARES EGARCH but
    its methods throw (``GARCH.scala:262-283``); this is a real Nelson-1991
    implementation, certified like the other iterative fits."""
    from spark_timeseries_spark.models import fit_improvement

    obs = events_observations(spark, sf_dir)
    return fit_improvement(obs, "egarch", order_col="ts")


def _q_ewma_fit(spark, sf_dir):
    """Exhaustive-grid EWMA fit (α over {0.01..0.99} minimizing one-step
    SSE) — exactly reproducible, so the oracle replays the SSE recursion per
    (key, α) with a recursive CTE and re-derives the argmin. Floor-rounding
    on both sides avoids engine ROUND tie-break differences."""
    from spark_timeseries_spark.models import fit_models

    obs = events_observations(spark, sf_dir)
    out = fit_models(obs, "ewma_grid", order_col="ts")
    sse6 = F.floor(F.col("params")[1] * 1e6 + F.lit(0.5)) / 1e6
    return out.select(
        "key",
        F.round(F.col("params")[0], 2).alias("alpha"),
        sse6.alias("sse"),
    )


def _q_argarch_fit(spark, sf_dir):
    """AR(1)+GARCH(1,1): the AR mean stage is exact OLS — the oracle
    re-derives (c, φ) from simple-regression moments. The GARCH stage's
    optimizer is certified by ``garch_fit``."""
    from spark_timeseries_spark.models import fit_models

    obs = events_observations(spark, sf_dir)
    out = fit_models(obs, "argarch", order_col="ts")
    return out.select(
        "key",
        _stable_round(F.col("params")[0], 4).alias("c"),
        _stable_round(F.col("params")[1], 4).alias("phi"),
    )


def _q_fill_spline(spark, sf_dir):
    grid = _daily_grid(spark, sf_dir).where(F.col("key").isin("0", "1", "2"))
    out = fill_ops.fill_spline(grid)
    return out.select(
        "key", "loc", "ts", _stable_round(F.col("value"), 6).alias("value")
    )


def _q_image_features(spark, sf_dir):
    """mapInPandas decode plumbing with the deterministic fake decoder
    (md5-derived features — SQL-reproducible); features posexploded to rows
    so the harness can canonicalize."""
    from spark_timeseries_spark.pipeline import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "media", F.encode("text", "UTF-8")
    )
    out = mm.decode_image_features(docs, fake=True)
    return out.select(
        "doc_id", "width", "height", "channels", "format",
        F.posexplode("features").alias("feat_idx", "_f"),
    ).select(
        "doc_id", "width", "height", "channels", "format",
        F.col("feat_idx").cast("long").alias("feat_idx"),
        F.round(F.col("_f").cast("double"), 6).alias("feat"),
    )


def _xy_daily(spark, sf_dir):
    """Per-user daily (y=avg value, x=event count) pairs — the exogenous-
    regressor fixture for ARX/ARIMAX/RegressionARIMA surfaces."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("user_id").cast("string").alias("key"),
            F.date_trunc("day", "ts").alias("ts"),
        )
        .agg(F.avg("value").alias("value"), F.count("*").cast("double").alias("x"))
        .withColumn("loc", F.datediff("ts", F.lit("2024-01-01")).cast("long"))
    )


def _q_arima_filter(spark, sf_dir):
    """removeTimeDependentEffects for ARIMA(1,0,1) with FIXED coefficients —
    the CSS innovations recursion e_t = (y_t − c − φ·y_{t−1}) − θ·e_{t−1}
    (``ARIMA.scala:417-445``) replayed exactly by a recursive CTE. Full value
    check on the filter machinery; the fit is certified by arima_forecast."""
    from spark_timeseries_spark.models import apply_model_effects

    obs = events_observations(spark, sf_dir)
    out = apply_model_effects(
        obs, "arima", [2.0, 0.55, 0.3], add=False, order_col="ts", p=1, d=0, q=1
    )
    return out.select(
        "key", "ts", _stable_round(F.col("value"), 6).alias("resid")
    )


def _q_garch_filter(spark, sf_dir):
    """GARCH(1,1) volatility standardization with FIXED (ω,α,β) —
    h_t = ω + α·η²_{t−1} + β·h_{t−1}, h_0 = ω/(1−α−β), out = η/√h
    (``GARCH.scala:178-196``); recursive-CTE replay."""
    from spark_timeseries_spark.models import apply_model_effects

    obs = events_observations(spark, sf_dir)
    out = apply_model_effects(
        obs, "garch", [4.0, 0.1, 0.8], add=False, order_col="ts"
    )
    return out.select(
        "key", "ts", _stable_round(F.col("value"), 6).alias("std_resid")
    )


def _q_arx_fit(spark, sf_dir):
    """ARX(1,1) per series: y on its own lag + current/lagged event count
    (``AutoregressionX.scala:48-68``). Pure OLS → the oracle solves the same
    centered 3×3 normal equations (Cramer) and reproduces every coefficient."""
    from spark_timeseries_spark.models import fit_xreg_models

    out = fit_xreg_models(
        _xy_daily(spark, sf_dir), "arx", ["x"], y_max_lag=1, x_max_lag=1
    )
    return out.select(
        "key",
        _stable_round(F.col("params")[0], 4).alias("c"),
        _stable_round(F.col("params")[1], 4).alias("phi1"),
        _stable_round(F.col("params")[2], 4).alias("beta0"),
        _stable_round(F.col("params")[3], 4).alias("beta1"),
    )


def _q_arimax_forecast(spark, sf_dir):
    """ARIMAX(1,0,1)+xreg CSS certificate (``ARIMAX.scala:59-87``): fitted
    CSS ≤ CSS at the deterministic ARX start. Restricted to a key subset —
    the estimator is the point, not bulk throughput."""
    from spark_timeseries_spark.models import fit_xreg_improvement

    xy = _xy_daily(spark, sf_dir).where(F.col("key").cast("long") < 100)
    return fit_xreg_improvement(xy, "arimax", ["x"], p=1, d=0, q=1, xreg_max_lag=0)


def _q_regression_arima(spark, sf_dir):
    """Regression with AR(1) errors via iterated Cochrane-Orcutt
    (``RegressionARIMA.scala:83-160``). The OLS stage + the Durbin-Watson
    branch decision are exact (oracle-replayed); for series that short-
    circuit (DW ∈ (1,3) — no serial correlation) the final coefficients ARE
    the OLS ones and get a full value check; CO-iterated series emit NULLs
    (path-dependent) with the branch itself still verified."""
    from spark_timeseries_spark.models import fit_xreg_models

    out = fit_xreg_models(_xy_daily(spark, sf_dir), "regression_arima", ["x"])
    dw0 = F.col("aux")[3]
    co = ~((dw0 > 1.0) & (dw0 < 3.0))
    # coefficients at 3 decimals: lstsq (Spark side) vs covariance-moment
    # OLS (oracle) differ at ~1e-9 — 4-decimal rounding measurably hits
    # .00005 boundaries across 150 keys × 2 coefficients
    return out.select(
        "key",
        _stable_round(dw0, 4).alias("dw0"),
        co.alias("co"),
        F.when(co, F.lit(None))
        .otherwise(_stable_round(F.col("params")[0], 3))
        .alias("b0"),
        F.when(co, F.lit(None))
        .otherwise(_stable_round(F.col("params")[1], 3))
        .alias("b1"),
    )


def _q_bg_test(spark, sf_dir):
    """Breusch-Godfrey(2) on a linear-trend factor: nobs·R² of the auxiliary
    regression — oracle-replayed via a centered 3×3 Cramer solve."""
    from spark_timeseries_spark.models import test_series

    obs = events_observations(spark, sf_dir)
    out = test_series(obs, "breusch_godfrey", order_col="ts", max_lag=2)
    return out.select("key", _stable_round(F.col("stat"), 4).alias("bg_stat"))


def _q_bp_test(spark, sf_dir):
    """Breusch-Pagan on a linear trend: n·R² of y² on t = n·corr(y², t)² —
    a single-regressor R², exactly a squared Pearson correlation."""
    from spark_timeseries_spark.models import test_series

    obs = events_observations(spark, sf_dir)
    out = test_series(obs, "breusch_pagan", order_col="ts")
    return out.select("key", _stable_round(F.col("stat"), 5).alias("bp_stat"))


def _q_auto_arima(spark, sf_dir):
    """Hyndman-Khandakar stepwise order selection (``ARIMA.scala:280-375``)
    certificate on a key subset: the chosen model's AIC must not exceed the
    (0,d,0) baseline's — (0,0) is always in the candidate set, so a correct
    search can never do worse."""
    from spark_timeseries_spark.models import fit_improvement

    obs = events_observations(spark, sf_dir).where(F.col("key").cast("long") < 20)
    return fit_improvement(obs, "arima_auto", order_col="ts")


def _q_roll_sum_center(spark, sf_dir):
    """roll_sum(5, center): result stamped at the window's center position
    with boundary trim (``TimeSeriesRDD.scala:611-621`` alignment arm)."""
    grid = _daily_grid(spark, sf_dir)
    out = rolling.roll_sum(grid, 5, "center")
    return out.select("key", "loc", F.round("value", 6).alias("value"))


def _q_to_series_digest(spark, sf_dir):
    """Series-layout materialization (``users.md:76-87``): per-key dense
    double array; compared via an order-sensitive digest projection (first,
    last, length, checksum) since array cells with NaN defeat row equality."""
    grid = _daily_grid(spark, sf_dir)
    ser = layout.to_series(grid)
    nn = F.filter("series", lambda v: ~F.isnan(v))
    return ser.select(
        "key",
        F.size("series").alias("n"),
        F.size(nn).alias("n_obs"),
        F.round(
            F.aggregate(nn, F.lit(0.0), lambda acc, v: acc + v), 6
        ).alias("checksum"),
    )


def _q_ivf_topk(spark, sf_dir):
    """IVF-flat approximate top-k (sampled centroid lists, nprobe probing) —
    the third similarity-search strategy next to brute force and LSH."""
    from spark_timeseries_spark.pipeline import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    out = sim.ivf_topk(emb, q, k=5, n_centroids=16, nprobe=4)
    return out.select("qid", "vec_id", F.round("sim", 4).alias("sim"), "rank")


def _q_pack_sequences(spark, sf_dir):
    """Concat-then-chunk sequence packing (the GPT-style pretraining
    layout): global token offsets in (source, doc_id) order via the
    distributed bucket-cumsum pattern — no single-partition sort
    (``pipeline/packing.py``); oracle replays with one SQL window."""
    from spark_timeseries_spark.pipeline.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, seq_len=512, sep_tokens=1, bpe=True)


def _q_split_dataset(spark, sf_dir):
    """Deterministic train/val/test assignment: seeded-hash range carve,
    row-local (``pipeline/packing.py::split_dataset``); md5_60 mode so the
    oracle replays the exact assignment."""
    from spark_timeseries_spark.pipeline.packing import split_dataset

    docs = load_table(spark, sf_dir, "documents")
    out = split_dataset(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=11, hash_fn="md5_60"
    )
    return out.select("doc_id", "split")


def _q_normalize_text(spark, sf_dir):
    """Corpus text normalization (control-char strip, newline
    canonicalization, whitespace collapse) — row-local regexp chain
    (``pipeline/text.py::normalize_text``), checked via md5 of the
    normalized text. Input is salted with the messy cases (CRLF, control
    bytes, space runs) so the rules demonstrably fire in both engines."""
    from spark_timeseries_spark.pipeline.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    salted = docs.withColumn(
        "text",
        F.concat(
            F.lit("  x\x07y\r\nz\t t  \n\n\n\n"),
            "text",
            F.lit("  trail  "),
        ),
    )
    out = normalize_text(salted)
    return out.select("doc_id", F.md5("text").alias("norm_md5"))


def _q_remove_boilerplate(spark, sf_dir):
    """C4-style cross-document boilerplate line removal
    (``pipeline/text.py::remove_boilerplate_lines``): the corpus is salted
    with a shared footer line (occurs in every doc → removed) and a
    per-doc unique line (survives), so the distributed
    explode→hash-count→anti-join→rebuild pipeline demonstrably fires;
    checked via md5 of the rebuilt text."""
    from spark_timeseries_spark.pipeline.text import remove_boilerplate_lines

    docs = load_table(spark, sf_dir, "documents")
    salted = docs.withColumn(
        "text",
        F.concat(
            "text",
            F.lit("\nSubscribe To Our Newsletter\nunique line "),
            F.col("doc_id").cast("string"),
        ),
    )
    out = remove_boilerplate_lines(salted, min_docs=3)
    return out.select("doc_id", "source", F.md5("text").alias("clean_md5"))


def _q_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking
    (``pipeline/packing.py::chunk_documents``): row-local explode of
    chunk starts + token-array slices, zero shuffle; the oracle replays
    the layout with generate_series + list_slice."""
    from spark_timeseries_spark.pipeline.packing import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    out = chunk_documents(docs, chunk_tokens=32, overlap=8)
    return out.select(
        "doc_id", "chunk_id", "n_tokens", F.md5("chunk_text").alias("chunk_md5")
    )


def _q_calendar_ops(spark, sf_dir):
    """Calendar scalar surface, driver-proven (previously pytest-only
    rows): ISO day-of-week, day-of-week rebased to a Wednesday week start
    (``DateTimeIndex.scala:820-853``), next-business-day snap
    (``:855-869``), and the closed-form business-day difference from a
    fixed anchor (``Frequency.scala:178-189``) — all pure JVM expressions
    over the events timestamps."""
    from spark_timeseries_spark.functions.datetime import (
        business_day_difference,
        iso_dow,
        next_business_day,
        rebase_day_of_week,
    )

    obs = events_observations(spark, sf_dir)
    anchor = F.lit("2024-01-01").cast("timestamp")
    return obs.select(
        "key",
        "ts",
        iso_dow(F.col("ts")).alias("dow_iso"),
        rebase_day_of_week(F.col("ts"), 3).alias("dow_rebased_wed"),
        next_business_day(F.col("ts")).alias("next_bday"),
        business_day_difference(anchor, F.col("ts")).alias("bdays_from_anchor"),
    )


def _q_serde_roundtrip(spark, sf_dir):
    """Parquet save/load with index sidecar, driver-proven (previously a
    pytest-only row): the daily grid goes to series-layout parquet +
    ``.idx`` sidecar (``TimeSeriesRDD.scala:511-551``) and back; the
    reloaded observations must equal the grid the oracle computes from
    the raw events — proving to_series → parquet → from_series loses
    nothing (NaN↔NULL round-trips included)."""
    import os
    import shutil
    import tempfile

    from spark_timeseries_spark.sources import serde

    grid = _daily_grid(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="sts_serde_rt_")
    try:
        serde.save_parquet(grid, DAILY, os.path.join(path, "series"))
        loaded, idx = serde.load_parquet(spark, os.path.join(path, "series"))
        assert idx.size == DAILY.size
        # materialize before the tmp dir disappears
        out = spark.createDataFrame(
            loaded.select("key", "loc", "ts", "value").collect(),
            "key string, loc long, ts timestamp, value double",
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


def _q_row_matrix_norms(spark, sf_dir):
    """MLlib matrix bridge, driver-proven (previously a pytest-only row):
    the daily grid (zero-filled) → ``IndexedRowMatrix``
    (``TimeSeriesRDD.scala:456-476``), then per-instant squared row norms
    computed THROUGH the matrix rows — the oracle recomputes them as
    Σ value² per instant straight from the events."""
    from spark_timeseries_spark.operators import fill as fill_ops
    from spark_timeseries_spark.operators.layout import to_indexed_row_matrix

    grid = fill_ops.fill_value(_daily_grid(spark, sf_dir), 0.0)
    m = to_indexed_row_matrix(grid, DAILY)
    norms = m.rows.map(
        lambda r: (int(r.index), float((r.vector.toArray() ** 2).sum()))
    )
    out = spark.createDataFrame(norms, "loc long, norm2 double")
    return out.select("loc", _stable_round(F.col("norm2"), 4).alias("norm2"))


def _q_lm_perplexity(spark, sf_dir):
    """CCNet-style quality gate (Wenzek et al. 2020): train an add-1 bigram
    LM on the high-quality reference slice (lang='en'), score EVERY document
    by mean negative log-probability (``pipeline/lm.py``). Train: one
    (ctx,w) shuffle over the reference only; score: two broadcast joins of
    the small LM against the full corpus + one per-doc agg. Docs with <2
    tokens carry no bigram evidence and are excluded (documented)."""
    from spark_timeseries_spark.pipeline.lm import score_perplexity, train_bigram_lm

    docs = load_table(spark, sf_dir, "documents")
    lm = train_bigram_lm(docs.where(F.col("lang") == "en"))
    out = score_perplexity(docs, lm, k=1.0)
    return out.select(
        "doc_id",
        "n_bigrams",
        _stable_round(F.col("cross_entropy"), 6).alias("cross_entropy"),
    )


_BM25_QUERIES = {
    "q1": "hash join performance",
    "q2": "columnar scan filter",
    "q3": "merge sort order",
}


def _q_bm25_search(spark, sf_dir):
    """Okapi BM25 top-10 per query (``pipeline/search.py``): query-term
    broadcast semi-join BEFORE the first shuffle (inverted-index semantics),
    corpus scalars on a broadcast 1-row frame, per-query row_number top-k.
    Ranks derive from the 6-digit quantized score so the SQL oracle replays
    the ordering exactly."""
    from spark_timeseries_spark.pipeline.search import bm25_search

    docs = _docs_spread(spark, sf_dir)
    return bm25_search(docs, _BM25_QUERIES, k=10, round_digits=6)


def _q_dup_spans(spark, sf_dir):
    """Duplicated-substring coverage per document (Lee et al. 2021's
    substring dedup, re-expressed as positioned n-gram hashing —
    ``pipeline/dedup.py::duplicated_span_stats``): one groupBy to find
    cross-document 8-gram hashes, a join back restricted to them, and a
    position-coverage count that explodes ONLY already-duplicated spans.
    md5_60 hash mode so DuckDB replays the identical hash keys. The
    coverage ratio is reported as an INTEGER micro-ratio
    (``dup_tokens·10⁶ div n_tokens`` — exact integer arithmetic on both
    engines), not a rounded double: the r4 driver window flagged the
    float column as hash-sensitive even though values matched bit-exact
    locally, and integer columns cannot hash-diverge."""
    from spark_timeseries_spark.pipeline.dedup import duplicated_span_stats

    docs = _docs_spread(spark, sf_dir)
    out = duplicated_span_stats(docs, n=8, hash_fn="md5_60")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("dup_tokens").cast("long").alias("dup_tokens"),
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(
            F.expr("CAST(dup_tokens AS BIGINT) * 1000000 div n_tokens")
        )
        .cast("long")
        .alias("dup_micros"),
    )


def _kmeans_model(spark, sf_dir, k=8, iters=2):
    from spark_timeseries_spark.pipeline.clustering import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    return emb, kmeans_fit(emb, k=k, max_iter=iters)


def _q_kmeans_assign(spark, sf_dir):
    """Distributed Lloyd's k-means (k=8, 2 iterations, deterministic
    lowest-id init — ``pipeline/clustering.py``): assignment is a broadcast
    crossJoin + codegen'd squared-L2 argmin, update a posexplode groupBy;
    driver state is only the k×dim centroid matrix per round. The oracle
    replays both Lloyd iterations as unrolled SQL CTEs."""
    from spark_timeseries_spark.pipeline.clustering import kmeans_assign

    emb, model = _kmeans_model(spark, sf_dir)
    out = kmeans_assign(emb, model)
    return out.select(
        "vec_id", "cid", _stable_round(F.col("dist"), 6).alias("dist")
    )


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): high-cosine pairs searched ONLY within
    a shared k-means cluster — k partitions the quadratic comparison. Same
    fitted model as kmeans_assign; pairs feed the connected-components
    resolver exactly like the MinHash path."""
    from spark_timeseries_spark.pipeline.clustering import semantic_dedup_pairs

    emb, model = _kmeans_model(spark, sf_dir)
    out = semantic_dedup_pairs(emb, model, threshold=0.35)
    return out.select(
        "id_a", "id_b", "cid", _stable_round(F.col("sim"), 4).alias("sim")
    )


def _q_remove_dup_spans(spark, sf_dir):
    """Substring-dedup REWRITE (Lee et al. 2021's removal step, completing
    ``dup_spans``' measurement step — ``pipeline/dedup.py::remove_dup_spans``):
    cut every cross-document duplicated 8-gram span except its canonical
    (min-doc_id) occurrence, rebuild the text relationally (interval-merge
    window + gap extraction + array slices — no position explode, no
    quadratic HOF). md5_60 mode; compared via md5 of the rebuilt text."""
    from spark_timeseries_spark.pipeline.dedup import remove_dup_spans

    docs = _docs_spread(spark, sf_dir)
    out = remove_dup_spans(docs, n=8, keep_first=True, hash_fn="md5_60")
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_tokens",
        "removed_tokens",
    )


def _q_ivf_persist(spark, sf_dir):
    """Build-once / probe-many IVF index (``pipeline/similarity.py::
    ivf_build/ivf_probe``): the inverted lists are written partitioned BY
    CID so probing reads only the probed cid= directories (dynamic
    partition pruning), the centroid table broadcasts. Same centroid
    scheme and semantics as the inline ``ivf_topk`` — the oracle is
    shared, proving the persisted path loses nothing."""
    import shutil
    import tempfile

    from spark_timeseries_spark.pipeline import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    path = tempfile.mkdtemp(prefix="sts_ivf_")
    try:
        sim.ivf_build(emb, path, n_centroids=16)
        out = sim.ivf_probe(spark, path, q, k=5, nprobe=4).select(
            "qid", "vec_id", F.round("sim", 4).alias("sim"), "rank"
        )
        # materialize before the tmp dir disappears
        res = spark.createDataFrame(
            out.collect(), "qid long, vec_id long, sim double, rank int"
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return res


def _q_pq_adc(spark, sf_dir):
    """Product quantization end-to-end (Jégou et al. 2011 —
    ``pipeline/pq.py``): per-subspace k-means codebooks (m=2, k=4, two
    Lloyd rounds, deterministic lowest-id init), row-local HOF encoding
    (zero shuffles, plan-pinned), and asymmetric-distance top-5 for the
    first five vectors. The oracle replays both subspace trainings as
    unrolled CTE chains, re-derives every code, and re-ranks by ADC."""
    from spark_timeseries_spark.pipeline.pq import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    model = pq_train(emb, dim=64, m=2, k=4, max_iter=2)
    codes = pq_encode(emb, model)
    out = pq_adc_topk(codes, model, emb.where(F.col("vec_id") < 5), k=5)
    return out.select(
        "qid", "vec_id", _stable_round(F.col("adist"), 6).alias("adist"), "rank"
    )


def _q_dedup_paragraphs(spark, sf_dir):
    """Corpus-wide paragraph dedup, keep-first (``pipeline/dedup.py::
    dedup_paragraphs``): the corpus is salted with a shared footer
    paragraph (cut everywhere but doc 0) and a per-doc unique paragraph
    (kept). Canonical selection is a partially-aggregated min — no
    hot-key window — so a corpus-viral paragraph stays one row per
    partition. The oracle replays by grouping on paragraph CONTENT,
    proving the result is independent of the hash key choice."""
    from spark_timeseries_spark.pipeline.dedup import dedup_paragraphs

    docs = load_table(spark, sf_dir, "documents")
    salted = docs.withColumn(
        "text",
        F.concat(
            "text",
            F.lit("\n\nshared footer paragraph\n\nunique paragraph "),
            F.col("doc_id").cast("string"),
        ),
    )
    out = dedup_paragraphs(salted)
    return out.select(
        "doc_id", F.md5("text").alias("clean_md5"), "n_paras", "removed_paras"
    )


def _q_pq_recall(spark, sf_dir):
    """ADC recall@5 against the exact full-dimension L2 ranking (the
    ground truth ADC approximates — same metric, same tie-break): the
    quality-evaluation query for the PQ path, mirroring ``lsh_recall``
    for the hyperplane path. The oracle re-derives the codebooks, codes,
    ADC ranking AND the exact ranking, then intersects."""
    from spark_timeseries_spark.pipeline.pq import (
        exact_l2_topk,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    model = pq_train(emb, dim=64, m=2, k=4, max_iter=2)
    adc = pq_adc_topk(pq_encode(emb, model), model, q, k=5)
    exact = exact_l2_topk(emb, q, k=5)
    hits = exact.select("qid", "vec_id").withColumn("_hit", F.lit(1))
    return (
        adc.join(hits, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            (F.sum(F.coalesce("_hit", F.lit(0))) / 5.0).alias("recall")
        )
    )


def _q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composed two-level ANN (Jégou et al. 2011 §V —
    ``pipeline/pq.py::ivfpq_topk``): coarse inverted-list pruning
    (squared-L2 nearest of 16 sampled centroids, nprobe=4) over
    PQ-compressed ADC scoring (m=2, k=4 codebooks — the same model
    ``pq_adc`` proves). Single corpus scan: coarse assignment and codes
    are row-local expressions in one projection; the only shuffle is the
    per-query top-k window. The oracle replays codebook training, coarse
    sampling, probe pruning, and the LUT-sum ranking end to end."""
    from spark_timeseries_spark.pipeline.pq import ivfpq_topk, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    model = pq_train(emb, dim=64, m=2, k=4, max_iter=2)
    out = ivfpq_topk(emb, q, model, k=5, n_centroids=16, nprobe=4)
    return out.select(
        "qid", "vec_id", _stable_round(F.col("adist"), 6).alias("adist"), "rank"
    )


_BLOCK_PHRASES = ["badphrase", "spam token"]


def _q_blocklist_flag(spark, sf_dir):
    """C4-style blocked-phrase gate in audit mode (``pipeline/text.py::
    phrase_blocklist``): the corpus is salted so a third of the docs
    contain a blocked phrase (one inside a longer word to prove the word
    boundary holds), and the whole list compiles to ONE case-insensitive
    regex — a pure row-local filter, zero shuffles."""
    from spark_timeseries_spark.pipeline.text import phrase_blocklist

    docs = load_table(spark, sf_dir, "documents")
    salted = docs.withColumn(
        "text",
        F.concat(
            "text",
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(" has a BadPhrase inside")
            ).otherwise(F.lit(" superbadphrased is no hit")),
        ),
    )
    out = phrase_blocklist(salted, _BLOCK_PHRASES, mode="flag")
    return out.select("doc_id", "blocked", "n_blocked")


def _q_url_stats(spark, sf_dir):
    """URL/domain hygiene profile (``pipeline/text.py::url_stats``):
    salted links per doc; row-local regex extraction with a HOF domain
    transform — no explode, no shuffle. Domains compared as a sorted
    comma-joined string."""
    from spark_timeseries_spark.pipeline.text import url_stats

    docs = load_table(spark, sf_dir, "documents")
    salted = docs.withColumn(
        "text",
        F.concat(
            "text",
            F.lit(" see https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/page and http://Dup.ORG/x?q=1 plus"),
            F.lit(" https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/other"),
        ),
    )
    out = url_stats(salted)
    return out.select(
        "doc_id",
        "n_urls",
        F.concat_ws(",", "domains").alias("domain_list"),
    )


def _q_dedup_lines(spark, sf_dir):
    """CCNet-style line-level dedup (``pipeline/dedup.py::dedup_lines``):
    the corpus is salted with a shared footer line (kept only at its
    corpus-first occurrence) and a per-doc unique line (always kept);
    lines below the min_docs threshold keep every occurrence. The
    oracle replays by grouping on line CONTENT — the result is
    independent of the hash key choice."""
    from spark_timeseries_spark.pipeline.dedup import dedup_lines

    docs = load_table(spark, sf_dir, "documents")
    salted = docs.withColumn(
        "text",
        F.concat(
            "text",
            F.lit("\nshared footer line\nunique line "),
            F.col("doc_id").cast("string"),
        ),
    )
    out = dedup_lines(salted, min_docs=2)
    return out.select(
        "doc_id", F.md5("text").alias("clean_md5"), "n_lines", "removed_lines"
    )


def _q_containment_pairs(spark, sf_dir):
    """Asymmetric near-dup detection (Broder containment —
    ``pipeline/dedup.py::ngram_containment_pairs``): every 50th document
    gets its predecessor's text appended, planting subset pairs Jaccard
    misses; the intersection is a COUNT over the shingle inverted-index
    self-join (the ``ngram_jaccard_pairs`` plan shape — no shingle-array
    materialization per pair), keeping pairs where EITHER direction
    reaches 0.9."""
    from spark_timeseries_spark.pipeline.dedup import ngram_containment_pairs

    docs = _docs_spread(spark, sf_dir)
    pred = docs.select(
        (F.col("doc_id") + 1).alias("doc_id"), F.col("text").alias("_pt")
    )
    salted = (
        docs.join(pred, "doc_id", "left")
        .withColumn(
            "text",
            F.when(
                (F.col("doc_id") % 50 == 1) & F.col("_pt").isNotNull(),
                F.concat("text", F.lit(" "), F.col("_pt")),
            ).otherwise(F.col("text")),
        )
        .select("doc_id", "text")
    )
    out = ngram_containment_pairs(salted, shingle_n=3, threshold=0.9)
    return out.select(
        "id_a",
        "id_b",
        _stable_round(F.col("containment_a"), 6).alias("containment_a"),
        _stable_round(F.col("containment_b"), 6).alias("containment_b"),
        _stable_round(F.col("jaccard"), 6).alias("jaccard"),
    )


def _q_incremental_dedup(spark, sf_dir):
    """Incremental-ingest exact dedup (``pipeline/dedup.py::
    dedup_exact_incremental``): the corpus is split into an existing half
    (doc_id < 250) and a new batch; every 5th new doc is salted with an
    old doc's text (must be dropped — digest already ingested), in-batch
    duplicates keep the first id, everything else passes. The anti-join
    ships only the old side's digest column."""
    from spark_timeseries_spark.pipeline.dedup import dedup_exact_incremental

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") < 250).select("doc_id", "text")
    dup_src = old.select(
        (F.col("doc_id") + 250).alias("doc_id"), F.col("text").alias("_ot")
    )
    new = (
        docs.where(F.col("doc_id") >= 250)
        .join(dup_src, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 5 == 0) & F.col("_ot").isNotNull(),
                F.col("_ot"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    out = dedup_exact_incremental(new, old)
    return out.select("doc_id", F.md5("text").alias("md5"))


def _q_zipf_slope(spark, sf_dir):
    """Zipf's-law corpus diagnostic (``pipeline/vocab.py::zipf_slope``):
    OLS slope of ln(freq) ~ ln(rank) over each source's top-50 tokens —
    closed-form moment aggregates over a distinct-token-sized table, no
    Python, no global sort. The oracle replays the ranking (cnt DESC,
    token tie-break) and the covariance algebra exactly."""
    from spark_timeseries_spark.pipeline.vocab import zipf_slope

    docs = load_table(spark, sf_dir, "documents")
    out = zipf_slope(docs, group_col="source", top_r=50)
    return out.select(
        "source",
        _stable_round(F.col("slope"), 6).alias("slope"),
        _stable_round(F.col("intercept"), 6).alias("intercept"),
        _stable_round(F.col("r2"), 6).alias("r2"),
        "n_ranks",
    )


def _q_roll_std(spark, sf_dir):
    """Rolling sample standard deviation (beyond-reference member of the
    ``roll_agg`` family — ``operators/rolling.py``): 5-wide right-aligned
    window, incomplete windows trimmed, windows containing a missing
    cell yield NULL (the reference's NaN-propagation kernel semantics)."""
    grid = _daily_grid(spark, sf_dir)
    out = rolling.roll_std(grid, 5, "right")
    return out.select(
        "key", "loc", "ts", _stable_round(F.col("value"), 6).alias("value")
    )


def _q_crosscorr(spark, sf_dir):
    """Cross-correlation between two conformed series
    (``operators/rolling.py::crosscorr`` — the two-series companion of
    the reference's autocorr, same per-overlap Pearson convention):
    lags 0..7 of user 1 against user 2 on the daily grid."""
    out = rolling.crosscorr(_daily_grid(spark, sf_dir), "1", "2", 7)
    return out.select("lag", _stable_round(F.col("ccf"), 6).alias("ccf"))


def _q_lm3_perplexity(spark, sf_dir):
    """Interpolated trigram LM scoring (Jelinek-Mercer over add-1
    layers — ``pipeline/lm.py::train_trigram_lm/score_perplexity_trigram``):
    trained on the lang='en' reference slice, scores every document with
    ≥3 tokens; five broadcast joins + one per-doc aggregation. The
    oracle replays all three count layers and the interpolation algebra."""
    from spark_timeseries_spark.pipeline.lm import (
        score_perplexity_trigram,
        train_trigram_lm,
    )

    docs = load_table(spark, sf_dir, "documents")
    lm = train_trigram_lm(docs.where(F.col("lang") == "en"))
    out = score_perplexity_trigram(docs, lm, k=1.0, lambdas=(0.6, 0.3, 0.1))
    return out.select(
        "doc_id",
        "n_trigrams",
        _stable_round(F.col("cross_entropy"), 6).alias("cross_entropy"),
    )


def _q_corpus_stats(spark, sf_dir):
    """Per-source corpus profile (``pipeline/vocab.py::corpus_stats``):
    doc counts, token totals, DISTINCT token counts and mean document
    length in one scan. ``approx=False`` here so the DuckDB oracle can
    match exactly; the library default is the HLL sketch (the exact
    distinct's (group, token) de-dup shuffle is the 100 TB trap)."""
    from spark_timeseries_spark.pipeline.vocab import corpus_stats

    docs = load_table(spark, sf_dir, "documents")
    out = corpus_stats(docs, group_col="source", approx=False)
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        "distinct_tokens",
        _stable_round(F.col("avg_doc_tokens"), 6).alias("avg_doc_tokens"),
    )


def _q_token_divergence(spark, sf_dir):
    """Corpus drift between two snapshots (``pipeline/vocab.py::
    token_divergence``): add-k KL both ways + Jensen-Shannon over the
    union vocabulary, halves of the documents table as the snapshots;
    one count groupBy per side, a full-outer count join, one scalar
    aggregation — only count tables move."""
    from spark_timeseries_spark.pipeline.vocab import token_divergence

    docs = load_table(spark, sf_dir, "documents")
    out = token_divergence(
        docs.where(F.col("doc_id") < 250),
        docs.where(F.col("doc_id") >= 250),
        k=0.5,
    )
    return out.select(
        _stable_round(F.col("kl_ab"), 6).alias("kl_ab"),
        _stable_round(F.col("kl_ba"), 6).alias("kl_ba"),
        _stable_round(F.col("js"), 6).alias("js"),
        "vocab_union",
        "n_a",
        "n_b",
    )


def _q_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend per series (``operators/cusum.py::
    theil_sen``): median of pairwise slopes + median intercept — the
    pairwise join is quadratic in SERIES length (the reference's own
    envelope), keyed per series so the corpus dimension parallelizes."""
    from spark_timeseries_spark.operators.cusum import theil_sen

    out = theil_sen(_daily_grid(spark, sf_dir), method="join")
    return out.select(
        "key",
        _stable_round(F.col("slope"), 6).alias("slope"),
        _stable_round(F.col("intercept"), 6).alias("intercept"),
        "n_pairs",
    )


def _q_token_entropy(spark, sf_dir):
    """Per-document token-distribution profile (``pipeline/vocab.py::
    token_entropy``): Shannon entropy + hapax ratio over each doc's own
    frequencies — a scale-free repetition signal; the shuffle carries
    distinct (doc, token) rows only."""
    from spark_timeseries_spark.pipeline.vocab import token_entropy

    docs = load_table(spark, sf_dir, "documents")
    out = token_entropy(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        "distinct_tokens",
        _stable_round(F.col("entropy"), 6).alias("entropy"),
        _stable_round(F.col("hapax_ratio"), 6).alias("hapax_ratio"),
    )


def _q_cusum(spark, sf_dir):
    """CUSUM change-point summary (Page 1954 —
    ``operators/cusum.py``): the max(0, ...) recursion as its
    running-sum-minus-running-min closed form, both shift directions,
    entirely window functions; per-series peak statistic, first alarm
    location and peak direction."""
    from spark_timeseries_spark.operators.cusum import cusum_changepoints

    out = cusum_changepoints(_daily_grid(spark, sf_dir), k=0.25, h=3.0)
    return out.select(
        "key",
        _stable_round(F.col("max_stat"), 6).alias("max_stat"),
        "alarm_loc",
        "direction",
    )


def _q_outliers(spark, sf_dir):
    """Per-series outlier flagging (``operators/outliers.py``): z-score
    variant over the daily grid (the MAD/robust variant is
    parity-pinned in pytest against numpy); zero-spread and missing
    cells yield NULL scores on both engines."""
    from spark_timeseries_spark.operators.outliers import outliers

    out = outliers(_daily_grid(spark, sf_dir), method="zscore", threshold=2.0)
    return out.select(
        "key", "loc", "ts", "value",
        _stable_round(F.col("score"), 6).alias("score"),
        "is_outlier",
    )


def _q_pmi_pairs(spark, sf_dir):
    """Adjacent-bigram PMI collocations (Church & Hanks 1990 —
    ``pipeline/lm.py::pmi_pairs``): one distinct-bigram shuffle + two
    marginal re-aggregations + a broadcast scalar total. All pairs with
    count ≥ 5 (no top-k cutoff, so the compared set is exact)."""
    from spark_timeseries_spark.pipeline.lm import pmi_pairs

    docs = load_table(spark, sf_dir, "documents")
    out = pmi_pairs(docs, min_count=5)
    return out.select(
        "left", "right", "cnt", _stable_round(F.col("pmi"), 6).alias("pmi")
    )


def _q_seasonal_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition
    (``operators/decompose.py`` — the statsmodels moving-average
    algebra): weekly period over the daily grid; trend is the centered
    7-wide MA with NULL edges, seasonal the re-centered per-position
    detrended means tiled over the series, resid the remainder."""
    from spark_timeseries_spark.operators.decompose import (
        seasonal_decompose,
    )

    out = seasonal_decompose(_daily_grid(spark, sf_dir), 7)
    return out.select(
        "key", "loc", "ts", "value",
        _stable_round(F.col("trend"), 6).alias("trend"),
        _stable_round(F.col("seasonal"), 6).alias("seasonal"),
        _stable_round(F.col("resid"), 6).alias("resid"),
    )


def _q_embedding_covariance(spark, sf_dir):
    """Distributed covariance of the embedding matrix
    (``pipeline/embeddings.py`` — Arrow-batched mapInPandas moment pass:
    per-batch numpy GEMM partials, one explode+groupBy reduce, no
    Python-RDD node; the PCA/OPQ front door for the ANN stack): dim×dim
    unbiased sample covariance, only the 64×64 result touching the
    driver. The oracle replays with covar_samp over the exploded
    coordinate pairs."""
    from spark_timeseries_spark.pipeline.embeddings import (
        embedding_covariance,
    )

    emb = _emb_spread(spark, sf_dir)
    out = embedding_covariance(emb)
    return out.select(
        "i", "j", _stable_round(F.col("cov"), 6).alias("cov")
    )


def _q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (Sennrich et al. 2016 —
    ``pipeline/bpe.py``): 8 merges learned over the corpus word-TYPE
    table (one corpus scan; per merge one explode+groupBy over the
    vocabulary-sized table and a single argmax row to the driver;
    deterministic (count DESC, left, right) tie-break). The oracle
    replays every iteration — pair counting, argmax, and the identical
    leftmost-first fold via list_reduce — as unrolled CTEs."""
    from spark_timeseries_spark.pipeline.bpe import bpe_train

    docs = _docs_spread(spark, sf_dir)
    m = bpe_train(docs, n_merges=8)
    rows = [
        (i + 1, a, b, c)
        for i, ((a, b), c) in enumerate(zip(m.merges, m.pair_counts))
    ]
    return spark.createDataFrame(
        rows, "rank int, left_sym string, right_sym string, pair_count long"
    )


def _q_bpe_segment(spark, sf_dir):
    """Corpus tokenization under the learned BPE model
    (``pipeline/bpe.py::bpe_segment``): the 8-merge chain applied as
    stacked let-bound fold expressions — row-local, zero shuffles, zero
    Python. The oracle segments via the training replay's final word
    table (word → merged symbols) joined back onto the document word
    stream."""
    from spark_timeseries_spark.pipeline.bpe import bpe_segment, bpe_train

    docs = _docs_spread(spark, sf_dir)
    m = bpe_train(docs, n_merges=8)
    out = bpe_segment(docs, m)
    return out.select("doc_id", "n_tokens")


_MIXTURE_WEIGHTS = {"src0": 2.5, "src1": 0.25, "src2": 0.0, "src3": 1.75}


def _q_mixture_epochs(spark, sf_dir):
    """Repeat-factor mixture UPsampling (LLaMA/Gopher per-source epoch
    tables — ``pipeline/sampling.py::mixture_epochs``): weight 2.5 emits
    each doc 2 or 3 times (hash-decided), 0.25 keeps a quarter, 0 drops
    the stratum. Entirely row-local (CASE chain + hash compare + explode):
    the plan is one WholeStageCodegen span with zero shuffles. md5_60 mode
    so DuckDB replays the exact copy counts."""
    from spark_timeseries_spark.pipeline.sampling import mixture_epochs

    docs = load_table(spark, sf_dir, "documents")
    out = mixture_epochs(
        docs, _MIXTURE_WEIGHTS, seed=7, default_weight=1.0, hash_fn="md5_60"
    )
    return out.select("doc_id", "source", "epoch")


def _q_vocab_topk(spark, sf_dir):
    """Tokenizer-prep vocabulary build (``pipeline/vocab.py``): corpus-wide
    token counts (one distinct-token-sized shuffle), min-count gate, top-k
    via TakeOrderedAndProject (per-partition top-k, k rows to the driver —
    no global sort), deterministic (cnt DESC, token ASC) ranking."""
    from spark_timeseries_spark.pipeline.vocab import build_vocab

    docs = load_table(spark, sf_dir, "documents")
    return build_vocab(docs, max_size=25, min_count=3)


def _q_oov_rate(spark, sf_dir):
    """Per-document OOV profiling against a frozen 16-token vocabulary
    (the coverage check run before committing to a tokenizer): vocab is
    broadcast, membership is a map-side join, the only shuffle is the
    per-doc aggregate. Counts are integers — exact cross-engine."""
    from spark_timeseries_spark.pipeline.vocab import build_vocab, oov_rate

    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, max_size=16, min_count=2)
    out = oov_rate(docs, vocab)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        _stable_round(F.col("oov_rate"), 6).alias("oov_rate"),
    )


_QUALITY_LEXICON = {
    "join": 2.0,
    "hash": 1.5,
    "aggregate": 1.0,
    "scan": -1.0,
    "shuffle": -2.0,
    "skew": -1.5,
}


def _q_linear_score(spark, sf_dir):
    """fastText/CCNet-style linear quality-classifier scoring (Wenzek et
    al. 2020; the model-based half next to the heuristic ``quality_score``
    — ``pipeline/classifier.py``): per-doc relative term frequencies,
    broadcast weight-table join, sigmoid(bias + Σ tf·w) keep decision.
    The trainer (``train_logreg``) is pytest-checked against a numpy
    reference; this query scores a fixed lexicon so the oracle replays
    bit-comparable margins."""
    from spark_timeseries_spark.pipeline.classifier import linear_score

    docs = load_table(spark, sf_dir, "documents")
    out = linear_score(docs, _QUALITY_LEXICON, bias=-0.1, threshold=0.5)
    return out.select(
        "doc_id",
        _stable_round(F.col("margin"), 6).alias("margin"),
        _stable_round(F.col("score"), 6).alias("score"),
        "keep",
    )


def _q_hampel(spark, sf_dir):
    """Hampel filter over the raw daily grid (``operators/outliers.py::
    hampel``): rolling median ± 3·1.4826·rolling-MAD over a centered
    7-point window, medians as row-local sorted-array expressions after
    ONE window pass. The oracle replays the window arrays with
    ``list_median`` (same even-count interpolation over DOUBLE); the
    outlier flag is derived from the ROUNDED score on both engines so
    the boundary cannot flip on fp noise."""
    from spark_timeseries_spark.operators.outliers import hampel

    out = hampel(_daily_grid(spark, sf_dir), half_window=3, n_sigmas=3.0)
    score_r = _stable_round(F.col("score"), 4)
    return out.select(
        "key",
        "loc",
        _stable_round(F.col("med"), 6).alias("med"),
        score_r.alias("score"),
        F.when(score_r.isNotNull(), F.abs(score_r) > 3.0).alias(
            "is_outlier"
        ),
    )


def _q_periodogram(spark, sf_dir):
    """Schuster periodogram per series over the filled daily grid
    (``operators/spectral.py``): power at Fourier frequencies
    k = 1..15 of the 31-day grid — all JVM trig, one map-side-combined
    (key, k) aggregation. The oracle replays the demeaned cos/sin
    projection sums exactly."""
    from spark_timeseries_spark.operators.spectral import periodogram

    out = periodogram(_hw_filled(spark, sf_dir), method="explode")
    return out.select(
        "key", "k", _stable_round(F.col("power"), 4).alias("power")
    )


def _q_dominant_period(spark, sf_dir):
    """Argmax-power Fourier frequency per series and its period in grid
    steps — one struct-max over the periodogram, ranked on
    round(power, 6) so near-ties resolve by the lowest-k rule on both
    engines instead of by fp summation noise."""
    from spark_timeseries_spark.operators.spectral import dominant_period

    out = dominant_period(_hw_filled(spark, sf_dir), tie_digits=6, method="explode")
    return out.select(
        "key",
        "k",
        F.round("period", 6).alias("period"),
        _stable_round(F.col("power"), 4).alias("power"),
    )


def _q_incremental_near_dedup(spark, sf_dir):
    """Incremental-ingest NEAR-dup (``pipeline/dedup.py::
    dedup_minhash_cross``): fresh batch (doc_id ≡ 0 mod 7) against the
    existing corpus, MinHash signatures → cross-corpus band join →
    exact-Jaccard verify, in md5_60 mode so the oracle replays the whole
    approximate pipeline bit-for-bit. The MinHash analog of the exact
    ``incremental_dedup`` row."""
    from spark_timeseries_spark.pipeline import dedup as dd

    docs = _docs_spread(spark, sf_dir)
    new = docs.where(F.col("doc_id") % 7 == 0)
    old = docs.where(F.col("doc_id") % 7 != 0)
    out = dd.dedup_minhash_cross(new, old, threshold=0.3, hash_fn="md5_60")
    return out.select(
        "id_new", "id_old", F.round("jaccard", 6).alias("jaccard")
    )


_HYBRID_IRREG = ["2024-01-10", "2024-01-12", "2024-01-15"]


def _q_rebase_hybrid(spark, sf_dir):
    """Rebase onto a HYBRID target index (``DateTimeIndex.scala:434-553``;
    ``RebaseSuite.scala:31-200``'s hybrid cases): uniform[Jan 3..7] ⊕
    irregular[10,12,15] ⊕ uniform[Jan 20..23] with prefix-sum loc
    offsets. Exercises ``HybridDateTimeIndex.to_df`` (sub-index union
    with offsets) through the same single conform plan as the
    uniform/irregular rebases — the reference's per-pair rebaser
    specializations collapse into one declarative path."""
    from spark_timeseries_spark.operators import align as align_ops

    idx = sts.hybrid(
        [
            sts.uniform("2024-01-03", 5, sts.DayFrequency(1)),
            sts.irregular(_HYBRID_IRREG),
            sts.uniform("2024-01-20", 4, sts.DayFrequency(1)),
        ]
    )
    return align_ops.with_index(_daily_grid(spark, sf_dir), idx)


def _q_union_series(spark, sf_dir):
    """First-non-missing coalesce of same-index series into one
    (``TimeSeriesUtils.scala:30-45``): per instant the lowest-key series
    with a value wins. One struct-min aggregation — the priority scan as
    a map-side-combined shuffle on loc."""
    from spark_timeseries_spark.operators.align import union_series

    return union_series(_daily_grid(spark, sf_dir))


def _q_lags_custom(spark, sf_dir):
    """Per-series lag map (``TimeSeries.scala:86-148``): series '1' keeps
    its original only, series '2' contributes lag1/lag2 copies without
    the original; the shared index trims by the global max lag (2)."""
    from spark_timeseries_spark.operators.lag import lags_per_key

    grid = _daily_grid(spark, sf_dir)
    return lags_per_key(grid, {"1": (True, 0), "2": (False, 2)})


def _q_stats_suite(spark, sf_dir):
    """All six §2.10 statistical tests re-proved in ONE driver row
    (``TimeSeriesStatisticalTests.scala:209-431``): ADF(1,'c'), KPSS('c'),
    Durbin-Watson, Ljung-Box(2), Breusch-Godfrey(2), Breusch-Pagan —
    six per-key aggregates joined on key. χ²(2) survival is closed-form
    (``exp(-stat/2)``, exactly our ``chi2_sf`` at df=2), so the LB/BG
    p-values replay in SQL from the rounded statistics; ADF's MacKinnon
    interpolation and BP's χ²(1) (needs erfc) stay pytest-covered."""
    from spark_timeseries_spark.models import test_series_suite

    # r14 optimization: the five Python-kernel tests run in ONE
    # grouped-map pass (test_series_suite — shared dispatch, statistics
    # bit-identical to the standalone adf/kpss/lb/bg/bp rows), replacing
    # five separate scan+spread+kernel pipelines and four of the five
    # key joins. Only the pure-SQL Durbin-Watson frame still joins (its
    # sum order must keep matching the SQL oracle's aggregate exactly).
    obs = events_observations(spark, sf_dir)
    suite = test_series_suite(
        obs,
        [
            ("adf", "adf", {"max_lag": 1}),
            ("kpss", "kpss", {"method": "c"}),
            ("lb2", "ljung_box", {"max_lag": 2}),
            ("bg", "breusch_godfrey", {"max_lag": 2}),
            ("bp", "breusch_pagan", {}),
        ],
        order_col="ts",
    )
    out = suite.select(
        "key",
        _stable_round(F.col("adf_stat"), 4).alias("adf_stat"),
        _stable_round(F.col("kpss_stat"), 6).alias("kpss_stat"),
        _stable_round(F.col("lb2_stat"), 6).alias("lb2_stat"),
        _stable_round(F.col("bg_stat"), 4).alias("bg_stat"),
        _stable_round(F.col("bp_stat"), 5).alias("bp_stat"),
    )
    out = out.withColumn(
        "lb2_p", _stable_round(F.exp(-F.col("lb2_stat") / 2), 6)
    ).withColumn("bg_p", _stable_round(F.exp(-F.col("bg_stat") / 2), 6))
    return out.join(_q_dw_test(spark, sf_dir), "key")


def _q_max_drawdown(spark, sf_dir):
    """Per-series worst relative drawdown off the daily grid: one window
    pass (running peak) + one struct-min argmin aggregate. The per-row
    drawdown value/peak − 1 is a single IEEE division over identical
    6-decimal inputs, so the argmin (earliest trough on exact ties) is
    bit-stable across engines without pre-rounding."""
    from spark_timeseries_spark.operators import cumulative

    grid = _daily_grid(spark, sf_dir)
    out = cumulative.max_drawdown(grid, "ratio")
    return out.select(
        "key",
        _stable_round(F.col("max_dd"), 6).alias("max_dd"),
        "trough_loc", "peak_value", "trough_value",
    )


def _q_changepoint(spark, sf_dir):
    """Single mean-shift changepoint per daily-grid series (binary-
    segmentation AMOC step). The argmax compares the statistic ROUNDED via
    the nudged floor (the operator's determinism contract), ties to the
    smallest split — the oracle replays prefix sums, the rounding, and
    the (stat DESC, i ASC) pick row-for-row."""
    from spark_timeseries_spark.operators import changepoint

    grid = _daily_grid(spark, sf_dir)
    out = changepoint.changepoint_mean(grid, minseg=2)
    return out.select(
        "key", "cp_loc", "stat",
        _stable_round(F.col("mean_left"), 6).alias("mean_left"),
        _stable_round(F.col("mean_right"), 6).alias("mean_right"),
    )


def _q_hurst(spark, sf_dir):
    """Hurst exponent per user event-series (R/S over complete blocks of
    8/16/32, log-log OLS slope). The oracle replays block tiling over the
    per-key event rank, the cumulative demeaned deviations, and the
    closed-form regression; 6-decimal rounding absorbs the sub-1e-12
    summation-order noise of the block means."""
    from spark_timeseries_spark.operators.features import hurst_rs

    obs = events_observations(spark, sf_dir)
    out = hurst_rs(obs, (8, 16, 32), order_col="ts")
    return out.select("key", _stable_round(F.col("hurst"), 6).alias("hurst"))


def _q_half_life(spark, sf_dir):
    """AR(1) mean-reversion half-life per user event-series: closed-form
    OLS of Δy on y_lag (one lag window + one aggregate). Event values are
    near-i.i.d. so β sits near −1 — far from the β<0 gate boundary, making
    the NULL/non-NULL split cross-engine stable."""
    from spark_timeseries_spark.operators.features import half_life

    obs = events_observations(spark, sf_dir)
    out = half_life(obs, order_col="ts")
    return out.select(
        "key",
        _stable_round(F.col("beta"), 6).alias("beta"),
        _stable_round(F.col("half_life"), 6).alias("half_life"),
    )


def _q_corr_matrix(spark, sf_dir):
    """Corpus-wide pairwise Pearson correlation (strict upper triangle,
    pairwise-complete) over the daily grid: location equi-join +
    per-pair native moment aggregate. O(K²) output is the result's
    size, not a plan defect. The oracle replays covar_samp/(sa·sb) with
    NULLIF."""
    from spark_timeseries_spark.operators import rolling as roll_ops

    grid = _daily_grid(spark, sf_dir)
    out = roll_ops.corr_matrix(grid, min_overlap=5)
    return out.select(
        "key_a", "key_b", "n_overlap",
        _stable_round(F.col("corr"), 6).alias("corr"),
    )


def _q_readability(spark, sf_dir):
    """Flesch reading ease per document — three regex counts + fixed
    arithmetic, all row-local JVM expressions (no shuffle beyond the
    scan); the oracle replays the exact regex counting rules in RE2."""
    from spark_timeseries_spark.pipeline.text import readability

    docs = _docs_spread(spark, sf_dir)
    out = readability(docs)
    return out.select(
        "doc_id", "n_sents", "n_words", "n_syllables",
        _stable_round(F.col("flesch"), 6).alias("flesch"),
    )


def _q_tfidf_topk(spark, sf_dir):
    """Top-3 TF-IDF terms per document (min_df=2): the existing
    pipeline.search.tf_idf frame + a per-doc rank window over the
    ROUNDED score (term ASC tie-break) — sums-free scoring (tf · ln(N/df)
    is one multiply over exact integers), so rank parity holds at 6
    decimals."""
    from spark_timeseries_spark.pipeline.search import tf_idf

    docs = _docs_spread(spark, sf_dir)
    scored = tf_idf(docs, min_df=2).withColumn(
        "tfidf_r", _stable_round(F.col("tfidf"), 6)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_r").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df",
                F.col("tfidf_r").alias("tfidf"))
    )


def _q_sq8_error(spark, sf_dir):
    """SQ8 per-vector quantization + reconstruction error over the
    embeddings corpus — row-local array expressions only. Codes are an
    exact-integer value check (the whole affine grid is a fixed IEEE op
    sequence both engines replay bit-for-bit); the error stats round 6."""
    from spark_timeseries_spark.pipeline.embeddings import sq8_quantize

    emb = _emb_spread(spark, sf_dir)
    out = sq8_quantize(emb)
    # Codes are emitted as a comma-joined STRING (not an array column):
    # the driver's pandas canonicalizer sorts raw cells and cannot hash
    # list values. Value semantics unchanged — still an exact-integer
    # comparison, just serialized.
    return out.select(
        "vec_id",
        F.concat_ws(",", F.col("codes").cast("array<string>")).alias("codes"),
        _stable_round(F.col("mse"), 6).alias("mse"),
        _stable_round(F.col("max_abs_err"), 6).alias("max_abs_err"),
    )


def _q_theta_forecast(spark, sf_dir):
    """Theta-method 7-step forecast (alpha=0.4) off the filled daily
    grid; the oracle replays the OLS trend, the theta-2 line, and the
    closed-form SES level weight-for-weight."""
    from spark_timeseries_spark.models.baselines import theta_forecast

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = theta_forecast(filled, 7, alpha=0.4)
    return out.select(
        "key", "step", _stable_round(F.col("forecast"), 6).alias("forecast")
    )


def _q_winsorize(spark, sf_dir):
    """Per-series 10/90 quantile clipping on the daily grid — one exact
    interpolated-percentile aggregate + one co-keyed join; quantile lerp
    (a + (b−a)·f) is the proven cross-engine-exact form."""
    from spark_timeseries_spark.operators.outliers import winsorize

    grid = _daily_grid(spark, sf_dir)
    out = winsorize(grid, 0.1, 0.9)
    return out.select(
        "key", "loc",
        _stable_round(F.col("q_lo"), 6).alias("q_lo"),
        _stable_round(F.col("q_hi"), 6).alias("q_hi"),
        _stable_round(F.col("winsorized"), 6).alias("winsorized"),
        "clipped",
    )


def _q_perm_entropy(spark, sf_dir):
    """Bandt-Pompe permutation entropy (m=3) per daily-grid series —
    integer ordinal patterns (cross-engine exact) + one entropy
    aggregate; ln noise absorbed at 6 decimals."""
    from spark_timeseries_spark.operators.features import permutation_entropy

    grid = _daily_grid(spark, sf_dir)
    out = permutation_entropy(grid, 3)
    return out.select(
        "key", "n_patterns",
        _stable_round(F.col("perm_entropy"), 6).alias("perm_entropy"),
    )


def _q_interarrival(spark, sf_dir):
    """Per-user inter-arrival statistics + Goh-Barabási burstiness over
    the raw event stamps — exact integer microsecond gaps scaled once, so
    every statistic replays."""
    from spark_timeseries_spark.operators.features import interarrival_stats

    obs = events_observations(spark, sf_dir)
    out = interarrival_stats(obs)
    return out.select(
        "key", "n_gaps",
        _stable_round(F.col("mean_gap"), 6).alias("mean_gap"),
        _stable_round(F.col("std_gap"), 6).alias("std_gap"),
        _stable_round(F.col("min_gap"), 6).alias("min_gap"),
        _stable_round(F.col("max_gap"), 6).alias("max_gap"),
        _stable_round(F.col("burstiness"), 6).alias("burstiness"),
    )


def _q_impulse_response(spark, sf_dir):
    """VAR(1) impulse responses for two users' filled daily series,
    horizons 0..5 — upgrades the r7 IRF surface from pytest-only to
    oracle-backed: the oracle re-derives Φ via the var_fit closed form
    and takes explicit 2×2 matrix powers (Ψ_s = Φ^s for p=1,
    Lütkepohl 2005 §2.1.2)."""
    from spark_timeseries_spark.models import impulse_response

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = impulse_response(filled, ["1", "2"], p=1, h=5)
    return out.select(
        "shock", "response", "step",
        _stable_round(F.col("irf"), 6).alias("irf"),
    )


def _q_sax(spark, sf_dir):
    """SAX symbolic words (w=8, a=4) per daily-grid series — z-normalize
    (population std, the SAX convention), floor(i·w/n) PAA segments,
    Lin et al. 2003 two-decimal breakpoints; the oracle replays the whole
    pipeline with string_agg ordered by segment. Symbols are discretized
    means, so last-bit fp noise can't flip them off the irrational-ish
    breakpoint grid."""
    from spark_timeseries_spark.operators.sax import sax

    grid = _daily_grid(spark, sf_dir)
    return sax(grid, w=8, a=4).select("key", "n", "n_segments", "sax")


def _q_paa(spark, sf_dir):
    """Piecewise Aggregate Approximation (w=4) segment means per series —
    the un-normalized compression primitive under SAX, proven on its
    own because its floor(i·w/n) segment rule is the load-bearing bit."""
    from spark_timeseries_spark.operators.sax import paa

    grid = _daily_grid(spark, sf_dir)
    out = paa(grid, 4)
    return out.select(
        "key", "seg", "seg_n", _stable_round(F.col("paa"), 6).alias("paa")
    )


def _q_peaks(spark, sf_dir):
    """Strict local maxima (k=2 full neighborhoods) over each series'
    non-null daily run, with windowed clearance depth — one window pass,
    replayed by the oracle with two ROWS-frame max/count windows."""
    from spark_timeseries_spark.operators.features import find_peaks

    grid = _daily_grid(spark, sf_dir)
    out = find_peaks(grid, k=2)
    return out.select(
        "key", "loc", "value",
        _stable_round(F.col("depth"), 6).alias("depth"),
    )


def _q_psi_drift(spark, sf_dir):
    """Population Stability Index of the events value distribution,
    first half of January (reference cohort) vs the rest (current) —
    per-bin decomposition over 10 equal-width bins anchored on the
    reference min/max. Bin edges, proportions, and the clamp are exact
    IEEE ops on both engines; only ln() needs the stable rounding."""
    from spark_timeseries_spark.pipeline.drift import psi_bins

    obs = events_observations(spark, sf_dir)
    ref = obs.where(F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
    cur = obs.where(F.col("ts") >= F.lit("2024-01-16").cast("timestamp"))
    out = psi_bins(ref, cur, "value", bins=10)
    return out.select(
        "bin",
        _stable_round(F.col("p_ref"), 6).alias("p_ref"),
        _stable_round(F.col("p_cur"), 6).alias("p_cur"),
        _stable_round(F.col("contrib"), 6).alias("contrib"),
    )


def _q_cointegration(spark, sf_dir):
    """Engle-Granger two-step cointegration between two users' filled
    daily series (max_lag=0): step-1 OLS α, β and the no-constant DF
    t-stat on the residual. The oracle re-derives everything in closed
    form — β from covar/var, γ and its standard error from the residual
    moment sums (σ² = SSR/(m−1), k=1 regressor). The 5% decision
    compares against the MacKinnon 2010 τ_c(2) value −3.34."""
    from spark_timeseries_spark.models import cointegration_test

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = cointegration_test(filled, "1", "2", max_lag=0)
    return out.select(
        "lhs", "rhs", "n",
        _stable_round(F.col("alpha"), 6).alias("alpha"),
        _stable_round(F.col("beta"), 6).alias("beta"),
        _stable_round(F.col("adf_stat"), 5).alias("adf_stat"),
        "cointegrated_5pct",
    )


def _q_threshold_runs(spark, sf_dir):
    """Above-60 exceedance episodes per daily-grid series — maximal
    consecutive runs (a NULL day breaks a run), with episode length,
    peak, and integrated excess. Oracle replays the two-row-number
    island id."""
    from spark_timeseries_spark.operators.features import threshold_runs

    grid = _daily_grid(spark, sf_dir)
    out = threshold_runs(grid, 60.0)
    return out.select(
        "key", "start_loc", "end_loc", "length",
        "max_value",
        _stable_round(F.col("sum_excess"), 6).alias("sum_excess"),
    )


def _q_gini_sources(spark, sf_dir):
    """Gini concentration of document lengths within each source — the
    corpus-mixture audit (is one source dominated by a few huge docs?).
    Rank formula over the ascending sort; tie-invariant, so the oracle
    replays it exactly."""
    from spark_timeseries_spark.pipeline.drift import gini

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source", F.length("text").cast("double").alias("value")
    )
    out = gini(d, ["source"], "value")
    return out.select(
        "source", "n", "total",
        _stable_round(F.col("gini"), 6).alias("gini"),
    )


def _q_mann_kendall(spark, sf_dir):
    """Mann-Kendall nonparametric trend per daily-grid series: pairwise
    sign sum S (integer-exact), tie-corrected Var(S), continuity-
    corrected z. The normal-tail p-value stays pytest-covered (the
    engine's MacKinnon/χ² convention — DuckDB has no erf), so the row
    proves S/Var/z."""
    from spark_timeseries_spark.operators.cusum import mann_kendall

    grid = _daily_grid(spark, sf_dir)
    out = mann_kendall(grid, s_method="join")
    return out.select(
        "key", "n", "s",
        _stable_round(F.col("var_s"), 6).alias("var_s"),
        _stable_round(F.col("z"), 6).alias("z"),
    )


def _q_ks_drift(spark, sf_dir):
    """Two-sample KS over the same first-half/second-half events cohorts
    as ``psi_drift`` — D from integer rank counts (exact), p from the
    100-term Kolmogorov series (both engines fold the same literal
    series; only exp() noise needs the stable rounding)."""
    from spark_timeseries_spark.pipeline.drift import ks_test

    obs = events_observations(spark, sf_dir)
    ref = obs.where(F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
    cur = obs.where(F.col("ts") >= F.lit("2024-01-16").cast("timestamp"))
    out = ks_test(ref, cur, "value")
    return out.select(
        "n_ref", "n_cur",
        _stable_round(F.col("d_stat"), 6).alias("d_stat"),
        _stable_round(F.col("p_value"), 6).alias("p_value"),
    )


def _q_roll_beta(spark, sf_dir):
    """Rolling 7-day OLS beta/alpha of user 1's filled series on user
    2's — windowed covar/var closed form, replayed by the oracle with
    the same ROWS frame."""
    from spark_timeseries_spark.operators.rolling import roll_beta

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = roll_beta(filled, "1", "2", 7)
    return out.select(
        "loc",
        _stable_round(F.col("beta"), 6).alias("beta"),
        _stable_round(F.col("alpha"), 6).alias("alpha"),
    )


def _q_scale_suite(spark, sf_dir):
    """Composed re-proof of all three per-series scaling methods in one
    slot — zscore, robust (median/1.4826·MAD, exact interpolated
    percentiles = DuckDB quantile_cont), minmax — as three columns off
    the same daily grid."""
    from spark_timeseries_spark.operators.scale import scale

    grid = _daily_grid(spark, sf_dir)
    out = scale(
        scale(
            scale(grid, "zscore", out_col="z"), "robust", out_col="rz"
        ),
        "minmax",
        out_col="mm",
    )
    return out.where(F.col("value").isNotNull()).select(
        "key", "loc",
        _stable_round(F.col("z"), 6).alias("z"),
        _stable_round(F.col("rz"), 6).alias("rz"),
        _stable_round(F.col("mm"), 6).alias("mm"),
    )


def _q_matrix_profile(spark, sf_dir):
    """Matrix profile (m=7, exclusion ⌈m/4⌉=2) over each user's filled
    daily series — z-normalized nearest-neighbor subsequence distances
    via the blocked-GEMM grouped-map kernel; the oracle replays the
    moment identity d² = 2m(1 − (⟨a,b⟩ − mμμ)/(mσσ)) with DuckDB list
    ops over the same sliding windows. The neighbor INDEX stays out of
    the row (near-tie argmins are not cross-engine stable; the distance
    is)."""
    from spark_timeseries_spark.operators.matrixprofile import (
        matrix_profile,
    )

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = matrix_profile(filled, 7)
    return out.select(
        "key", "loc", _stable_round(F.col("mp"), 6).alias("mp")
    )


def _q_asof_enrich(spark, sf_dir):
    """As-of join: every raw event picks up the most recent daily-grid
    row (its own day's midnight) of the same user — the canonical
    trade↔quote enrichment, run as the tag-union-window formulation
    (ONE key exchange, zero join operators — plan-pinned) and replayed
    by DuckDB's native ASOF LEFT JOIN. Row-level payload semantics:
    a matched grid row with a NULL average stays NULL (no per-column
    leak from older rows)."""
    from spark_timeseries_spark.operators.asof import asof_join

    obs = events_observations(spark, sf_dir)
    grid = _daily_grid(spark, sf_dir).select(
        "key", "ts", F.col("value").alias("davg")
    )
    out = asof_join(obs, grid, on="ts", by="key")
    return out.select("key", "ts", "value", "ts_right", "davg")


def _q_roll_rank(spark, sf_dir):
    """Rolling 7-window percentile rank per daily-grid series — the
    fraction is an exact integer count over n, so the row needs no
    rounding at all (both engines compute count/7 on identical
    integers)."""
    from spark_timeseries_spark.operators.rolling import roll_rank

    grid = _daily_grid(spark, sf_dir)
    out = roll_rank(grid, 7, out_col="rank")
    return out.select("key", "loc", "rank")


def _q_downsample_minmax(spark, sf_dir):
    """Extrema-preserving 6-bucket downsample of each daily series —
    the argmin/argmax row picks replayed by the oracle with the same
    two deterministic (value, loc) row_number orders."""
    from spark_timeseries_spark.operators.layout import downsample_minmax

    grid = _daily_grid(spark, sf_dir)
    return downsample_minmax(grid, 6).select(
        "key", "bucket", "loc", "value"
    )


def _q_sax_mindist(spark, sf_dir):
    """SAX MINDIST lower-bound candidate pairs (w=8, a=4, ≤ 2.0) over
    the filled daily grid — the cheap shape-similarity prune; the
    oracle replays the word construction AND the per-position
    breakpoint-gap CASE table verbatim (both engines chain the same
    eight exact literal ops, so even the ≤ filter agrees bit-for-bit)."""
    from spark_timeseries_spark.operators.sax import sax_mindist_pairs

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = sax_mindist_pairs(filled, 8, 4, max_dist=2.0)
    return out.select(
        "key_a", "key_b", "n",
        _stable_round(F.col("mindist"), 6).alias("mindist"),
    )


def _q_embedding_drift(spark, sf_dir):
    """Embedding drift between the even- and odd-id halves of the
    embeddings table: centroid cosine + L2-norm PSI. Norms fold
    left-to-right with double-cast elements on BOTH engines (Spark
    F.aggregate / DuckDB list_reduce), so the PSI bin decisions replay
    bit-for-bit; only the final cosine/ln need the stable rounding."""
    from spark_timeseries_spark.pipeline.drift import embedding_drift

    emb = load_table(spark, sf_dir, "embeddings")
    ref = emb.where(F.col("vec_id") % 2 == 0)
    cur = emb.where(F.col("vec_id") % 2 == 1)
    out = embedding_drift(ref, cur, "embedding", bins=10)
    return out.select(
        "n_ref", "n_cur",
        _stable_round(F.col("centroid_cosine"), 6).alias("centroid_cosine"),
        _stable_round(F.col("norm_psi"), 6).alias("norm_psi"),
    )


def _q_pettitt(spark, sf_dir):
    """Pettitt rank changepoint per daily-grid series — the integer
    statistic and argmax position replay exactly (signs and prefix sums
    are integer arithmetic); only the closed-form p needs rounding."""
    from spark_timeseries_spark.operators.changepoint import pettitt

    grid = _daily_grid(spark, sf_dir)
    out = pettitt(grid)
    return out.select(
        "key", "n", "k_stat", "cp_loc",
        _stable_round(F.col("p_value"), 6).alias("p_value"),
    )


def _q_croston(spark, sf_dir):
    """Croston intermittent-demand estimate per user over a derived
    spike-demand series (daily totals above 60, zero elsewhere — mostly
    zeros, the regime Croston exists for). The closed-form power-weight
    sums replay in SQL; pow() noise is absorbed at 6 decimals."""
    from spark_timeseries_spark.models import croston

    grid = _daily_grid(spark, sf_dir)
    demand = grid.select(
        "key", "loc",
        F.when(F.coalesce(F.col("value"), F.lit(0.0)) > 60.0,
               F.col("value")).otherwise(F.lit(0.0)).alias("value"),
    )
    out = croston(demand, alpha=0.2)
    return out.select(
        "key", "n", "n_demands",
        _stable_round(F.col("size_hat"), 6).alias("size_hat"),
        _stable_round(F.col("interval_hat"), 6).alias("interval_hat"),
        _stable_round(F.col("forecast"), 6).alias("forecast"),
    )


def _q_seasonal_mk(spark, sf_dir):
    """Seasonal (weekly, period 7) Mann-Kendall per daily-grid series —
    per-season integer S and tie-corrected Var summed across the seven
    weekday groups; p stays pytest-covered (no erf in DuckDB, the MK
    convention)."""
    from spark_timeseries_spark.operators.cusum import seasonal_mann_kendall

    grid = _daily_grid(spark, sf_dir)
    out = seasonal_mann_kendall(grid, 7, s_method="join")
    return out.select(
        "key", "n", "s",
        _stable_round(F.col("var_s"), 6).alias("var_s"),
        _stable_round(F.col("z"), 6).alias("z"),
    )


def _q_counter_rate(spark, sf_dir):
    """Reset-aware counter analysis over each user's daily series
    treated as a gauge-counter (every decrease counts as a restart —
    deterministic on this data, and it exercises both delta branches):
    per-step increases, reset count, per-day rate."""
    from spark_timeseries_spark.operators.cumulative import counter_increase

    grid = _daily_grid(spark, sf_dir)
    out = counter_increase(grid)
    return out.select(
        "key", "n", "n_resets",
        _stable_round(F.col("increase"), 6).alias("increase"),
        "elapsed",
        _stable_round(F.col("rate"), 6).alias("rate"),
    )


def _q_window_join_ctx(spark, sf_dir):
    """kdb-style window join of the daily grid against itself (±3
    days): each observed day aggregates its week-context neighbors
    (count/avg/sum, self included). Runs as the interval-bucket
    equi-join; the oracle replays the plain range join + group-by
    (unique (key, loc) makes them equivalent)."""
    from spark_timeseries_spark.operators.asof import window_join

    grid = _daily_grid(spark, sf_dir)
    obs = grid.where(F.col("value").isNotNull()).select(
        "key", "loc", "value"
    )
    out = window_join(obs, obs, -3.0, 3.0, aggs=["count", "avg", "sum"])
    return out.select(
        "key", "loc", "value", "w_count",
        _stable_round(F.col("w_avg"), 6).alias("w_avg"),
        _stable_round(F.col("w_sum"), 6).alias("w_sum"),
    )


# -- round-8 additions -------------------------------------------------------

def _q_bollinger(spark, sf_dir):
    """Bollinger(7, 2) bands over the filled daily grid — one rolling
    window pass (mean/std/complete-count), all JVM; the oracle replays
    the same frame in DuckDB windows (the roll_mean/roll_std precedent
    proves in-order frame accumulation matches cross-engine)."""
    from spark_timeseries_spark.operators.indicators import bollinger

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = bollinger(filled, n=7, k=2.0)
    return out.select(
        "key", "loc",
        _stable_round(F.col("mid"), 6).alias("mid"),
        _stable_round(F.col("upper"), 6).alias("upper"),
        _stable_round(F.col("lower"), 6).alias("lower"),
        _stable_round(F.col("pct_b"), 6).alias("pct_b"),
    )


def _q_rsi(spark, sf_dir):
    """RSI(14, ewm variant) over the filled daily grid. The operator's
    closed-form EMA (q^rk·(v0 + α·Σ v_i/q^i)) is replayed op-for-op in
    the oracle — same literals, same prefix order — so raw doubles agree
    to the last bit before the 6-dp rounding."""
    from spark_timeseries_spark.operators.indicators import rsi

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = rsi(filled, 14, max_len=31)
    return out.select(
        "key", "loc",
        _stable_round(F.col("avg_gain"), 6).alias("avg_gain"),
        _stable_round(F.col("avg_loss"), 6).alias("avg_loss"),
        _stable_round(F.col("rsi"), 6).alias("rsi"),
    )


def _q_macd(spark, sf_dir):
    """MACD(12, 26, 9) over the filled daily grid — three chained
    closed-form EMAs in one lazy plan; the oracle stacks the same three
    prefix forms as CTE layers."""
    from spark_timeseries_spark.operators.indicators import macd

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = macd(filled, max_len=31)
    return out.select(
        "key", "loc",
        _stable_round(F.col("macd"), 6).alias("macd"),
        _stable_round(F.col("signal"), 6).alias("signal"),
        _stable_round(F.col("histogram"), 6).alias("histogram"),
    )


def _q_ohlc_bars(spark, sf_dir):
    """Daily OHLC bars per user over raw events — ONE map-side-combined
    groupBy of struct-min/max positional aggregates (no window, no
    sort); open/close tie-break by value on duplicate timestamps is
    deterministic on both engines."""
    from spark_timeseries_spark.operators.resample import ohlc

    obs = events_observations(spark, sf_dir)
    return ohlc(obs, "day").select(
        "key", "bar_ts", "open", "high", "low", "close", "n"
    )


def _q_sample_entropy(spark, sf_dir):
    """SampEn(m=2, r=0.2σ) per series off the filled daily grid — the
    join plan at T=31 (the oracle-replayable side of the dual plan; the
    merge kernel takes over past 512 points)."""
    from spark_timeseries_spark.operators.features import sample_entropy

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = sample_entropy(filled, m=2, r_frac=0.2, method="join")
    return out.select(
        "key", "n", "b", "a",
        _stable_round(F.col("sampen"), 6).alias("sampen"),
    )


def _q_turning_points(spark, sf_dir):
    """Kendall turning-points randomness test per series on the daily
    grid (NULL cells skipped) — one window pass + one aggregate."""
    from spark_timeseries_spark.operators.features import turning_points

    grid = _daily_grid(spark, sf_dir)
    out = turning_points(grid)
    return out.select(
        "key", "n", "tp",
        _stable_round(F.col("expected"), 6).alias("expected"),
        _stable_round(F.col("z"), 6).alias("z"),
    )


def _q_page_hinkley(spark, sf_dir):
    """Page-Hinkley drift statistics per point over the filled grid —
    running mean + prefix sum + running extremum, the cusum closed-form
    family; fully window-replayable."""
    from spark_timeseries_spark.operators.cusum import page_hinkley

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = page_hinkley(filled, delta=0.1, lam=5.0)
    return out.select(
        "key", "loc",
        _stable_round(F.col("ph_pos"), 6).alias("ph_pos"),
        _stable_round(F.col("ph_neg"), 6).alias("ph_neg"),
    )


def _q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test about the median per series on the daily
    grid; z only (the normal-tail p needs erf, which DuckDB lacks — the
    mann_kendall precedent)."""
    from spark_timeseries_spark.stats import runs_test

    grid = _daily_grid(spark, sf_dir)
    out = runs_test(grid)
    return out.select(
        "key", "n1", "n2", "runs",
        _stable_round(F.col("z"), 6).alias("z"),
    )


def _q_variance_ratio(spark, sf_dir):
    """Lo-MacKinlay VR(4) per series over the filled grid — closed-form
    overlapping estimators, z included (no erf needed)."""
    from spark_timeseries_spark.stats import variance_ratio

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = variance_ratio(filled, q=4)
    return out.select(
        "key", "n",
        _stable_round(F.col("vr"), 6).alias("vr"),
        _stable_round(F.col("z"), 6).alias("z"),
    )


def _q_embedding_dim_stats(spark, sf_dir):
    """Per-dimension distribution profile of the embeddings corpus —
    posexplode into one groupBy(dim) with exact percentiles."""
    from spark_timeseries_spark.pipeline.embeddings import embedding_dim_stats

    emb = load_table(spark, sf_dir, "embeddings")
    out = embedding_dim_stats(emb)
    return out.select(
        "dim", "n",
        _stable_round(F.col("mean"), 6).alias("mean"),
        _stable_round(F.col("std"), 6).alias("std"),
        _stable_round(F.col("q_05"), 6).alias("q_05"),
        _stable_round(F.col("q_50"), 6).alias("q_50"),
        _stable_round(F.col("q_95"), 6).alias("q_95"),
    )


def _q_srp_buckets(spark, sf_dir):
    """SRP-LSH bucket histogram (8 arithmetic ±1 hyperplanes) over the
    embeddings corpus — the projections are exact ordered folds
    (F.aggregate = DuckDB list_reduce, the embedding_drift precedent),
    so the sign bits and bucket ids match bit-for-bit."""
    from spark_timeseries_spark.pipeline.embeddings import srp_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    out = srp_lsh(emb, planes=8)
    return out.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def _q_ngram_novelty(spark, sf_dir):
    """3-gram novelty of odd-id documents vs the even-id reference half
    — explode + vocabulary anti-membership + per-doc aggregate; the
    continuous companion of the decontaminate flag."""
    from spark_timeseries_spark.pipeline.dedup import ngram_novelty

    docs = _docs_spread(spark, sf_dir)
    new = docs.where(F.col("doc_id") % 2 == 1)
    ref = docs.where(F.col("doc_id") % 2 == 0)
    out = ngram_novelty(new, ref)
    return out.select(
        F.col("id").alias("doc_id"), "n_shingles", "n_novel",
        _stable_round(F.col("novelty"), 6).alias("novelty"),
    )


def _q_realized_vol(spark, sf_dir):
    """Daily realized variance per user from intra-day consecutive log
    returns over the raw irregular events — one (key, day) lag window +
    one aggregate on the same partition key (single exchange,
    plan-pinned)."""
    from spark_timeseries_spark.operators.volatility import realized_vol

    obs = events_observations(spark, sf_dir)
    out = realized_vol(obs, "day")
    return out.select(
        "key", "bar_ts", "n_ret",
        _stable_round(F.col("rv"), 6).alias("rv"),
        _stable_round(F.col("realized_vol"), 6).alias("realized_vol"),
    )


def _q_parkinson_vol(spark, sf_dir):
    """Parkinson (1980) range volatility per user over its daily OHLC
    bars — the ohlc→parkinson chain, two map-side-combinable
    aggregates."""
    from spark_timeseries_spark.operators.resample import ohlc
    from spark_timeseries_spark.operators.volatility import parkinson_vol

    obs = events_observations(spark, sf_dir)
    out = parkinson_vol(ohlc(obs, "day"))
    return out.select(
        "key", "n_bars",
        _stable_round(F.col("parkinson_var"), 6).alias("parkinson_var"),
        _stable_round(F.col("parkinson_vol"), 6).alias("parkinson_vol"),
    )


def _q_coherence(spark, sf_dir):
    """Daniell-smoothed magnitude-squared coherence + phase between two
    user series off the filled daily grid (smooth=2) — the frequency-
    domain companion of crosscorr/roll_corr; spectra rounded 4 (the
    periodogram power precedent), bounded ratios rounded 6."""
    from spark_timeseries_spark.operators.spectral import coherence

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = coherence(filled, "1", "2", smooth=2, method="explode")
    return out.select(
        "k",
        _stable_round(F.col("freq"), 6).alias("freq"),
        _stable_round(F.col("sxx"), 4).alias("sxx"),
        _stable_round(F.col("syy"), 4).alias("syy"),
        _stable_round(F.col("coh"), 6).alias("coh"),
        _stable_round(F.col("phase"), 6).alias("phase"),
    )


def _q_intervention(spark, sf_dir):
    """ITS segmented regression around loc=15 on the daily grid — one
    conditional-sums groupBy per series; slope/level effects of a
    mid-month 'intervention'."""
    from spark_timeseries_spark.operators.changepoint import (
        intervention_analysis,
    )

    grid = _daily_grid(spark, sf_dir)
    out = intervention_analysis(grid, 15)
    return out.select(
        "key", "n_pre", "n_post",
        _stable_round(F.col("slope_pre"), 6).alias("slope_pre"),
        _stable_round(F.col("slope_post"), 6).alias("slope_post"),
        _stable_round(F.col("slope_change"), 6).alias("slope_change"),
        _stable_round(F.col("level_change"), 6).alias("level_change"),
    )


def _q_hjorth(spark, sf_dir):
    """Hjorth activity/mobility/complexity per series on the daily grid
    — population variances of x, Δx, Δ²x via explicit deviations; one
    lag window + one aggregate."""
    from spark_timeseries_spark.operators.features import hjorth_params

    grid = _daily_grid(spark, sf_dir)
    out = hjorth_params(grid)
    return out.select(
        "key", "n",
        _stable_round(F.col("activity"), 6).alias("activity"),
        _stable_round(F.col("mobility"), 6).alias("mobility"),
        _stable_round(F.col("complexity"), 6).alias("complexity"),
    )


def _q_nonlinearity(spark, sf_dir):
    """tsfresh nonlinearity scalars (c3, cid_ce, mean_abs_change,
    mean-crossings, 10-bin entropy) per series on the daily grid — one
    lag window + two map-side aggregates."""
    from spark_timeseries_spark.operators.features import (
        nonlinearity_features,
    )

    grid = _daily_grid(spark, sf_dir)
    out = nonlinearity_features(grid, lag=1, bins=10)
    return out.select(
        "key", "n",
        _stable_round(F.col("c3"), 4).alias("c3"),
        _stable_round(F.col("cid_ce"), 6).alias("cid_ce"),
        _stable_round(F.col("mean_abs_change"), 6).alias("mean_abs_change"),
        "n_crossings",
        _stable_round(F.col("binned_entropy"), 6).alias("binned_entropy"),
    )


def _q_fano(spark, sf_dir):
    """Hourly Fano factor per user with empty buckets counted — the
    counts-window complement of interarrival burstiness."""
    from spark_timeseries_spark.operators.features import fano_factor

    obs = events_observations(spark, sf_dir)
    out = fano_factor(obs, "hour")
    return out.select(
        "key", "n_buckets",
        _stable_round(F.col("mean_rate"), 6).alias("mean_rate"),
        _stable_round(F.col("fano"), 6).alias("fano"),
    )


def _q_fertility(spark, sf_dir):
    """Tokenizer fertility (BPE tokens per word) and chars-per-token by
    language — one aggregate over one documents scan."""
    from spark_timeseries_spark.pipeline.text import tokenizer_fertility

    docs = load_table(spark, sf_dir, "documents")
    out = tokenizer_fertility(docs, "lang")
    return out.select(
        F.col("lang").alias("stratum"), "n_docs", "words", "tokens", "chars",
        _stable_round(F.col("fertility"), 6).alias("fertility"),
        _stable_round(F.col("chars_per_token"), 6).alias("chars_per_token"),
    )


def _q_adx(spark, sf_dir):
    """Wilder ADX(14) over each user's daily OHLC bars — the
    ohlc→lag→4-chained-closed-EMA pipeline, all JVM at this bar
    count."""
    from spark_timeseries_spark.operators.indicators import adx
    from spark_timeseries_spark.operators.resample import ohlc

    obs = events_observations(spark, sf_dir)
    out = adx(ohlc(obs, "day"), n=14, max_len=31)
    return out.select(
        "key", "bar_ts",
        _stable_round(F.col("tr"), 6).alias("tr"),
        _stable_round(F.col("plus_di"), 6).alias("plus_di"),
        _stable_round(F.col("minus_di"), 6).alias("minus_di"),
        _stable_round(F.col("dx"), 6).alias("dx"),
        _stable_round(F.col("adx"), 6).alias("adx"),
    )


def _q_vwap_bars(spark, sf_dir):
    """Daily OHLC+VWAP bars with volume parsed out of the events JSON
    props — the volume-weighted variant of ohlc_bars (one regexp
    extract + the same single groupBy)."""
    from spark_timeseries_spark.operators.resample import ohlc

    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        F.col("user_id").cast("string").alias("key"),
        "ts",
        "value",
        F.regexp_extract("props", r'"k":\s*(\d+)', 1).try_cast("long").alias("vol"),
    )
    out = ohlc(obs, "day", volume_col="vol")
    return out.select(
        "key", "bar_ts",
        _stable_round(F.col("open"), 6).alias("open"),
        _stable_round(F.col("high"), 6).alias("high"),
        _stable_round(F.col("low"), 6).alias("low"),
        _stable_round(F.col("close"), 6).alias("close"),
        "n",
        _stable_round(F.col("vwap"), 6).alias("vwap"),
    )


def _q_demand_class(spark, sf_dir):
    """SBC demand-pattern quadrants over per-user daily ERROR-event
    counts on the fixed January calendar (zero days are zero demand —
    the intermittency this classifier exists for)."""
    from spark_timeseries_spark.models.baselines import demand_classification

    ev = load_table(spark, sf_dir, "events")
    keys = ev.select(
        F.col("user_id").cast("string").alias("key")
    ).distinct()
    cal = spark.range(31).select(F.col("id").alias("loc"))
    cnt = (
        ev.where(F.col("event_type") == "error")
        .select(
            F.col("user_id").cast("string").alias("key"),
            F.datediff(
                F.date_trunc("day", F.col("ts")),
                F.lit("2024-01-01").cast("timestamp"),
            ).cast("long").alias("loc"),
        )
        .groupBy("key", "loc")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    grid = (
        keys.crossJoin(cal)
        .join(cnt, ["key", "loc"], "left")
        .select(
            "key", "loc",
            F.coalesce("_c", F.lit(0)).cast("double").alias("value"),
        )
    )
    out = demand_classification(grid)
    return out.select(
        "key", "n", "n_demands",
        _stable_round(F.col("adi"), 6).alias("adi"),
        _stable_round(F.col("cv2"), 6).alias("cv2"),
        "pattern",
    )


def _q_var_es(spark, sf_dir):
    """Historical VaR(90)/ES per user over daily log returns off the
    filled grid — percentile + conditional tail mean."""
    from spark_timeseries_spark.operators.volatility import var_es

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = var_es(filled, alpha=0.9)
    return out.select(
        "key", "n_ret",
        _stable_round(F.col("var"), 6).alias("var"),
        _stable_round(F.col("es"), 6).alias("es"),
    )


def _q_dsir_weights(spark, sf_dir):
    """DSIR hashed n-gram importance weights of odd-id documents toward
    the even-id half as target (md5_60 hash — the oracle-replayable
    mode; 1024 buckets) — the importance-resampling companion of the
    mixture/sampling family."""
    from spark_timeseries_spark.pipeline.sampling import dsir_weights

    docs = _docs_spread(spark, sf_dir)
    raw = docs.where(F.col("doc_id") % 2 == 1)
    target = docs.where(F.col("doc_id") % 2 == 0)
    out = dsir_weights(raw, target, buckets=1024, hash_fn="md5_60")
    return out.select(
        "id", "n_features",
        _stable_round(F.col("logw"), 6).alias("logw"),
    )


def _q_funnel(spark, sf_dir):
    """Strict-order view→click→purchase funnel over the raw events —
    k conditional-min join rounds, one first-completion timestamp per
    entity per step (timestamps exact; no floats anywhere)."""
    from spark_timeseries_spark.operators.funnel import funnel

    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        F.col("user_id").cast("string").alias("key"), "ts", "event_type"
    )
    return funnel(obs, ["view", "click", "purchase"])


def _q_retention_cohorts(spark, sf_dir):
    """Daily retention triangle over the events — first-activity
    cohort via window-min (zero joins, no entity broadcast — the r9
    defect fix), calendar datediff offsets (DST-immune)."""
    from spark_timeseries_spark.operators.funnel import retention_cohorts

    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(F.col("user_id").cast("string").alias("key"), "ts")
    out = retention_cohorts(obs, "day")
    return out.select(
        "cohort", "offset", "n_active", "cohort_size",
        _stable_round(F.col("retention"), 6).alias("retention"),
    )


def _q_retention_month(spark, sf_dir):
    """Monthly retention triangle over the events (r10 verdict item 5:
    unit='month' via months_between on date_trunc'd month firsts —
    exact integers, no variable-width hazard). Same zero-join
    window-min plan as the daily row."""
    from spark_timeseries_spark.operators.funnel import retention_cohorts

    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(F.col("user_id").cast("string").alias("key"), "ts")
    out = retention_cohorts(obs, "month")
    return out.select(
        "cohort", "offset", "n_active", "cohort_size",
        _stable_round(F.col("retention"), 6).alias("retention"),
    )


def _q_cross_rank(spark, sf_dir):
    """Per-instant cross-sectional rank/count/percentile of every user
    on the daily grid — one loc-partitioned window pass (the
    leaderboard shape; shuffle key is the instant, K values per
    partition)."""
    from spark_timeseries_spark.operators.crosssection import cross_rank

    grid = _daily_grid(spark, sf_dir)
    out = cross_rank(grid)
    return out.select(
        "key", "loc", "value", "rank", "n_keys",
        _stable_round(F.col("pct"), 6).alias("pct"),
    )


def _q_cross_zscore(spark, sf_dir):
    """Per-instant cross-sectional z-score (demean/scale across users
    at each day) on the daily grid — the neutralization step before
    signal blending; one loc-partitioned window pass."""
    from spark_timeseries_spark.operators.crosssection import cross_zscore

    grid = _daily_grid(spark, sf_dir)
    out = cross_zscore(grid)
    return out.select(
        "key", "loc", "value",
        _stable_round(F.col("zscore"), 6).alias("zscore"),
    )


def _evseq_df(spark, sf_dir):
    """Per-key 0-based event sequence (key, loc, value) — the Spark twin
    of the oracle's ``_EVSEQ_SQL`` (events have no duplicate (user_id,
    ts), so the rank is deterministic)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    return ev.where(F.col("value").isNotNull()).select(
        F.col("user_id").cast("string").alias("key"),
        (F.row_number().over(w) - 1).cast("long").alias("loc"),
        "value",
    )


def _q_kalman_level(spark, sf_dir):
    """Fixed-q local-level Kalman filter + RTS smoother over each
    user's event sequence. The oracle replays the EXACT scalar
    recursion with two DuckDB recursive CTEs (forward filter, backward
    smoother) — pure +-*/ arithmetic in the kernel's operation order,
    bit-identical across engines (verified; rounding is belt-and-
    braces). The concentrated-MLE q path (golden-section — not SQL)
    stays pytest-verified."""
    from spark_timeseries_spark.models.kalman import kalman_local_level

    out = kalman_local_level(_evseq_df(spark, sf_dir), q=0.5)
    return out.select(
        "key", "loc", "value",
        _stable_round(F.col("level"), 6).alias("level"),
        _stable_round(F.col("smoothed"), 6).alias("smoothed"),
    )


def _q_bocpd_runs(spark, sf_dir):
    """BOCPD (Adams-MacKay) changepoint posterior over each user's
    event sequence. The oracle replays the full run-length recursion —
    Student-t predictives, log-space normalization, truncation pruning
    — with a DuckDB recursive CTE carrying LIST-typed state columns;
    transcendental (ln/exp/lgamma) 1-ulp engine differences leave
    |Δp_cp| ~ 1e-15 (measured 7e-15 max at sf0.01), absorbed by the
    6-decimal rounding; run_map is integral and exact."""
    from spark_timeseries_spark.operators.changepoint import bocpd

    out = bocpd(_evseq_df(spark, sf_dir), hazard=0.05, trunc=1e-6)
    return out.select(
        "key", "loc",
        _stable_round(F.col("p_cp"), 6).alias("p_cp"),
        "run_map",
    )


#: Lomb-Scargle driver-query frequency grid (cycles/day over the
#: 31-day January span) — the SAME Python floats feed the Spark array
#: literal and (via repr) the oracle's VALUES list
_LS_FREQS = [k / 31.0 for k in range(1, 11)]


def _q_lomb_scargle(spark, sf_dir):
    """Lomb-Scargle periodogram per user over the RAW irregular events
    (no fill, no grid — the estimator's whole point); t in exact days
    from epoch micros so both engines derive the identical double."""
    from spark_timeseries_spark.operators.spectral import lomb_scargle

    ev = load_table(spark, sf_dir, "events")
    t0 = F.unix_micros(F.lit("2024-01-01").cast("timestamp"))
    obs = ev.select(
        F.col("user_id").cast("string").alias("key"),
        ((F.unix_micros(F.col("ts")) - t0) / 86400000000.0).alias("t"),
        "value",
    )
    out = lomb_scargle(obs, _LS_FREQS, time_col="t")
    return out.select(
        "key",
        _stable_round(F.col("freq"), 6).alias("freq"),
        "n",
        _stable_round(F.col("power"), 4).alias("power"),
    )


def _q_spearman(spark, sf_dir):
    """Spearman rho between daily-grid users 1 and 2 over their
    non-null overlap — mid-rank tie convention, one row."""
    from spark_timeseries_spark.operators.rankcorr import spearman_corr

    grid = _daily_grid(spark, sf_dir)
    out = spearman_corr(grid, "1", "2")
    return out.select(
        "key_a", "key_b", "n",
        _stable_round(F.col("rho"), 6).alias("rho"),
    )


def _q_kendall(spark, sf_dir):
    """Kendall tau-b between daily-grid users 1 and 2 — the bounded
    O(T^2/2) pair self-join over a ~30-row overlap."""
    from spark_timeseries_spark.operators.rankcorr import kendall_tau

    grid = _daily_grid(spark, sf_dir)
    out = kendall_tau(grid, "1", "2")
    return out.select(
        "key_a", "key_b", "n", "n_concordant", "n_discordant",
        _stable_round(F.col("tau"), 6).alias("tau"),
    )


def _q_information_coefficient(spark, sf_dir):
    """Per-day cross-sectional IC of the daily-grid value against its
    own 1-day forward return — lead window + per-instant corr."""
    from spark_timeseries_spark.operators.crosssection import (
        information_coefficient,
    )

    grid = _daily_grid(spark, sf_dir)
    out = information_coefficient(grid, horizon=1)
    return out.select(
        "loc", "n_keys",
        _stable_round(F.col("ic"), 6).alias("ic"),
    )


def _q_turnover(spark, sf_dir):
    """Per-day rank autocorrelation / turnover of the daily-grid
    cross-section — rank window + per-key lag + per-instant corr."""
    from spark_timeseries_spark.operators.crosssection import turnover

    grid = _daily_grid(spark, sf_dir)
    out = turnover(grid)
    return out.select(
        "loc", "n_keys",
        _stable_round(F.col("rank_autocorr"), 6).alias("rank_autocorr"),
        _stable_round(F.col("turnover"), 6).alias("turnover"),
    )


def _q_stochastic(spark, sf_dir):
    """Stochastic %K(5)/%D(3) over each user's daily OHLC bars — two
    rolling extrema + SMA on one sort; burn-in and flat-window NULLs."""
    from spark_timeseries_spark.operators.indicators import stochastic
    from spark_timeseries_spark.operators.resample import ohlc

    obs = events_observations(spark, sf_dir)
    out = stochastic(ohlc(obs, "day"), n=5, d=3)
    return out.select(
        "key", "bar_ts",
        _stable_round(F.col("pct_k"), 6).alias("pct_k"),
        _stable_round(F.col("pct_d"), 6).alias("pct_d"),
    )


def _q_obv(spark, sf_dir):
    """On-balance volume over daily bars with the bar's event count as
    volume — signed integer-valued running sum, exact in both
    engines (no rounding)."""
    from spark_timeseries_spark.operators.indicators import obv
    from spark_timeseries_spark.operators.resample import ohlc

    obs = events_observations(spark, sf_dir)
    out = obv(ohlc(obs, "day"), volume_col="n")
    return out.select("key", "bar_ts", "obv")


def _q_ewm_var(spark, sf_dir):
    """EWM mean/variance/std (alpha=0.25, adjust=False, biased) over
    the filled daily grid — two chained closed-form EMA passes, oracle
    replays the same closed form on x and x^2."""
    from spark_timeseries_spark.operators.indicators import ewm_var

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = ewm_var(filled, 0.25, max_len=31)
    return out.select(
        "key", "loc",
        _stable_round(F.col("ewm_mean"), 6).alias("ewm_mean"),
        _stable_round(F.col("ewm_var"), 6).alias("ewm_var"),
        _stable_round(F.col("ewm_std"), 6).alias("ewm_std"),
    )


def _q_fill_previous_limit(spark, sf_dir):
    """Gap-limited LOCF (limit=2 grid steps) on the raw daily grid —
    values are copies of grid cells, exact in both engines."""
    from spark_timeseries_spark.operators.fill import fill_previous_limit

    grid = _daily_grid(spark, sf_dir)
    return fill_previous_limit(grid, 2).select("key", "loc", "value")


def _q_benford(spark, sf_dir):
    """Benford first-digit conformance of order totals by order
    priority — digit via pure floor/log10 arithmetic, missing-digit
    MAD/chi2 folding in closed form."""
    from spark_timeseries_spark.pipeline.drift import benford

    orders = load_table(spark, sf_dir, "orders")
    out = benford(orders, "o_totalprice", "o_orderpriority")
    return out.select(
        "group", "digit", "n_digit",
        _stable_round(F.col("observed"), 6).alias("observed"),
        _stable_round(F.col("expected"), 6).alias("expected"),
        _stable_round(F.col("mad"), 6).alias("mad"),
        _stable_round(F.col("chi2"), 4).alias("chi2"),
    )


def _q_priority_sample(spark, sf_dir):
    """Exact-20 deterministic bottom-k sample per document source —
    md5_60 seeded priorities (the oracle-replayable hash mode)."""
    from spark_timeseries_spark.pipeline.sampling import priority_sample

    docs = load_table(spark, sf_dir, "documents")
    out = priority_sample(
        docs, 20, stratum_col="source", id_col="doc_id",
        seed=3, hash_fn="md5_60",
    )
    return out.select("doc_id", "source", "sample_rank")


def _q_underwater(spark, sf_dir):
    """Drawdown-spell summary per daily-grid series — running peak →
    gaps-and-islands spell ids → two aggregates."""
    from spark_timeseries_spark.operators.cumulative import underwater

    grid = _daily_grid(spark, sf_dir)
    out = underwater(grid)
    return out.select(
        "key", "n", "n_underwater",
        _stable_round(F.col("underwater_frac"), 6).alias("underwater_frac"),
        "n_spells", "longest_spell",
        _stable_round(F.col("max_dd"), 6).alias("max_dd"),
    )


def _q_atr(spark, sf_dir):
    """Wilder ATR(14) over each user's daily OHLC bars — one lag + one
    closed-form EMA pass."""
    from spark_timeseries_spark.operators.indicators import atr
    from spark_timeseries_spark.operators.resample import ohlc

    obs = events_observations(spark, sf_dir)
    out = atr(ohlc(obs, "day"), n=14, max_len=31)
    return out.select(
        "key", "bar_ts",
        _stable_round(F.col("tr"), 6).alias("tr"),
        _stable_round(F.col("atr"), 6).alias("atr"),
    )


def _q_pivot_points(spark, sf_dir):
    """Floor-trader pivot levels from each prior daily bar — pure lag
    arithmetic."""
    from spark_timeseries_spark.operators.indicators import pivot_points
    from spark_timeseries_spark.operators.resample import ohlc

    obs = events_observations(spark, sf_dir)
    out = pivot_points(ohlc(obs, "day"))
    return out.select(
        "key", "bar_ts",
        _stable_round(F.col("pivot"), 6).alias("pivot"),
        _stable_round(F.col("r1"), 6).alias("r1"),
        _stable_round(F.col("s1"), 6).alias("s1"),
        _stable_round(F.col("r2"), 6).alias("r2"),
        _stable_round(F.col("s2"), 6).alias("s2"),
    )


def _q_tod_profile(spark, sf_dir):
    """Hour-of-day profile + eta-squared diurnal strength per user over
    the raw irregular events — one sufficient-sums groupBy + one key
    window."""
    from spark_timeseries_spark.operators.features import tod_profile

    obs = events_observations(spark, sf_dir)
    out = tod_profile(obs)
    return out.select(
        "key", "hod", "n",
        _stable_round(F.col("mean"), 6).alias("mean"),
        _stable_round(F.col("std"), 6).alias("std"),
        _stable_round(F.col("strength"), 6).alias("strength"),
    )


def _q_filter_audit(spark, sf_dir):
    """Kill-count audit of a 3-rule cleaning cascade over documents
    (non-English, short, digit-heavy) — one conditional-sums aggregate,
    per-rule marginal attribution."""
    from spark_timeseries_spark.pipeline.clean import filter_audit

    docs = load_table(spark, sf_dir, "documents")
    txt = F.col("text")
    digit_frac = F.try_divide(
        (F.length(txt) - F.length(F.regexp_replace(txt, "[0-9]", "")))
        .cast("double"),
        F.length(txt).cast("double"),
    )
    out = filter_audit(docs, {
        "nonenglish": F.col("lang") != "en",
        "short": F.length(txt) < 200,
        "digits": digit_frac > 0.02,
    })
    return out.select(
        "rule", "n_fail", "n_unique_fail",
        _stable_round(F.col("fail_rate"), 6).alias("fail_rate"),
        _stable_round(F.col("unique_fail_rate"), 6).alias("unique_fail_rate"),
        "n_docs", "n_killed",
        _stable_round(F.col("kill_rate"), 6).alias("kill_rate"),
    )


def _q_twa(spark, sf_dir):
    """Time-weighted daily average per user over the raw irregular
    events — LOCF-to-bucket-end holding weights from exact epoch
    micros; one lead window + one same-key groupBy."""
    from spark_timeseries_spark.operators.resample import twa

    obs = events_observations(spark, sf_dir)
    out = twa(obs, "day")
    return out.select(
        "key", "bar_ts", "n",
        _stable_round(F.col("span_seconds"), 6).alias("span_seconds"),
        _stable_round(F.col("twa"), 6).alias("twa"),
    )


def _q_count_bars(spark, sf_dir):
    """50-event event-clock OHLC bars per user — row_number bucketing +
    one struct-extrema groupBy; every output column exact (no float
    arithmetic)."""
    from spark_timeseries_spark.operators.resample import count_bars

    obs = events_observations(spark, sf_dir)
    return count_bars(obs, n=50).select(
        "key", "bar", "start_ts", "end_ts",
        "open", "high", "low", "close", "n_events",
    )


def _q_heaps_law(spark, sf_dir):
    """Vocabulary-growth curve over documents in doc_id order (10
    points) + the closed-form Heaps exponent."""
    from spark_timeseries_spark.pipeline.vocab import heaps_law

    docs = load_table(spark, sf_dir, "documents")
    out = heaps_law(docs, points=10)
    return out.select(
        "point", "n_docs", "n_tokens", "n_distinct",
        _stable_round(F.col("beta"), 6).alias("beta"),
    )


def _q_stylometric_delta(spark, sf_dir):
    """Burrows' Delta between every source pair over the corpus top-20
    words — z-scored relative frequencies, bounded pair join."""
    from spark_timeseries_spark.pipeline.text import stylometric_delta

    docs = load_table(spark, sf_dir, "documents")
    out = stylometric_delta(docs, k=20)
    return out.select(
        "group_a", "group_b", "n_words",
        _stable_round(F.col("delta"), 6).alias("delta"),
    )


def _q_keltner(spark, sf_dir):
    """Keltner channels (n=20, 2×ATR) over daily OHLC bars — typical-
    price EMA + Wilder TR EMA on one sort."""
    from spark_timeseries_spark.operators.indicators import keltner_channels
    from spark_timeseries_spark.operators.resample import ohlc

    obs = events_observations(spark, sf_dir)
    out = keltner_channels(ohlc(obs, "day"), n=20, mult=2.0, max_len=31)
    return out.select(
        "key", "bar_ts",
        _stable_round(F.col("typical"), 6).alias("typical"),
        _stable_round(F.col("kc_mid"), 6).alias("kc_mid"),
        _stable_round(F.col("kc_upper"), 6).alias("kc_upper"),
        _stable_round(F.col("kc_lower"), 6).alias("kc_lower"),
    )


def _q_donchian(spark, sf_dir):
    """Donchian channels (n=7) over daily bars — rolling extrema,
    burn-in NULLs; outputs are exact copies/midpoints of input values
    (no rounding needed)."""
    from spark_timeseries_spark.operators.indicators import donchian_channels
    from spark_timeseries_spark.operators.resample import ohlc

    obs = events_observations(spark, sf_dir)
    out = donchian_channels(ohlc(obs, "day"), n=7)
    return out.select("key", "bar_ts", "dc_upper", "dc_lower", "dc_mid")


def _q_ulcer(spark, sf_dir):
    """Ulcer index (n=7) over the filled daily grid — RMS percent
    drawdown from the rolling high."""
    from spark_timeseries_spark.operators.indicators import ulcer_index

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = ulcer_index(filled, n=7)
    return out.select(
        "key", "loc",
        _stable_round(F.col("pct_dd"), 6).alias("pct_dd"),
        _stable_round(F.col("ulcer"), 6).alias("ulcer"),
    )


def _q_rolling_sharpe(spark, sf_dir):
    """Rolling Sharpe (n=10) of daily simple returns off the filled
    grid — one lag + mean/std windows."""
    from spark_timeseries_spark.operators.indicators import rolling_sharpe

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = rolling_sharpe(filled, n=10)
    return out.select(
        "key", "loc",
        _stable_round(F.col("ret"), 6).alias("ret"),
        _stable_round(F.col("sharpe"), 6).alias("sharpe"),
    )


def _q_funnel_gap(spark, sf_dir):
    """Time-boxed funnel: each hop must land within 24 h of the
    previous completion — the conversion-window variant of the
    unbounded ``funnel`` row."""
    from spark_timeseries_spark.operators.funnel import funnel

    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        F.col("user_id").cast("string").alias("key"), "ts", "event_type"
    )
    return funnel(obs, ["view", "click", "purchase"], max_gap=86400.0)


def _q_newey_west(spark, sf_dir):
    """Newey-West HAC mean inference (L=5) per raw daily-grid series —
    one mean window + 5 lag columns on one sort + one aggregate."""
    from spark_timeseries_spark.operators.features import newey_west

    grid = _daily_grid(spark, sf_dir)
    out = newey_west(grid, lags=5)
    return out.select(
        "key", "n",
        _stable_round(F.col("mean"), 6).alias("mean"),
        _stable_round(F.col("nw_var"), 6).alias("nw_var"),
        _stable_round(F.col("nw_se"), 6).alias("nw_se"),
        _stable_round(F.col("t_stat"), 6).alias("t_stat"),
    )


def _q_ewma_chart(spark, sf_dir):
    """EWMA control chart (alpha=0.2, 3-sigma) over the filled daily
    grid — x0-seeded exact time-varying limits."""
    from spark_timeseries_spark.operators.indicators import ewma_chart

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = ewma_chart(filled, alpha=0.2, limit=3.0, max_len=31)
    return out.select(
        "key", "loc",
        _stable_round(F.col("ema"), 6).alias("ema"),
        _stable_round(F.col("center"), 6).alias("center"),
        _stable_round(F.col("ucl"), 6).alias("ucl"),
        _stable_round(F.col("lcl"), 6).alias("lcl"),
        "alarm",
    )


def _q_error_burn(spark, sf_dir):
    """Multiwindow SLO burn rate per user per hour over the raw events
    (slo=0.25, 1h/6h windows) — integer-exact fractions, all windows
    on the bucket-level aggregate."""
    from spark_timeseries_spark.operators.slo import error_burn

    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        F.col("user_id").cast("string").alias("key"), "ts", "event_type"
    )
    out = error_burn(obs, slo=0.25, short=1, long=6)
    return out.select(
        "key", "bucket", "n", "n_err",
        _stable_round(F.col("frac_short"), 6).alias("frac_short"),
        _stable_round(F.col("frac_long"), 6).alias("frac_long"),
        _stable_round(F.col("burn_short"), 6).alias("burn_short"),
        _stable_round(F.col("burn_long"), 6).alias("burn_long"),
        "alarm",
    )


def _q_prefix_dim_recall(spark, sf_dir):
    """Matryoshka truncation-recall table (dims 8/16/32/64, k=10, 16
    query vectors) — prefix-cosine exact top-k vs the full-dimension
    ground truth."""
    from spark_timeseries_spark.pipeline.similarity import prefix_dim_recall

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 16)
    out = prefix_dim_recall(emb, q, dims=[8, 16, 32, 64], k=10)
    return out.select(
        "dim", "n_queries",
        _stable_round(F.col("recall"), 6).alias("recall"),
    )


def _q_dow_profile(spark, sf_dir):
    """Day-of-week profile + eta-squared weekly strength per user over
    the raw events — the weekly twin of tod_profile."""
    from spark_timeseries_spark.operators.features import dow_profile

    obs = events_observations(spark, sf_dir)
    out = dow_profile(obs)
    return out.select(
        "key", "dow", "n",
        _stable_round(F.col("mean"), 6).alias("mean"),
        _stable_round(F.col("std"), 6).alias("std"),
        _stable_round(F.col("strength"), 6).alias("strength"),
    )


def _q_robust_location(spark, sf_dir):
    """Trimmed/winsorized means (10%) per raw daily-grid series — one
    exact-percentile aggregate, interpolated bounds."""
    from spark_timeseries_spark.operators.features import robust_location

    grid = _daily_grid(spark, sf_dir)
    out = robust_location(grid, trim=0.1)
    return out.select(
        "key", "n",
        _stable_round(F.col("mean"), 6).alias("mean"),
        _stable_round(F.col("median"), 6).alias("median"),
        _stable_round(F.col("trimmed_mean"), 6).alias("trimmed_mean"),
        _stable_round(F.col("winsorized_mean"), 6).alias("winsorized_mean"),
    )


def _q_rank_autocorr(spark, sf_dir):
    """Spearman lag-1 autocorrelation per raw daily-grid series —
    mid-ranks once, lagged, one corr aggregate."""
    from spark_timeseries_spark.operators.features import rank_autocorr

    grid = _daily_grid(spark, sf_dir)
    out = rank_autocorr(grid, lag=1)
    return out.select(
        "key", "n_pairs",
        _stable_round(F.col("rho"), 6).alias("rho"),
    )


# -- r11 additions ---------------------------------------------------------


def _q_williams_r(spark, sf_dir):
    """Williams %R(5) over each user's daily OHLC bars — two rolling
    extrema on one sort (the inverted stochastic %K)."""
    from spark_timeseries_spark.operators.indicators import williams_r
    from spark_timeseries_spark.operators.resample import ohlc

    obs = events_observations(spark, sf_dir)
    out = williams_r(ohlc(obs, "day"), n=5)
    return out.select(
        "key", "bar_ts",
        _stable_round(F.col("pct_r"), 6).alias("pct_r"),
    )


def _q_cci(spark, sf_dir):
    """CCI(7) over daily OHLC bars — window-local mean absolute
    deviation via bounded collect_list + HOF fold, all JVM."""
    from spark_timeseries_spark.operators.indicators import cci
    from spark_timeseries_spark.operators.resample import ohlc

    obs = events_observations(spark, sf_dir)
    out = cci(ohlc(obs, "day"), n=7)
    return out.select(
        "key", "bar_ts",
        _stable_round(F.col("tp"), 6).alias("tp"),
        _stable_round(F.col("cci"), 6).alias("cci"),
    )


def _q_cmo(spark, sf_dir):
    """Chande Momentum (9) on the filled daily grid — one lag + two
    window sums."""
    from spark_timeseries_spark.operators.indicators import cmo

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = cmo(filled, n=9)
    return out.select(
        "key", "loc",
        _stable_round(F.col("gain"), 6).alias("gain"),
        _stable_round(F.col("loss"), 6).alias("loss"),
        _stable_round(F.col("cmo"), 6).alias("cmo"),
    )


def _q_trix(spark, sf_dir):
    """TRIX(8) on the filled daily grid — three chained closed-form
    EMA passes + one lag on a single sort."""
    from spark_timeseries_spark.operators.indicators import trix

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = trix(filled, n=8, max_len=31)
    return out.select(
        "key", "loc",
        _stable_round(F.col("ema3"), 6).alias("ema3"),
        _stable_round(F.col("trix"), 6).alias("trix"),
    )


def _q_aroon(spark, sf_dir):
    """Aroon(7) over daily OHLC bars — struct-extrema windows with
    most-recent tie-break, burn-in NULLs."""
    from spark_timeseries_spark.operators.indicators import aroon
    from spark_timeseries_spark.operators.resample import ohlc

    obs = events_observations(spark, sf_dir)
    out = aroon(ohlc(obs, "day"), n=7)
    return out.select(
        "key", "bar_ts",
        _stable_round(F.col("aroon_up"), 6).alias("aroon_up"),
        _stable_round(F.col("aroon_down"), 6).alias("aroon_down"),
        _stable_round(F.col("aroon_osc"), 6).alias("aroon_osc"),
    )


def _q_capture_ratios(spark, sf_dir):
    """Up/down capture of daily-grid user 1 vs benchmark user 2 —
    aligned overlap returns + one conditional-sum aggregate."""
    from spark_timeseries_spark.operators.portfolio import capture_ratios

    grid = _daily_grid(spark, sf_dir)
    out = capture_ratios(grid, "1", "2")
    return out.select(
        "key_a", "key_b", "n_periods", "n_up", "n_down",
        _stable_round(F.col("up_capture"), 6).alias("up_capture"),
        _stable_round(F.col("down_capture"), 6).alias("down_capture"),
    )


def _q_active_stats(spark, sf_dir):
    """Tracking error / information ratio of daily-grid user 1 vs
    user 2 — aligned overlap returns + one aggregate."""
    from spark_timeseries_spark.operators.portfolio import active_stats

    grid = _daily_grid(spark, sf_dir)
    out = active_stats(grid, "1", "2")
    return out.select(
        "key_a", "key_b", "n_periods",
        _stable_round(F.col("mean_active"), 6).alias("mean_active"),
        _stable_round(F.col("tracking_error"), 6).alias("tracking_error"),
        _stable_round(F.col("information_ratio"), 6).alias(
            "information_ratio"
        ),
    )


def _q_robust_scale(spark, sf_dir):
    """MAD/IQR/range per raw daily-grid series — two exact-percentile
    aggregates joined on the key."""
    from spark_timeseries_spark.operators.features import robust_scale

    grid = _daily_grid(spark, sf_dir)
    out = robust_scale(grid)
    return out.select(
        "key", "n",
        _stable_round(F.col("median"), 6).alias("median"),
        _stable_round(F.col("mad"), 6).alias("mad"),
        _stable_round(F.col("iqr"), 6).alias("iqr"),
        _stable_round(F.col("vrange"), 6).alias("vrange"),
    )


def _q_gap_outages(spark, sf_dir):
    """Per-user outage profile over raw event stamps — gaps vs 3x the
    key's own median gap (scale-free feed-stop detector)."""
    from spark_timeseries_spark.operators.features import gap_outages

    obs = events_observations(spark, sf_dir)
    out = gap_outages(obs, mult=3.0)
    return out.select(
        "key", "n_gaps",
        _stable_round(F.col("median_gap"), 6).alias("median_gap"),
        _stable_round(F.col("p95_gap"), 6).alias("p95_gap"),
        _stable_round(F.col("max_gap"), 6).alias("max_gap"),
        "n_outages",
        _stable_round(F.col("outage_seconds"), 6).alias("outage_seconds"),
    )


def _q_rfm(spark, sf_dir):
    """RFM quintile segmentation over the events stream — one stream
    aggregate + ntile windows over the entity table."""
    from spark_timeseries_spark.operators.funnel import rfm_scores

    obs = events_observations(spark, sf_dir)
    out = rfm_scores(obs, buckets=5)
    return out.select(
        "key", "recency_days", "frequency",
        _stable_round(F.col("monetary"), 6).alias("monetary"),
        "r_score", "f_score", "m_score", "rfm",
    )


def _q_transition_matrix(spark, sf_dir):
    """Event-type Markov transition counts/probabilities — one lag on
    the (user, ts, event_id) sort + one groupBy."""
    from spark_timeseries_spark.operators.funnel import transition_matrix

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key"),
        "ts", "event_type", "event_id",
    )
    out = transition_matrix(ev, tiebreak_col="event_id")
    return out.select(
        "from_type", "to_type", "n",
        _stable_round(F.col("prob"), 6).alias("prob"),
    )


def _q_tod_percentiles(spark, sf_dir):
    """Hour-of-day quartile envelope per user over raw events — one
    (key, hour) exact-percentile aggregate."""
    from spark_timeseries_spark.operators.features import tod_percentiles

    obs = events_observations(spark, sf_dir)
    out = tod_percentiles(obs)
    return out.select(
        "key", "hour", "n",
        _stable_round(F.col("p25"), 6).alias("p25"),
        _stable_round(F.col("p50"), 6).alias("p50"),
        _stable_round(F.col("p75"), 6).alias("p75"),
    )


def _q_kruskal_dow(spark, sf_dir):
    """Kruskal-Wallis day-of-week test per user over raw events —
    mid-ranks + tie-corrected H, all window/aggregate JVM."""
    from spark_timeseries_spark.operators.features import kruskal_dow

    obs = events_observations(spark, sf_dir)
    out = kruskal_dow(obs)
    return out.select(
        "key", "n", "n_groups",
        _stable_round(F.col("h"), 6).alias("h"),
        _stable_round(F.col("h_adj"), 6).alias("h_adj"),
    )


def _q_acf_features(spark, sf_dir):
    """tsfeatures acf summary (lags 1..10) per raw daily-grid series —
    lag windows on one sort, array fold for the derived features."""
    from spark_timeseries_spark.operators.features import acf_features

    grid = _daily_grid(spark, sf_dir)
    out = acf_features(grid, max_lag=10)
    return out.select(
        "key", "n",
        _stable_round(F.col("acf1"), 6).alias("acf1"),
        _stable_round(F.col("sum_sq_acf"), 6).alias("sum_sq_acf"),
        "first_neg_lag",
    )


def _q_roll_entropy(spark, sf_dir):
    """Rolling Shannon entropy (7-obs window, 4 bins on the series'
    own range) over the filled daily grid — bounded list window +
    HOF fold."""
    from spark_timeseries_spark.operators.rolling import roll_entropy

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = roll_entropy(filled, n=7, bins=4)
    return out.select(
        "key", "loc", "bin",
        _stable_round(F.col("entropy"), 6).alias("entropy"),
    )


def _q_bucket_cardinality(spark, sf_dir):
    """Daily events + distinct active users (exact COUNT DISTINCT —
    the oracle form; exact=False is the HLL sketch path)."""
    from spark_timeseries_spark.operators.resample import bucket_cardinality

    obs = events_observations(spark, sf_dir)
    out = bucket_cardinality(obs, "day")
    return out.select("bucket", "n_events", "n_unique")


def _q_max_concurrency(spark, sf_dir):
    """Peak simultaneous 30-minute sessions across the whole corpus —
    gap-sessionized intervals swept +1/-1 with inclusive-end overlap."""
    from spark_timeseries_spark.operators.sessionize import (
        max_concurrency,
        session_stats,
    )

    obs = events_observations(spark, sf_dir)
    sess = session_stats(obs, gap_seconds=1800.0, value_col=None)
    out = max_concurrency(sess)
    return out.select("n_sessions", "max_concurrent", "peak_ts")



def _q_missingness(spark, sf_dir):
    """Missing-data audit (count/fraction/run shape) per raw daily-grid
    series — gaps-and-islands over the NULL indicator."""
    from spark_timeseries_spark.operators.fill import missingness_profile

    grid = _daily_grid(spark, sf_dir)
    out = missingness_profile(grid)
    return out.select(
        "key", "n_rows", "n_missing",
        _stable_round(F.col("missing_frac"), 6).alias("missing_frac"),
        "n_null_runs", "longest_null_run",
    )


def _q_seasonal_zscore(spark, sf_dir):
    """Hour-of-day peer-group z-score per raw event — one (key, hour)
    window pass, |z| > 2 anomaly flag."""
    from spark_timeseries_spark.operators.features import seasonal_zscore

    obs = events_observations(spark, sf_dir)
    out = seasonal_zscore(obs, unit="hour", thresh=2.0)
    return out.select(
        "key", "ts", "value", "pos",
        _stable_round(F.col("z"), 6).alias("z"),
        "anomaly",
    )


def _q_top_drawdowns(spark, sf_dir):
    """Three deepest drawdown spells per filled daily-grid series —
    islands + one rank window over the spell table."""
    from spark_timeseries_spark.operators.cumulative import top_drawdowns

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = top_drawdowns(filled, k=3)
    return out.select(
        "key", "spell_rank", "start_loc", "end_loc", "n_obs",
        _stable_round(F.col("depth"), 6).alias("depth"),
    )


def _q_stickiness(spark, sf_dir):
    """DAU / trailing-7-day MAU per day — contribution explode of the
    distinct (user, day) table, no rolling count-distinct."""
    from spark_timeseries_spark.operators.resample import stickiness

    obs = events_observations(spark, sf_dir)
    out = stickiness(obs, window_days=7)
    return out.select(
        "bucket", "dau", "mau",
        _stable_round(F.col("stickiness"), 6).alias("stickiness"),
    )


def _q_cohort_values(spark, sf_dir):
    """Daily cohort LTV triangle (value sums, cumulative, per-member)
    over the events — the retention plan plus one value aggregate."""
    from spark_timeseries_spark.operators.funnel import cohort_values

    ev = load_table(spark, sf_dir, "events")
    obs = ev.select(
        F.col("user_id").cast("string").alias("key"), "ts", "value"
    )
    out = cohort_values(obs, "day")
    return out.select(
        "cohort", "offset", "n_active",
        _stable_round(F.col("value_sum"), 6).alias("value_sum"),
        _stable_round(F.col("cum_value"), 6).alias("cum_value"),
        "cohort_size",
        _stable_round(F.col("cum_value_per_member"), 6).alias(
            "cum_value_per_member"
        ),
    )


def _q_attribution(spark, sf_dir):
    """First/last-touch attribution of purchases to view/click touches
    within a 3-day lookback — one range-frame window pass."""
    from spark_timeseries_spark.operators.funnel import attribution

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key"), "ts", "event_type"
    )
    out = attribution(
        ev, "purchase", ["view", "click"], lookback=3 * 86400.0
    )
    return out.select(
        "key", "conv_ts", "n_touches",
        "first_touch_ts", "first_touch_type",
        "last_touch_ts", "last_touch_type",
    )


def _q_heikin_ashi(spark, sf_dir):
    """Heikin-Ashi candles over each user's daily OHLC bars — the
    alpha=1/2 EMA splice on one sort."""
    from spark_timeseries_spark.operators.indicators import heikin_ashi
    from spark_timeseries_spark.operators.resample import ohlc

    obs = events_observations(spark, sf_dir)
    out = heikin_ashi(ohlc(obs, "day"), max_len=31)
    return out.select(
        "key", "bar_ts",
        _stable_round(F.col("ha_open"), 6).alias("ha_open"),
        _stable_round(F.col("ha_close"), 6).alias("ha_close"),
        _stable_round(F.col("ha_high"), 6).alias("ha_high"),
        _stable_round(F.col("ha_low"), 6).alias("ha_low"),
    )


def _q_embedding_outliers(spark, sf_dir):
    """Norm / centroid-cosine / outlier flag per embedding — centroid
    via one per-dimension aggregate, 1-row threshold broadcast."""
    from spark_timeseries_spark.pipeline.embeddings import embedding_outliers

    emb = load_table(spark, sf_dir, "embeddings")
    out = embedding_outliers(emb, z=2.0)
    return out.select(
        "vec_id",
        _stable_round(F.col("norm"), 6).alias("norm"),
        _stable_round(F.col("cos_centroid"), 6).alias("cos_centroid"),
        "is_outlier",
    )


def _q_bursts(spark, sf_dir):
    """Kleinberg two-state burst labels per user event gap — grouped-map
    Viterbi under the quantized-cost determinism contract; the oracle
    replays the recursion with forward/backward recursive CTEs (the
    kalman/bocpd technique)."""
    from spark_timeseries_spark.operators.bursts import kleinberg_bursts

    obs = events_observations(spark, sf_dir)
    out = kleinberg_bursts(obs.select("key", "ts"), s=2.0, gamma=1.0)
    return out.select(
        "key", "ts",
        _stable_round(F.col("gap_seconds"), 6).alias("gap_seconds"),
        "state",
    )


def _q_wma(spark, sf_dir):
    """Linearly-weighted moving average (7) on the filled daily grid —
    indexed-HOF fold over the bounded window buffer."""
    from spark_timeseries_spark.operators.indicators import wma

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(fill_ops.fill_previous(fill_ops.fill_linear(grid)))
    out = wma(filled, n=7)
    return out.select(
        "key", "loc",
        _stable_round(F.col("wma"), 6).alias("wma"),
    )


def _q_mix_drift(spark, sf_dir):
    """Daily event-type-mix chi-square vs the corpus mix — one
    (bucket, cat) aggregate + a broadcast share table."""
    from spark_timeseries_spark.pipeline.drift import mix_drift

    ev = load_table(spark, sf_dir, "events")
    out = mix_drift(ev, "day")
    return out.select(
        "bucket", "n", "n_cats",
        _stable_round(F.col("chi2"), 6).alias("chi2"),
    )


def _q_dup_cluster_stats(spark, sf_dir):
    """Corpus dedup health report over the 3-gram-Jaccard components —
    byte-identical pipeline to ``dedup_components``, then the one-row
    cluster summary."""
    from spark_timeseries_spark.pipeline import dedup as dd
    from spark_timeseries_spark.pipeline.dedup import dup_cluster_stats

    docs = _docs_spread(spark, sf_dir)
    sigs = docs.select(
        "doc_id",
        F.transform(
            dd.shingles("text", 3), lambda s: F.xxhash64(s)
        ).alias("hs"),
    ).persist()
    sh = sigs.select("doc_id", F.explode("hs").alias("sh"))
    sizes = sigs.select("doc_id", F.size("hs").alias("n"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
        .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
        .where(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")) >= 0.2)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    sigs.unpersist()
    comps = dd.connected_components(pairs)
    out = dup_cluster_stats(
        docs, comps.withColumnRenamed("id", "doc_id")
    )
    return out.select(
        "n_docs", "n_clustered", "n_clusters", "n_removable",
        _stable_round(F.col("dup_frac"), 6).alias("dup_frac"),
        "max_cluster",
        _stable_round(F.col("mean_cluster"), 6).alias("mean_cluster"),
    )


def _q_jarque_bera(spark, sf_dir):
    """Jarque-Bera normality test per user over raw events — one mean
    window + one centered-power-sum aggregate, closed-form χ²₂ p."""
    from spark_timeseries_spark.operators.hypothesis import jarque_bera

    obs = events_observations(spark, sf_dir)
    out = jarque_bera(obs)
    return out.select(
        "key", "n",
        _stable_round(F.col("skew"), 6).alias("skew"),
        _stable_round(F.col("kurt"), 6).alias("kurt"),
        _stable_round(F.col("jb"), 6).alias("jb"),
        _stable_round(F.col("p_value"), 6).alias("p_value"),
    )


def _q_mann_whitney(spark, sf_dir):
    """Mann-Whitney U first-half-vs-second-half location test per user
    — pooled mid-ranks, tie-corrected continuity-corrected z."""
    from spark_timeseries_spark.operators.hypothesis import (
        mann_whitney_halves,
    )

    obs = events_observations(spark, sf_dir)
    out = mann_whitney_halves(obs)
    return out.select(
        "key", "n1", "n2",
        _stable_round(F.col("u1"), 6).alias("u1"),
        _stable_round(F.col("z"), 6).alias("z"),
    )


def _q_brown_forsythe(spark, sf_dir):
    """Brown-Forsythe day-of-week variance-homogeneity F per user —
    exact group-median window + two aggregates."""
    from spark_timeseries_spark.operators.hypothesis import (
        brown_forsythe_dow,
    )

    obs = events_observations(spark, sf_dir)
    out = brown_forsythe_dow(obs)
    return out.select(
        "key", "n", "n_groups", "df1", "df2",
        _stable_round(F.col("f_stat"), 6).alias("f_stat"),
    )


def _q_downside_stats(spark, sf_dir):
    """Sortino / Omega / win-rate per daily-grid series — one lag
    window + one conditional-sum aggregate."""
    from spark_timeseries_spark.operators.portfolio import downside_stats

    grid = _daily_grid(spark, sf_dir)
    out = downside_stats(grid)
    return out.select(
        "key", "n",
        _stable_round(F.col("mean_ret"), 6).alias("mean_ret"),
        _stable_round(F.col("downside_dev"), 6).alias("downside_dev"),
        _stable_round(F.col("sortino"), 6).alias("sortino"),
        _stable_round(F.col("omega"), 6).alias("omega"),
        _stable_round(F.col("win_rate"), 6).alias("win_rate"),
    )


def _q_roll_slope(spark, sf_dir):
    """Rolling 7-day OLS trend (slope/intercept/r²) per filled daily
    series — one window pass, covar/var share the frame."""
    from spark_timeseries_spark.operators import fill as fill_ops
    from spark_timeseries_spark.operators.rolling import roll_slope

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(
        fill_ops.fill_previous(fill_ops.fill_linear(grid))
    )
    out = roll_slope(filled, 7)
    return out.select(
        "key", "loc",
        _stable_round(F.col("slope"), 6).alias("slope"),
        _stable_round(F.col("intercept"), 6).alias("intercept"),
        _stable_round(F.col("r2"), 6).alias("r2"),
    )


def _q_spc_rules(spark, sf_dir):
    """Western Electric run-rule alarms per user over raw events —
    phase-I center/σ̂, three counting frames on one sort; only rows
    where at least one rule fires are returned."""
    from spark_timeseries_spark.operators.indicators import spc_rules

    obs = events_observations(spark, sf_dir)
    out = spc_rules(obs, order_col="ts")
    fired = (
        F.coalesce(F.col("rule1"), F.lit(False))
        | F.coalesce(F.col("rule2"), F.lit(False))
        | F.coalesce(F.col("rule3"), F.lit(False))
        | F.coalesce(F.col("rule4"), F.lit(False))
    )
    return out.where(fired).select(
        "key", "ts",
        _stable_round(F.col("z"), 6).alias("z"),
        F.col("rule1").cast("int").alias("rule1"),
        F.col("rule2").cast("int").alias("rule2"),
        F.col("rule3").cast("int").alias("rule3"),
        F.col("rule4").cast("int").alias("rule4"),
    )


def _q_edit_dist_pairs(spark, sf_dir):
    """Levenshtein verification of the 3-gram-Jaccard candidate pairs —
    the character-level near-dup score next to the set-level one."""
    from spark_timeseries_spark.pipeline import dedup as dd
    from spark_timeseries_spark.pipeline.dedup import edit_verify

    docs = _docs_spread(spark, sf_dir)
    pairs = _q_ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    out = edit_verify(docs, pairs)
    return out.select(
        "id_a", "id_b", "lev",
        _stable_round(F.col("edit_sim"), 6).alias("edit_sim"),
    )


def _q_code_detect(spark, sf_dir):
    """Structural code-vs-prose detector over documents — one
    row-local projection, no shuffle."""
    from spark_timeseries_spark.pipeline.text import code_features

    docs = load_table(spark, sf_dir, "documents")
    out = code_features(docs)
    return out.select(
        "doc_id", "n_lines",
        _stable_round(F.col("indent_ratio"), 6).alias("indent_ratio"),
        _stable_round(F.col("eol_ratio"), 6).alias("eol_ratio"),
        _stable_round(F.col("symbol_ratio"), 6).alias("symbol_ratio"),
        "kw_hits",
        _stable_round(F.col("code_score"), 6).alias("code_score"),
        F.col("is_code").cast("int").alias("is_code"),
    )


def _q_esd_outliers(spark, sf_dir):
    """Generalized ESD (k=5) per user over raw events — grouped-map
    masking-proof removal loop, recursive-CTE oracle."""
    from spark_timeseries_spark.operators.outliers import esd_outliers

    obs = events_observations(spark, sf_dir)
    out = esd_outliers(obs, k=5)
    return out.select(
        "key", "iter", "ts", "value",
        _stable_round(F.col("r_stat"), 6).alias("r_stat"),
    )


def _q_dtw_pair(spark, sf_dir):
    """DTW distance between daily-grid users 1 and 2 (unbanded) — the
    bounded two-series grouped-map kernel; the oracle replays the DP
    cell-per-step in a recursive CTE (carrying the last m+2 cells)."""
    from spark_timeseries_spark.operators.dtw import dtw_distance

    grid = _daily_grid(spark, sf_dir)
    out = dtw_distance(grid, "1", "2")
    return out.select(
        "key_a", "key_b", "n_a", "n_b",
        _stable_round(F.col("dtw"), 6).alias("dtw"),
    )


def _q_pairs_spread(spark, sf_dir):
    """OLS hedge-ratio spread + z-score of daily-grid users 1 vs 2 —
    one equi-join + full-overlap windows (bounded pair envelope)."""
    from spark_timeseries_spark.operators.portfolio import pairs_spread

    grid = _daily_grid(spark, sf_dir)
    out = pairs_spread(grid, "1", "2")
    return out.select(
        "key_a", "key_b", "loc",
        _stable_round(F.col("beta"), 6).alias("beta"),
        _stable_round(F.col("spread"), 6).alias("spread"),
        _stable_round(F.col("z"), 6).alias("z"),
    )


def _q_tail_dependence(spark, sf_dir):
    """Empirical upper-tail dependence (q=0.8) of daily-grid users 1
    vs 2 — exact percentiles + one conditional count."""
    from spark_timeseries_spark.operators.portfolio import tail_dependence

    grid = _daily_grid(spark, sf_dir)
    out = tail_dependence(grid, "1", "2", q=0.8)
    return out.select(
        "key_a", "key_b", "q", "n",
        _stable_round(F.col("thresh_a"), 6).alias("thresh_a"),
        _stable_round(F.col("thresh_b"), 6).alias("thresh_b"),
        "n_joint",
        _stable_round(F.col("lambda_u"), 6).alias("lambda_u"),
        _stable_round(F.col("lift"), 6).alias("lift"),
    )


def _q_transition_entropy(spark, sf_dir):
    """First-order entropy rate of 4-bin discretized events per user —
    rank+lag windows, three-level counting aggregate, all JVM."""
    from spark_timeseries_spark.operators.features import (
        transition_entropy,
    )

    obs = events_observations(spark, sf_dir)
    out = transition_entropy(obs, bins=4, loc_col="ts")
    return out.select(
        "key", "bins", "n_trans",
        _stable_round(F.col("h_marginal"), 6).alias("h_marginal"),
        _stable_round(F.col("h_cond"), 6).alias("h_cond"),
        _stable_round(F.col("predictability"), 6).alias("predictability"),
    )


def _q_reliability(spark, sf_dir):
    """Calibration audit of the heuristic quality score against the
    is-English label — decile reliability bins + ECE."""
    from spark_timeseries_spark.pipeline.classifier import reliability_bins
    from spark_timeseries_spark.pipeline.text import quality_score_col

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        quality_score_col("text").alias("score"),
        (F.col("lang") == "en").alias("is_en"),
    )
    out = reliability_bins(scored, "score", "is_en", bins=10)
    return out.select(
        "bin", "n",
        _stable_round(F.col("w"), 6).alias("w"),
        _stable_round(F.col("mean_score"), 6).alias("mean_score"),
        _stable_round(F.col("pos_rate"), 6).alias("pos_rate"),
        _stable_round(F.col("gap"), 6).alias("gap"),
        _stable_round(F.col("ece"), 6).alias("ece"),
    )


def _q_spectral_residual(spark, sf_dir):
    """Ren-et-al spectral-residual saliency over the filled daily grid
    (q=3) — two DFT explodes + one k-window, exactly SQL-replayable."""
    from spark_timeseries_spark.operators import fill as fill_ops
    from spark_timeseries_spark.operators.spectral import spectral_residual

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(
        fill_ops.fill_previous(fill_ops.fill_linear(grid))
    )
    out = spectral_residual(filled, q=3)
    return out.select(
        "key", "loc",
        _stable_round(F.col("saliency"), 6).alias("saliency"),
        _stable_round(F.col("sal_z"), 6).alias("sal_z"),
    )


def _q_kendall_w(spark, sf_dir):
    """Kendall's W concordance of all filled daily series — one
    completeness pass, per-series mid-ranks, two aggregates."""
    from spark_timeseries_spark.operators.crosssection import kendall_w
    from spark_timeseries_spark.operators import fill as fill_ops

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(
        fill_ops.fill_previous(fill_ops.fill_linear(grid))
    )
    out = kendall_w(filled)
    return out.select(
        "k", "n", _stable_round(F.col("w"), 6).alias("w")
    )


def _q_cronbach_alpha(spark, sf_dir):
    """Cronbach's alpha of the filled daily panel — per-series
    variances vs the summed series' variance, two tiny aggregates."""
    from spark_timeseries_spark.operators.crosssection import (
        cronbach_alpha,
    )
    from spark_timeseries_spark.operators import fill as fill_ops

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(
        fill_ops.fill_previous(fill_ops.fill_linear(grid))
    )
    out = cronbach_alpha(filled)
    return out.select(
        "k", "n", _stable_round(F.col("alpha"), 6).alias("alpha")
    )


def _q_powerlaw_alpha(spark, sf_dir):
    """CSN power-law tail MLE per user over positive event values
    (top-quartile tail) — one exact-percentile window + one aggregate."""
    from spark_timeseries_spark.operators.features import powerlaw_alpha

    obs = events_observations(spark, sf_dir)
    out = powerlaw_alpha(obs, tail_frac=0.25)
    return out.select(
        "key",
        _stable_round(F.col("xmin"), 6).alias("xmin"),
        "n_tail",
        _stable_round(F.col("alpha"), 6).alias("alpha"),
        _stable_round(F.col("se"), 6).alias("se"),
    )


def _q_wasserstein(spark, sf_dir):
    """Exact W1 distance between each user's first/second event halves
    — value-ordered cumulative CDF windows, no binning."""
    from spark_timeseries_spark.pipeline.drift import wasserstein_halves

    obs = events_observations(spark, sf_dir)
    out = wasserstein_halves(obs)
    return out.select(
        "key", "n1", "n2",
        _stable_round(F.col("w1"), 6).alias("w1"),
        _stable_round(F.col("w1_norm"), 6).alias("w1_norm"),
    )


def _q_dedup_sweep(spark, sf_dir):
    """Dedup threshold-sweep curve over the 3-gram-Jaccard candidate
    pairs — explode x thresholds, one groupBy."""
    from spark_timeseries_spark.pipeline.dedup import dedup_sweep

    pairs = _q_ngram_jaccard_pairs(spark, sf_dir)
    ndocs = _docs_spread(spark, sf_dir).agg(
        F.count("doc_id").alias("n")
    )
    out = dedup_sweep(pairs, ndocs)
    return out.select(
        "threshold", "n_pairs", "n_docs_flagged",
        _stable_round(F.col("flagged_frac"), 6).alias("flagged_frac"),
    )


def _q_quality_token_curve(spark, sf_dir):
    """Token-budget curve by quality decile — one global (score, id)
    sort + cumulative token window."""
    from spark_timeseries_spark.pipeline.text import quality_token_curve

    docs = load_table(spark, sf_dir, "documents")
    out = quality_token_curve(docs)
    return out.select(
        "decile", "n_docs",
        _stable_round(F.col("score_floor"), 6).alias("score_floor"),
        "cum_tokens",
        _stable_round(F.col("token_frac"), 6).alias("token_frac"),
    )


def _q_source_rank_gap(spark, sf_dir):
    """Rank-sum z of each source's quality scores vs the rest of the
    corpus — the distribution-free 'which source drags quality'."""
    from spark_timeseries_spark.pipeline.drift import group_rank_gap
    from spark_timeseries_spark.pipeline.text import quality_score_col

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source", quality_score_col("text").alias("q")
    )
    out = group_rank_gap(scored, "q")
    return out.select(
        "source", "n",
        _stable_round(F.col("mean_value"), 6).alias("mean_value"),
        _stable_round(F.col("u1"), 6).alias("u1"),
        _stable_round(F.col("z"), 6).alias("z"),
    )


def _q_record_stats(spark, sf_dir):
    """Running-record counts vs the i.i.d. 1/k law per user — one
    window pass, H_n as a sum of reciprocal row numbers."""
    from spark_timeseries_spark.operators.features import record_stats

    obs = events_observations(spark, sf_dir)
    out = record_stats(obs, loc_col="ts")
    return out.select(
        "key", "n", "n_records",
        _stable_round(F.col("expected_records"), 6).alias(
            "expected_records"
        ),
        _stable_round(F.col("record_ratio"), 6).alias("record_ratio"),
        F.col("last_record_loc").alias("last_record_ts"),
    )


def _q_lead_lag(spark, sf_dir):
    """Best lead-lag alignment of daily-grid users 1 vs 2 over
    lags [-7, 7] — two crosscorr passes + one struct-max."""
    from spark_timeseries_spark.operators.rolling import lead_lag

    grid = _daily_grid(spark, sf_dir)
    out = lead_lag(grid, "1", "2", 7, tie_digits=6)
    return out.select(
        "key_a", "key_b", "best_lag",
        _stable_round(F.col("ccf"), 6).alias("ccf"),
    )


def _q_allan_variance(spark, sf_dir):
    """Allan variance at scales 2/4/8 days over the filled daily grid —
    explode x taus, block aggregate, adjacency-checked lag."""
    from spark_timeseries_spark.operators import fill as fill_ops
    from spark_timeseries_spark.operators.features import allan_variance

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(
        fill_ops.fill_previous(fill_ops.fill_linear(grid))
    )
    out = allan_variance(filled)
    return out.select(
        "key", "tau", "n_blocks", "n_pairs",
        _stable_round(F.col("avar"), 6).alias("avar"),
        _stable_round(F.col("adev"), 6).alias("adev"),
    )


def _q_ma_cross(spark, sf_dir):
    """Golden/death-cross events (SMA 3/7) over the filled daily grid
    — two frames + one lag on a single sort, events-only output."""
    from spark_timeseries_spark.operators import fill as fill_ops
    from spark_timeseries_spark.operators.indicators import ma_cross

    grid = _daily_grid(spark, sf_dir)
    filled = fill_ops.fill_next(
        fill_ops.fill_previous(fill_ops.fill_linear(grid))
    )
    out = ma_cross(filled, fast=3, slow=7)
    return out.select(
        "key", "loc",
        _stable_round(F.col("value"), 6).alias("value"),
        _stable_round(F.col("fast_ma"), 6).alias("fast_ma"),
        _stable_round(F.col("slow_ma"), 6).alias("slow_ma"),
        "signal",
    )


def _q_circadian_stats(spark, sf_dir):
    """Circular time-of-day statistics per user — trig aggregate +
    hour-histogram struct-max, midnight-wrap-proof mean hour."""
    from spark_timeseries_spark.operators.features import circadian_stats

    obs = events_observations(spark, sf_dir)
    out = circadian_stats(obs)
    return out.select(
        "key", "n",
        _stable_round(F.col("mean_hour"), 6).alias("mean_hour"),
        _stable_round(F.col("resultant"), 6).alias("resultant"),
        _stable_round(F.col("circ_var"), 6).alias("circ_var"),
        _stable_round(F.col("peak_ratio"), 6).alias("peak_ratio"),
    )


def _q_conformal_interval(spark, sf_dir):
    """Split-conformal naive-forecast interval per user (alpha=0.1) —
    distribution-free coverage, order-statistic quantile."""
    from spark_timeseries_spark.models.baselines import conformal_interval

    obs = events_observations(spark, sf_dir)
    out = conformal_interval(obs, alpha=0.1, period=1, loc_col="ts")
    return out.select(
        "key", "n_cal",
        _stable_round(F.col("pred"), 6).alias("pred"),
        _stable_round(F.col("actual"), 6).alias("actual"),
        _stable_round(F.col("qhat"), 6).alias("qhat"),
        _stable_round(F.col("lo"), 6).alias("lo"),
        _stable_round(F.col("hi"), 6).alias("hi"),
        F.col("covered").cast("int").alias("covered"),
    )


def _q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival of signup→purchase conversion time (hour
    grid, horizon-censored) — groupBy + bounded global duration-grid
    windows."""
    from spark_timeseries_spark.operators.survival import (
        kaplan_meier,
        time_to_event,
    )

    ev = load_table(spark, sf_dir, "events")
    tte = time_to_event(ev, "signup", "purchase", unit_seconds=3600.0)
    binned = tte.select(
        F.ceil(F.col("duration")).cast("long").alias("duration"), "event"
    )
    out = kaplan_meier(binned)
    return out.select(
        "duration", "n_risk", "n_events", "n_censored",
        _stable_round(F.col("survival"), 6).alias("survival"),
    )


def _q_haar_energy(spark, sf_dir):
    """Haar wavelet energy spectrum (levels 1-4) per user over the
    daily grid — one explode + one (key, level, block) aggregate; the
    multi-resolution companion of the periodogram rows."""
    from spark_timeseries_spark.operators.wavelet import haar_energy

    grid = _daily_grid(spark, sf_dir)
    out = haar_energy(grid, levels=4, order_col="loc")
    return out.select(
        "key", "level", "n_coeffs",
        _stable_round(F.col("energy"), 6).alias("energy"),
        _stable_round(F.col("energy_frac"), 6).alias("energy_frac"),
    )


def _q_compression_ratio(spark, sf_dir):
    """zlib compressibility quality signal per document (Gopher rule
    family) — row-local Arrow-batched pandas UDF; DEFLATE has no SQL
    replay, so this row is the driver's rows-only check (pytest holds
    the exact zlib parity)."""
    from spark_timeseries_spark.pipeline.text import compression_ratio

    docs = load_table(spark, sf_dir, "documents")
    out = compression_ratio(docs)
    return out.select(
        "doc_id", "raw_bytes", "zlib_bytes",
        _stable_round(F.col("compression_ratio"), 6).alias(
            "compression_ratio"
        ),
    )


def _q_mutual_information(spark, sf_dir):
    """Median-binarized mutual information (+ NMI) between daily-grid
    users 1 and 2 — the symmetric sibling of transfer_entropy, same
    integer-count algebra."""
    from spark_timeseries_spark.operators.infotheory import (
        mutual_information,
    )

    grid = _daily_grid(spark, sf_dir)
    out = mutual_information(grid, "1", "2", order_col="loc")
    return out.select(
        "key_a", "key_b", "n",
        _stable_round(F.col("mi"), 6).alias("mi"),
        _stable_round(F.col("nmi"), 6).alias("nmi"),
    )


def _q_transfer_entropy(spark, sf_dir):
    """Median-binarized transfer entropy between daily-grid users 1
    and 2 (both directions + net) — integer triple counts, the
    two-named-series bounded envelope."""
    from spark_timeseries_spark.operators.infotheory import (
        transfer_entropy,
    )

    grid = _daily_grid(spark, sf_dir)
    out = transfer_entropy(grid, "1", "2", order_col="loc")
    return out.select(
        "key_a", "key_b", "n",
        _stable_round(F.col("te_ab"), 6).alias("te_ab"),
        _stable_round(F.col("te_ba"), 6).alias("te_ba"),
        _stable_round(F.col("net"), 6).alias("net"),
    )


def _q_k_anonymity(spark, sf_dir):
    """k-anonymity audit (k=10) of the documents (lang, source)
    quasi-identifier grid — one combinable groupBy."""
    from spark_timeseries_spark.pipeline.clean import k_anonymity

    docs = load_table(spark, sf_dir, "documents")
    out = k_anonymity(docs, ["lang", "source"], k=10)
    return out.select("lang", "source", "n", "anonymous")


def _q_profile_columns(spark, sf_dir):
    """Column-profiling audit of events (user_id, event_type, value)
    — one scan, exact distincts, k-row unpivot."""
    from spark_timeseries_spark.pipeline.clean import profile_columns

    ev = load_table(spark, sf_dir, "events")
    out = profile_columns(ev, ["user_id", "event_type", "value"])
    return out.select(
        "column", "n", "n_null",
        _stable_round(F.col("null_frac"), 6).alias("null_frac"),
        "n_distinct", "min_val", "max_val",
    )


def _q_pagerank(spark, sf_dir):
    """Duplicate-centrality PageRank (5 fixed-point iterations) over
    the 3-gram-Jaccard near-dup graph — all-integer arithmetic makes
    every iteration bit-identical across engines (pipeline/graph.py
    determinism contract); the oracle unrolls the power iterations."""
    from spark_timeseries_spark.pipeline.graph import pagerank

    pairs = _q_ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    out = pagerank(pairs, iters=5)
    return out.select("id", "pr_int", "pr")


def _q_dedup_canonical(spark, sf_dir):
    """Quality-based survivor per 3-gram-Jaccard duplicate cluster
    (keep the longest document) — the dedup_components pipeline + one
    left join + one per-component rank window."""
    from spark_timeseries_spark.pipeline import dedup as dd
    from spark_timeseries_spark.pipeline.dedup import select_canonical

    docs = _docs_spread(spark, sf_dir)
    sigs = docs.select(
        "doc_id",
        F.transform(
            dd.shingles("text", 3), lambda s: F.xxhash64(s)
        ).alias("hs"),
    ).persist()
    sh = sigs.select("doc_id", F.explode("hs").alias("sh"))
    sizes = sigs.select("doc_id", F.size("hs").alias("n"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
        .join(sizes.withColumnsRenamed({"doc_id": "id_a", "n": "na"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc_id": "id_b", "n": "nb"}), "id_b")
        .where(
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
            >= 0.2
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    sigs.unpersist()
    out = select_canonical(docs, pairs, F.col("n_chars"))
    return out.select(
        "doc_id", "component", "quality", "canonical_id", "is_canonical"
    )


def _q_source_dup_matrix(spark, sf_dir):
    """Cross-source near-dup traffic matrix over the exact 3-gram
    Jaccard pairs — two id-joins on the bounded pair table + one
    source-grid aggregate."""
    from spark_timeseries_spark.pipeline.dedup import source_dup_matrix

    pairs = _q_ngram_jaccard_pairs(spark, sf_dir)
    docs = _docs_spread(spark, sf_dir)
    out = source_dup_matrix(pairs, docs)
    return out.select(
        "source_a", "source_b", "n_pairs",
        _stable_round(F.col("avg_sim"), 6).alias("avg_sim"),
    )


def _q_silhouette(spark, sf_dir):
    """Simplified (centroid-based) silhouette under the shared k=8
    Lloyd model — broadcast crossJoin + rank window; O(n*k), the only
    silhouette that scales."""
    from spark_timeseries_spark.pipeline.clustering import (
        silhouette_simplified,
    )

    emb, model = _kmeans_model(spark, sf_dir)
    out = silhouette_simplified(emb, model)
    return out.select(
        "vec_id", "cid",
        _stable_round(F.col("a_dist"), 6).alias("a_dist"),
        _stable_round(F.col("b_dist"), 6).alias("b_dist"),
        _stable_round(F.col("silhouette"), 6).alias("silhouette"),
    )


def _q_ndcg(spark, sf_dir):
    """NDCG@5 of the hyperplane-LSH ranking against exact brute-force
    cosine — the position-aware companion of lsh_recall (same exact and
    approx sides, graded gains)."""
    from spark_timeseries_spark.pipeline.similarity import ndcg_at_k

    exact = _q_knn_cosine(spark, sf_dir).select("qid", "vec_id", "rank")
    approx = _q_lsh_topk(spark, sf_dir).select("qid", "vec_id", "rank")
    out = ndcg_at_k(exact, approx, k=5)
    return out.select(
        "qid", "hits",
        _stable_round(F.col("dcg"), 6).alias("dcg"),
        _stable_round(F.col("ndcg"), 6).alias("ndcg"),
    )


def _q_mrr(spark, sf_dir):
    """MRR@5 of the hyperplane-LSH ranking against exact brute-force
    cosine — first-relevant-hit position per query (the third leg of
    the ANN eval triad: recall = set overlap, ndcg = graded list
    quality, mrr = time-to-first-good)."""
    from spark_timeseries_spark.pipeline.similarity import mrr_at_k

    exact = _q_knn_cosine(spark, sf_dir).select("qid", "vec_id", "rank")
    approx = _q_lsh_topk(spark, sf_dir).select("qid", "vec_id", "rank")
    out = mrr_at_k(exact, approx, k=5)
    return out.select(
        "qid", "first_rank",
        _stable_round(F.col("rr"), 6).alias("rr"),
    )


def _q_cramers_v(spark, sf_dir):
    """Cramér's V association between document language and source —
    one groupBy(lang, source) contingency pass, margins and chi-square
    on the bounded cell table; Bergsma-corrected V alongside."""
    from spark_timeseries_spark.operators.hypothesis import cramers_v

    docs = load_table(spark, sf_dir, "documents")
    out = cramers_v(docs, "lang", "source")
    return out.select(
        "n", "r", "c",
        _stable_round(F.col("chi2"), 6).alias("chi2"),
        "dof",
        _stable_round(F.col("v"), 6).alias("v"),
        _stable_round(F.col("v_corrected"), 6).alias("v_corrected"),
    )


def _q_cohens_d(spark, sf_dir):
    """Cohen's d / Hedges' g effect size of event value between the
    user_id-parity variants — one combinable groupBy + a 2-row reduce;
    the experiment readout on the scale power calculations consume."""
    from spark_timeseries_spark.operators.experiment import cohens_d

    ev = load_table(spark, sf_dir, "events")
    tbl = ev.select(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("variant"),
        "value",
    )
    out = cohens_d(tbl)
    return out.select(
        "n1", "n2",
        _stable_round(F.col("mean1"), 6).alias("mean1"),
        _stable_round(F.col("mean2"), 6).alias("mean2"),
        _stable_round(F.col("sd_pooled"), 6).alias("sd_pooled"),
        _stable_round(F.col("d"), 8).alias("d"),
        _stable_round(F.col("g"), 8).alias("g"),
        _stable_round(F.col("se"), 8).alias("se"),
        _stable_round(F.col("ci_lo"), 8).alias("ci_lo"),
        _stable_round(F.col("ci_hi"), 8).alias("ci_hi"),
    )


def _q_welch_t(spark, sf_dir):
    """Welch's unequal-variance t of event value between the user_id
    parity groups — one combinable groupBy + a 2-row reduce;
    Satterthwaite df emitted for the downstream t-table compare."""
    from spark_timeseries_spark.operators.hypothesis import welch_t

    ev = load_table(spark, sf_dir, "events")
    tbl = ev.select(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("grp"),
        "value",
    )
    out = welch_t(tbl, group_col="grp")
    return out.select(
        "n1", "n2",
        _stable_round(F.col("mean1"), 6).alias("mean1"),
        _stable_round(F.col("mean2"), 6).alias("mean2"),
        _stable_round(F.col("t_stat"), 8).alias("t_stat"),
        _stable_round(F.col("df"), 4).alias("df"),
    )


def _q_mcnemar(spark, sf_dir):
    """McNemar's paired test: per user, purchased-in-first-half vs
    purchased-in-second-half of the log (global time midpoint) — the
    discordant-cell chi-square with continuity correction."""
    from spark_timeseries_spark.operators.hypothesis import mcnemar

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    mid = F.broadcast(
        ev.select(
            ((F.min(us) + F.max(us)) / F.lit(2.0)).alias("_mid")
        )
    )
    per = ev.crossJoin(mid).groupBy(F.col("user_id").alias("key")).agg(
        F.max(
            (
                (F.col("event_type") == "purchase") & (us < F.col("_mid"))
            ).cast("int")
        ).alias("before"),
        F.max(
            (
                (F.col("event_type") == "purchase") & (us >= F.col("_mid"))
            ).cast("int")
        ).alias("after"),
    )
    out = mcnemar(per)
    return out.select(
        "n", "n00", "n01", "n10", "n11",
        _stable_round(F.col("chi2"), 6).alias("chi2"),
        "reject_05",
    )


def _q_wilcoxon_signed(spark, sf_dir):
    """Wilcoxon signed-rank on per-user paired differences (second-half
    mean event value minus first-half, global time midpoint) — global
    mid-rank over the bounded per-user diff table + one reduce."""
    from spark_timeseries_spark.operators.hypothesis import (
        wilcoxon_signed,
    )

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    mid = F.broadcast(
        ev.select(
            ((F.min(us) + F.max(us)) / F.lit(2.0)).alias("_mid")
        )
    )
    per = (
        ev.where(F.col("value").isNotNull())
        .crossJoin(mid)
        .groupBy(F.col("user_id").alias("key"))
        .agg(
            F.avg(
                F.when(us < F.col("_mid"), F.col("value"))
            ).alias("_pre"),
            F.avg(
                F.when(us >= F.col("_mid"), F.col("value"))
            ).alias("_post"),
        )
        .where(F.col("_pre").isNotNull() & F.col("_post").isNotNull())
        .select((F.col("_post") - F.col("_pre")).alias("diff"))
    )
    out = wilcoxon_signed(per)
    return out.select(
        "n", "n_zero",
        _stable_round(F.col("w_plus"), 6).alias("w_plus"),
        _stable_round(F.col("w_minus"), 6).alias("w_minus"),
        _stable_round(F.col("z"), 8).alias("z"),
    )


def _q_odds_ratio(spark, sf_dir):
    """Odds ratio + relative risk (Woolf / Katz log CIs) of a document
    being English given an even-numbered source — the 2x2 effect-scale
    readout; one four-cell aggregate."""
    from spark_timeseries_spark.operators.experiment import odds_ratio

    docs = load_table(spark, sf_dir, "documents")
    out = odds_ratio(
        docs,
        exposed=F.regexp_extract(F.col("source"), r"(\d+)", 1)
        .cast("int") % 2 == 0,
        outcome=F.col("lang") == "en",
    )
    return out.select(
        "n", "n11", "n10", "n01", "n00",
        _stable_round(F.col("odds_ratio"), 6).alias("odds_ratio"),
        _stable_round(F.col("or_ci_lo"), 6).alias("or_ci_lo"),
        _stable_round(F.col("or_ci_hi"), 6).alias("or_ci_hi"),
        _stable_round(F.col("relative_risk"), 6).alias("relative_risk"),
        _stable_round(F.col("rr_ci_lo"), 6).alias("rr_ci_lo"),
        _stable_round(F.col("rr_ci_hi"), 6).alias("rr_ci_hi"),
    )


def _q_friedman(spark, sf_dir):
    """Friedman rank test: do the event types shift value across
    matched users (blocks = users with all 5 types, treatments =
    event_type, cell = per-(user, type) mean value) — within-block
    mid-ranks, tie-corrected Q vs chi-square."""
    from spark_timeseries_spark.operators.hypothesis import friedman

    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            F.col("user_id").alias("block"),
            F.col("event_type").alias("treatment"),
        )
        .agg(F.avg("value").alias("value"))
    )
    out = friedman(cells)
    return out.select(
        "n_blocks", "k",
        _stable_round(F.col("q"), 6).alias("q"),
        "df",
        _stable_round(F.col("crit_05"), 6).alias("crit_05"),
        "reject_05",
    )


def _q_chow(spark, sf_dir):
    """Chow structural-break F at the log's time midpoint for the
    global value-on-time regression — three moment sets in ONE
    aggregate pass, SSE from moments (no residual materialization)."""
    from spark_timeseries_spark.operators.hypothesis import chow

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    mid = F.broadcast(
        ev.select(
            ((F.min(us) + F.max(us)) / F.lit(2.0)).alias("_mid"),
            F.min(us).alias("_mn"),
        )
    )
    # x is hours SINCE LOG START, not raw epoch hours: the moment-based
    # SSE cancels mxx against mx^2, and a ~5e5-magnitude x would burn
    # ~7 significant digits in that subtraction (the jarque_bera
    # centered-moment lesson) — centering keeps the oracle bit-stable
    pts = ev.crossJoin(mid).select(
        (us < F.col("_mid")).alias("pre"),
        ((us - F.col("_mn")).cast("double") / F.lit(3.6e9)).alias("x"),
        F.col("value").alias("y"),
    )
    out = chow(pts, split=F.col("pre"))
    return out.select(
        "n1", "n2",
        _stable_round(F.col("ssr_pooled"), 4).alias("ssr_pooled"),
        _stable_round(F.col("ssr1"), 4).alias("ssr1"),
        _stable_round(F.col("ssr2"), 4).alias("ssr2"),
        _stable_round(F.col("f_stat"), 6).alias("f_stat"),
        "df1", "df2",
    )


def _q_l_diversity(spark, sf_dir):
    """Entropy l-diversity audit of document language groups against
    the source attribute (l = 3) — the homogeneity-attack companion of
    the k_anonymity gate; two combinable aggregates on one key
    prefix."""
    from spark_timeseries_spark.pipeline.clean import l_diversity

    docs = load_table(spark, sf_dir, "documents")
    out = l_diversity(docs, ["lang"], "source", l=3)
    return out.select(
        "lang", "n", "n_sensitive",
        _stable_round(F.col("entropy"), 6).alias("entropy"),
        "diverse",
    )


def _q_savgol(spark, sf_dir):
    """Savitzky-Golay (7, 2) smoothing of each user's event-value
    sequence (rows as unit steps) — exact-rational coefficients, one
    weighted lag/lead sum on one sort, interior-only NULL edges."""
    from spark_timeseries_spark.operators.smoothing import savgol_smooth

    obs = events_observations(spark, sf_dir)
    out = savgol_smooth(obs, window=7, polyorder=2, order_col="ts")
    return out.select(
        "key", "ts", "value",
        _stable_round(F.col("savgol"), 6).alias("savgol"),
    )


def _q_kernel_smooth(spark, sf_dir):
    """Gaussian Nadaraya-Watson over event time (h = 6 h, +/-3h reach)
    — RANGE-frame collect_list + an F.aggregate fold, all JVM; the
    oracle replays it with a bounded range self-join."""
    from spark_timeseries_spark.operators.smoothing import kernel_smooth

    obs = events_observations(spark, sf_dir)
    out = kernel_smooth(obs, bandwidth_seconds=21600.0)
    return out.select(
        "key", "ts", "n_local",
        _stable_round(F.col("smoothed"), 6).alias("smoothed"),
    )


def _q_ichimoku(spark, sf_dir):
    """Ichimoku cloud (5/10/20 — scaled to the ~31-bar daily fixture)
    over each user's daily OHLC bars — five gated midpoints + shifts on
    one sort."""
    from spark_timeseries_spark.operators.indicators import ichimoku
    from spark_timeseries_spark.operators.resample import ohlc

    obs = events_observations(spark, sf_dir)
    out = ichimoku(ohlc(obs, "day"), n_tenkan=5, n_kijun=10, n_senkou=20)
    return out.select(
        "key", "bar_ts",
        _stable_round(F.col("tenkan"), 6).alias("tenkan"),
        _stable_round(F.col("kijun"), 6).alias("kijun"),
        _stable_round(F.col("senkou_a"), 6).alias("senkou_a"),
        _stable_round(F.col("senkou_b"), 6).alias("senkou_b"),
        _stable_round(F.col("chikou"), 6).alias("chikou"),
    )


def _q_mfi(spark, sf_dir):
    """Money flow index (n=7) over daily bars with bar event count as
    volume — lag + two conditional rolling sums on one sort."""
    from spark_timeseries_spark.operators.indicators import (
        money_flow_index,
    )
    from spark_timeseries_spark.operators.resample import ohlc

    obs = events_observations(spark, sf_dir)
    out = money_flow_index(ohlc(obs, "day"), n=7)
    return out.select(
        "key", "bar_ts",
        _stable_round(F.col("typical"), 6).alias("typical"),
        _stable_round(F.col("mfi"), 6).alias("mfi"),
    )


def _q_risk_ratios(spark, sf_dir):
    """Omega / gain-to-pain / max-drawdown / calmar per user return
    stream — lag + cumulative equity windows + one combinable
    aggregate on a single key sort."""
    from spark_timeseries_spark.operators.indicators import risk_ratios

    obs = events_observations(spark, sf_dir)
    out = risk_ratios(obs, order_col="ts")
    return out.select(
        "key", "n",
        _stable_round(F.col("mean_ret"), 6).alias("mean_ret"),
        _stable_round(F.col("omega"), 6).alias("omega"),
        _stable_round(F.col("gain_to_pain"), 6).alias("gain_to_pain"),
        _stable_round(F.col("max_dd"), 6).alias("max_dd"),
        _stable_round(F.col("calmar"), 6).alias("calmar"),
    )


def _q_msprt(spark, sf_dir):
    """Always-valid mSPRT over each user's event-value stream (running
    sample variance, tau2 = 25, null mean 30) — cumulative windows on
    one (key, ts) sort, no joins."""
    from spark_timeseries_spark.operators.experiment import msprt

    obs = events_observations(spark, sf_dir)
    out = msprt(obs, tau2=25.0, mu0=30.0)
    return out.select(
        "key", "ts", "n",
        _stable_round(F.col("mean"), 6).alias("mean"),
        _stable_round(F.col("log_lambda"), 6).alias("log_lambda"),
        _stable_round(F.col("p_always"), 6).alias("p_always"),
        "reject_05",
    )


def _q_ab_power(spark, sf_dir):
    """Two-proportion MDE readout over the user_id %% 2 purchase
    assignment (the ab_conv cohort) — entity dedup, 2-row aggregate,
    one-row reduce."""
    from spark_timeseries_spark.operators.experiment import ab_power

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.col("user_id").cast("string").alias("key"),
        (F.col("user_id") % 2).cast("string").alias("variant"),
    ).agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) >= 15
        ).alias("conv")
    )
    out = ab_power(d, F.col("conv"))
    return out.select(
        "n_a", "n_b",
        _stable_round(F.col("rate_a"), 6).alias("rate_a"),
        _stable_round(F.col("rate_b"), 6).alias("rate_b"),
        _stable_round(F.col("diff"), 6).alias("diff"),
        _stable_round(F.col("se"), 6).alias("se"),
        _stable_round(F.col("z"), 6).alias("z"),
        _stable_round(F.col("mde_abs_80"), 6).alias("mde_abs_80"),
        _stable_round(F.col("mde_rel_80"), 6).alias("mde_rel_80"),
    )


def _q_eb_shrinkage(spark, sf_dir):
    """Empirical-Bayes beta-binomial shrinkage of per-user purchase
    rates — one groupBy(user), one-row method-of-moments prior
    broadcast back, no key joins."""
    from spark_timeseries_spark.operators.experiment import eb_shrinkage

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("user_id").cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("trials"),
        F.sum(
            (F.col("event_type") == "purchase").cast("long")
        ).alias("successes"),
    )
    out = eb_shrinkage(d)
    return out.select(
        "key", "trials", "successes",
        _stable_round(F.col("rate"), 6).alias("rate"),
        _stable_round(F.col("alpha"), 6).alias("alpha"),
        _stable_round(F.col("beta"), 6).alias("beta"),
        _stable_round(F.col("rate_eb"), 6).alias("rate_eb"),
    )


def _q_did(spark, sf_dir):
    """Diff-in-differences of event values: treated = odd user_id,
    post = day-of-month > 15 — entity-cell means, 4-row reduce."""
    from spark_timeseries_spark.operators.experiment import diff_in_diff

    ev = load_table(spark, sf_dir, "events")
    out = diff_in_diff(
        ev.where(F.col("value").isNotNull()),
        treated=(F.col("user_id") % 2) == 1,
        post=F.dayofmonth(F.col("ts")) > 15,
        key_col="user_id",
    )
    return out.select(
        "n",
        _stable_round(F.col("mean_c_pre"), 6).alias("mean_c_pre"),
        _stable_round(F.col("mean_c_post"), 6).alias("mean_c_post"),
        _stable_round(F.col("mean_t_pre"), 6).alias("mean_t_pre"),
        _stable_round(F.col("mean_t_post"), 6).alias("mean_t_post"),
        _stable_round(F.col("did"), 6).alias("did"),
        _stable_round(F.col("se"), 6).alias("se"),
        _stable_round(F.col("z"), 6).alias("z"),
    )


def _q_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard of signup->purchase conversion
    time (hour grid, horizon-censored) — the additive dual of the
    kaplan_meier row, same groupBy + bounded duration-grid windows."""
    from spark_timeseries_spark.operators.survival import (
        nelson_aalen,
        time_to_event,
    )

    ev = load_table(spark, sf_dir, "events")
    tte = time_to_event(ev, "signup", "purchase", unit_seconds=3600.0)
    binned = tte.select(
        F.ceil(F.col("duration")).cast("long").alias("duration"), "event"
    )
    out = nelson_aalen(binned)
    return out.select(
        "duration", "n_risk", "n_events", "n_censored",
        _stable_round(F.col("cum_hazard"), 6).alias("cum_hazard"),
        _stable_round(F.col("hazard_var"), 8).alias("hazard_var"),
        _stable_round(F.col("survival_fh"), 6).alias("survival_fh"),
    )


def _q_log_rank(spark, sf_dir):
    """Log-rank test of signup->purchase survival between the two
    user_id-parity cohorts (hour grid) — one full-data pass, then a
    bounded (2 x duration-grid) ledger; k-group approximate chi2 plus
    the exact-variance 2-group statistic."""
    from spark_timeseries_spark.operators.survival import (
        log_rank,
        time_to_event,
    )

    ev = load_table(spark, sf_dir, "events")
    tte = time_to_event(ev, "signup", "purchase", unit_seconds=3600.0)
    binned = tte.select(
        F.ceil(F.col("duration")).cast("long").alias("duration"),
        "event",
        F.pmod(F.col("key"), F.lit(2)).cast("int").alias("grp"),
    )
    out = log_rank(binned, group_col="grp")
    return out.select(
        "k", "n",
        _stable_round(F.col("chi2"), 6).alias("chi2"),
        "df",
        _stable_round(F.col("crit_05"), 6).alias("crit_05"),
        "reject_05",
        _stable_round(F.col("chi2_exact2"), 6).alias("chi2_exact2"),
    )


def _q_stratified_log_rank(spark, sf_dir):
    """Stratified log-rank (Cox PH score test): signup->purchase
    survival between the user_id-parity cohorts, stratified by a
    3-level user covariate (floor(id/2) mod 3) — stratum-local O/E
    ledgers summed before the chi-square, so a baseline-hazard shift
    between strata cannot masquerade as a cohort effect."""
    from spark_timeseries_spark.operators.survival import (
        stratified_log_rank,
        time_to_event,
    )

    ev = load_table(spark, sf_dir, "events")
    tte = time_to_event(ev, "signup", "purchase", unit_seconds=3600.0)
    binned = tte.select(
        F.ceil(F.col("duration")).cast("long").alias("duration"),
        "event",
        F.pmod(F.col("key"), F.lit(2)).cast("int").alias("grp"),
        F.pmod(F.floor(F.col("key") / F.lit(2)), F.lit(3))
        .cast("int").alias("stratum"),
    )
    out = stratified_log_rank(binned, group_col="grp")
    return out.select(
        "k", "strata", "n",
        _stable_round(F.col("chi2"), 6).alias("chi2"),
        "df",
        _stable_round(F.col("crit_05"), 6).alias("crit_05"),
        "reject_05",
        _stable_round(F.col("chi2_exact2"), 6).alias("chi2_exact2"),
    )


def _q_rmst(spark, sf_dir):
    """Restricted mean survival time of signup->purchase (hour grid,
    tau = one week) per user_id-parity cohort — the model-free
    'average hours survived in the first 168' readout; exact
    step-function integration of the per-group KM curve."""
    from spark_timeseries_spark.operators.survival import (
        rmst,
        time_to_event,
    )

    ev = load_table(spark, sf_dir, "events")
    tte = time_to_event(ev, "signup", "purchase", unit_seconds=3600.0)
    binned = tte.select(
        F.ceil(F.col("duration")).cast("long").alias("duration"),
        "event",
        F.pmod(F.col("key"), F.lit(2)).cast("int").alias("grp"),
    )
    out = rmst(binned, tau=168.0, group_col="grp")
    return out.select(
        "grp", "n", _stable_round(F.col("rmst"), 6).alias("rmst")
    ).orderBy("grp")


def _q_cumulative_incidence(spark, sf_dir):
    """Aalen-Johansen cumulative incidence of the competing first
    outcomes after signup — purchase (cause 1) vs error (cause 2),
    purchase wins exact timestamp ties (stated); censored at the log
    horizon. 1 - KM would overstate both curves; this is the fix."""
    from spark_timeseries_spark.operators.survival import (
        cumulative_incidence,
    )

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    per = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.min(F.when(F.col("event_type") == "signup", us)).alias("_st"),
        F.max(us).alias("_last"),
    )
    hor = F.broadcast(ev.select(F.max(us).alias("_hor")))
    firsts = (
        ev.join(
            per.where(F.col("_st").isNotNull()).select("key", "_st"),
            F.col("user_id") == F.col("key"),
        )
        .where(us >= F.col("_st"))
        .groupBy("key")
        .agg(
            F.min(
                F.when(F.col("event_type") == "purchase", us)
            ).alias("_pu"),
            F.min(F.when(F.col("event_type") == "error", us)).alias("_er"),
            F.first("_st").alias("_st"),
        )
    )
    pu, er = F.col("_pu"), F.col("_er")
    cause = (
        F.when(pu.isNotNull() & (er.isNull() | (pu <= er)), F.lit(1))
        .when(er.isNotNull(), F.lit(2))
        .otherwise(F.lit(0))
    )
    ev_us = (
        F.when(cause == 1, pu)
        .when(cause == 2, er)
        .otherwise(F.col("_hor"))
    )
    tbl = firsts.crossJoin(hor).select(
        F.ceil((ev_us - F.col("_st")).cast("double") / F.lit(3.6e9))
        .cast("long")
        .alias("duration"),
        cause.alias("cause"),
    )
    out = cumulative_incidence(tbl)
    return out.select(
        "cause", "duration", "n_risk", "n_events",
        _stable_round(F.col("cif"), 6).alias("cif"),
    ).orderBy("cause", "duration")


def _q_roc_auc(spark, sf_dir):
    """Ranking quality of document length as an is-English detector:
    midrank Mann-Whitney AUC over the distinct-score grid — one
    combinable groupBy(n_chars) + a bounded-grid window, no global
    row-level sort."""
    from spark_timeseries_spark.pipeline.classifier import roc_auc

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("n_chars").cast("double").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    out = roc_auc(scored, "score", "label")
    return out.select(
        "n", "n_pos", "n_neg", _stable_round(F.col("auc"), 6).alias("auc")
    )


def _q_brier(spark, sf_dir):
    """Brier score + exact Murphy decomposition of a synthetic [0,1)
    document score (length mod 100 as centi-probability) against
    is-English — one combinable groupBy over the 100-level score grid,
    one reduce; BS = REL - RES + UNC holds as an identity."""
    from spark_timeseries_spark.pipeline.classifier import brier

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        ((F.col("n_chars") % 100) / F.lit(100.0)).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    out = brier(scored, "score", "label")
    return out.select(
        "n", "n_pos",
        _stable_round(F.col("brier"), 6).alias("brier"),
        _stable_round(F.col("reliability"), 6).alias("reliability"),
        _stable_round(F.col("resolution"), 6).alias("resolution"),
        _stable_round(F.col("uncertainty"), 6).alias("uncertainty"),
    )


def _q_average_precision(spark, sf_dir):
    """Step-interpolated PR-AUC of document length as an is-English
    detector (the imbalance-robust companion of the roc_auc row, same
    inputs) — one groupBy(n_chars) + one cumulative window on the
    distinct-score grid."""
    from spark_timeseries_spark.pipeline.classifier import (
        average_precision,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("n_chars").cast("double").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    out = average_precision(scored, "score", "label")
    return out.select(
        "n", "n_pos", "n_neg",
        _stable_round(F.col("ap"), 6).alias("ap"),
    )


def _q_concordance_index(spark, sf_dir):
    """Harrell's C of a per-user activity-count risk score (decade
    buckets, capped at 20) against signup->purchase survival (hour
    grid) — pair counting via two cumulative ledgers on the
    duration-grid x risk-grid rectangle, no all-pairs join."""
    from spark_timeseries_spark.operators.survival import (
        concordance_index,
        time_to_event,
    )

    ev = load_table(spark, sf_dir, "events")
    tte = time_to_event(ev, "signup", "purchase", unit_seconds=3600.0)
    cnt = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    tbl = tte.join(cnt, "key").select(
        F.ceil(F.col("duration")).cast("double").alias("duration"),
        "event",
        F.least(F.floor(F.col("_c") / 10), F.lit(20))
        .cast("double")
        .alias("risk"),
    )
    out = concordance_index(tbl)
    return out.select(
        "n", "n_events", "comparable", "concordant", "tied_risk",
        _stable_round(F.col("c_index"), 6).alias("c_index"),
    )


def _q_log_loss(spark, sf_dir):
    """Cross-entropy of the centi-probability document score against
    is-English (the likelihood-scale sibling of the brier row, same
    inputs) — ONE combinable aggregate, clip-guarded logs."""
    from spark_timeseries_spark.pipeline.classifier import log_loss

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        ((F.col("n_chars") % 100) / F.lit(100.0)).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    out = log_loss(scored, "score", "label")
    return out.select(
        "n", "n_pos",
        _stable_round(F.col("log_loss"), 6).alias("log_loss"),
    )


def _q_classification_report(spark, sf_dir):
    """Confusion-matrix operating point of 'length >= 300 chars' as an
    is-English detector — accuracy/precision/recall/F1/MCC from ONE
    four-cell aggregate."""
    from spark_timeseries_spark.pipeline.classifier import (
        classification_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("n_chars").cast("double").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    out = classification_report(scored, "score", "label", threshold=300.0)
    return out.select(
        "n", "tp", "fp", "tn", "fn",
        _stable_round(F.col("accuracy"), 6).alias("accuracy"),
        _stable_round(F.col("precision"), 6).alias("precision"),
        _stable_round(F.col("recall"), 6).alias("recall"),
        _stable_round(F.col("specificity"), 6).alias("specificity"),
        _stable_round(F.col("f1"), 6).alias("f1"),
        _stable_round(F.col("mcc"), 6).alias("mcc"),
    )


def _q_lift_table(spark, sf_dir):
    """Decile gains/lift of document length as an is-English ranker —
    tie-safe bucketing by cumulative position on the descending
    distinct-score grid."""
    from spark_timeseries_spark.pipeline.classifier import lift_table

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("n_chars").cast("double").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    out = lift_table(scored, "score", "label", buckets=10)
    return out.select(
        "bucket", "n", "n_pos",
        _stable_round(F.col("pos_rate"), 6).alias("pos_rate"),
        "cum_n", "cum_pos",
        _stable_round(F.col("gain"), 6).alias("gain"),
        _stable_round(F.col("lift"), 6).alias("lift"),
    ).orderBy("bucket")


def _q_g_test(spark, sf_dir):
    """G-test (log-likelihood ratio) of document language x source
    independence — the information-theoretic sibling of the cramers_v
    row on the same contingency table; empty cells vanish in the
    o*ln(o/e) limit, no zero scaffold needed."""
    from spark_timeseries_spark.operators.hypothesis import g_test

    docs = load_table(spark, sf_dir, "documents")
    out = g_test(docs, "lang", "source")
    return out.select(
        "n", "r", "c",
        _stable_round(F.col("g"), 6).alias("g"),
        "dof",
        _stable_round(F.col("crit_05"), 6).alias("crit_05"),
        "reject_05",
    )


def _q_cohen_kappa(spark, sf_dir):
    """Cohen's kappa agreement between two derived document
    'labelers' (is-English vs even-length) — chance-corrected via the
    category-keyed outer join of the two margin tables."""
    from spark_timeseries_spark.operators.hypothesis import cohen_kappa

    docs = load_table(spark, sf_dir, "documents")
    rated = docs.select(
        F.when(F.col("lang") == "en", F.lit("y"))
        .otherwise(F.lit("n")).alias("rater_a"),
        F.when(F.col("n_chars") % 2 == 0, F.lit("y"))
        .otherwise(F.lit("n")).alias("rater_b"),
    )
    out = cohen_kappa(rated, "rater_a", "rater_b")
    return out.select(
        "n", "n_categories",
        _stable_round(F.col("po"), 6).alias("po"),
        _stable_round(F.col("pe"), 6).alias("pe"),
        _stable_round(F.col("kappa"), 6).alias("kappa"),
    )


def _q_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage trend of purchase propensity across five
    user-id dose levels — the ordered alternative an omnibus 5x2 chi2
    wastes power on; ONE moment aggregate."""
    from spark_timeseries_spark.operators.hypothesis import (
        cochran_armitage,
    )

    ev = load_table(spark, sf_dir, "events")
    dosed = ev.select(
        F.pmod(F.col("user_id"), F.lit(5)).cast("double").alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    out = cochran_armitage(dosed)
    return out.select(
        "n", "k", "n_pos",
        _stable_round(F.col("t_stat"), 6).alias("t_stat"),
        _stable_round(F.col("var_t"), 6).alias("var_t"),
        _stable_round(F.col("z"), 6).alias("z"),
        _stable_round(F.col("chi2"), 6).alias("chi2"),
        "reject_05",
    )


def _q_anova_oneway(spark, sf_dir):
    """One-way ANOVA F of event value across event-type groups — ONE
    combinable groupBy + a k-row reduce; the k-group extension of the
    welch_t row."""
    from spark_timeseries_spark.operators.hypothesis import anova_oneway

    ev = load_table(spark, sf_dir, "events")
    out = anova_oneway(ev, group_col="event_type", value_col="value")
    return out.select(
        "n", "k",
        _stable_round(F.col("ss_between"), 4).alias("ss_between"),
        _stable_round(F.col("ss_within"), 4).alias("ss_within"),
        _stable_round(F.col("f_stat"), 6).alias("f_stat"),
        "df1", "df2",
        _stable_round(F.col("eta_sq"), 6).alias("eta_sq"),
    )


def _q_kendall_tau_b(spark, sf_dir):
    """Kendall's tau-b of user-id bucket (20 levels) vs deci-quantized
    event value — concordant/discordant mass from dominance ledgers on
    the 20 x value-grid rectangle, no all-pairs."""
    from spark_timeseries_spark.operators.hypothesis import kendall_tau_b

    ev = load_table(spark, sf_dir, "events")
    pts = ev.where(F.col("value").isNotNull()).select(
        F.pmod(F.col("user_id"), F.lit(20)).cast("double").alias("x"),
        (F.floor(F.col("value") * 10 + 0.5) / 10).alias("y"),
    )
    out = kendall_tau_b(pts)
    return out.select(
        "n", "concordant", "discordant", "s",
        _stable_round(F.col("tau_b"), 6).alias("tau_b"),
        _stable_round(F.col("z"), 6).alias("z"),
    )


def _q_energy_distance(spark, sf_dir):
    """Szekely-Rizzo energy distance between the two user-parity
    cohorts' centi-quantized value distributions — every pairwise
    |difference| sum collapsed to prefix-sum ledgers on the
    distinct-value grid."""
    from spark_timeseries_spark.operators.hypothesis import (
        energy_distance,
    )

    ev = load_table(spark, sf_dir, "events")
    pts = ev.where(F.col("value").isNotNull()).select(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("group"),
        (F.floor(F.col("value") * 100 + 0.5) / 100).alias("value"),
    )
    out = energy_distance(pts)
    return out.select(
        "n1", "n2",
        _stable_round(F.col("e_xy"), 6).alias("e_xy"),
        _stable_round(F.col("e_xx"), 6).alias("e_xx"),
        _stable_round(F.col("e_yy"), 6).alias("e_yy"),
        _stable_round(F.col("energy"), 6).alias("energy"),
        _stable_round(F.col("e_stat"), 6).alias("e_stat"),
    )


def _q_partial_corr(spark, sf_dir):
    """Partial correlation of lineitem extended price and quantity
    controlling for discount — does the price-quantity association
    survive the confounder; ONE nine-moment aggregate."""
    from spark_timeseries_spark.operators.hypothesis import partial_corr

    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_extendedprice").cast("double").alias("x"),
        F.col("l_quantity").cast("double").alias("y"),
        F.col("l_discount").cast("double").alias("z"),
    )
    out = partial_corr(pts)
    return out.select(
        "n",
        _stable_round(F.col("r_xy"), 6).alias("r_xy"),
        _stable_round(F.col("r_xz"), 6).alias("r_xz"),
        _stable_round(F.col("r_yz"), 6).alias("r_yz"),
        _stable_round(F.col("r_partial"), 6).alias("r_partial"),
    )


def _q_theil_u(spark, sf_dir):
    """Theil's uncertainty coefficients of document language vs source
    — the ASYMMETRIC association readout on the cramers_v/g_test
    contingency table (how much of lang does source explain, and
    vice versa)."""
    from spark_timeseries_spark.operators.hypothesis import theil_u

    docs = load_table(spark, sf_dir, "documents")
    out = theil_u(docs, "lang", "source")
    return out.select(
        "n",
        _stable_round(F.col("h_a"), 6).alias("h_a"),
        _stable_round(F.col("h_b"), 6).alias("h_b"),
        _stable_round(F.col("mi"), 6).alias("mi"),
        _stable_round(F.col("u_a_given_b"), 6).alias("u_a_given_b"),
        _stable_round(F.col("u_b_given_a"), 6).alias("u_b_given_a"),
    )


def _q_hellinger(spark, sf_dir):
    """Hellinger / Bhattacharyya distance between the two user-parity
    cohorts' deci-binned value distributions — the bounded metric
    companion of the psi_drift and energy_distance rows."""
    from spark_timeseries_spark.pipeline.drift import hellinger

    ev = load_table(spark, sf_dir, "events")
    pts = ev.where(F.col("value").isNotNull()).select(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("group"),
        (F.floor(F.col("value") * 10 + 0.5) / 10).alias("value"),
    )
    out = hellinger(pts)
    return out.select(
        "n1", "n2",
        _stable_round(F.col("bc"), 6).alias("bc"),
        _stable_round(F.col("hellinger"), 6).alias("hellinger"),
        _stable_round(F.col("bhattacharyya"), 6).alias("bhattacharyya"),
    )


def _q_weibull_fit(spark, sf_dir):
    """Weibull median-rank-regression fit of inter-purchase gap hours
    per user — rank window + one OLS aggregate per key."""
    from spark_timeseries_spark.operators.survival import weibull_mrr

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    wk = Window.partitionBy("key").orderBy("ts")
    us = F.unix_micros(F.col("ts"))
    gaps = (
        ev.select(F.col("user_id").cast("string").alias("key"), "ts")
        .withColumn(
            "_gap",
            (us - F.lag(us).over(wk)).cast("double") / 3600000000.0,
        )
        .where(F.col("_gap").isNotNull())
    )
    out = weibull_mrr(gaps, duration_col="_gap", group_col="key")
    return out.select(
        "key", "n",
        _stable_round(F.col("shape"), 6).alias("shape"),
        _stable_round(F.col("scale"), 6).alias("scale"),
        _stable_round(F.col("r2"), 6).alias("r2"),
    )


def _q_interevent_stats(spark, sf_dir):
    """Goh-Barabási burstiness + memory of inter-event gaps per user —
    two lags on one sort + one combinable aggregate."""
    from spark_timeseries_spark.operators.sessionize import interevent_stats

    obs = events_observations(spark, sf_dir)
    out = interevent_stats(obs)
    return out.select(
        "key", "n_gaps",
        _stable_round(F.col("mean_gap_s"), 6).alias("mean_gap_s"),
        _stable_round(F.col("sd_gap_s"), 6).alias("sd_gap_s"),
        _stable_round(F.col("cv"), 6).alias("cv"),
        _stable_round(F.col("burstiness"), 6).alias("burstiness"),
        _stable_round(F.col("memory"), 6).alias("memory"),
    )


def _q_engagement_hist(spark, sf_dir):
    """Weekly L-ness curve (users by active-day count per week) —
    distinct + two combinable groupBys + a bucket window."""
    from spark_timeseries_spark.operators.sessionize import (
        engagement_histogram,
    )

    obs = events_observations(spark, sf_dir)
    out = engagement_histogram(obs, unit="week")
    return out.select(
        "bucket", "active_days", "n_keys",
        _stable_round(F.col("share"), 6).alias("share"),
    )


def _q_type_diversity(spark, sf_dir):
    """Shannon/Simpson behavioral-mix diversity per user — two
    combinable groupBys sharing one key exchange."""
    from spark_timeseries_spark.operators.sessionize import type_diversity

    ev = load_table(spark, sf_dir, "events")
    out = type_diversity(
        ev.select(
            F.col("user_id").cast("string").alias("key"), "event_type"
        )
    )
    return out.select(
        "key", "n_events", "n_types",
        _stable_round(F.col("shannon"), 6).alias("shannon"),
        _stable_round(F.col("simpson"), 6).alias("simpson"),
        _stable_round(F.col("effective_types"), 6).alias("effective_types"),
    )


def _q_capm(spark, sf_dir):
    """Equal-weight market-model alpha/beta/r2 per user over the filled
    daily grid — lag + loc-window market mean + one OLS aggregate."""
    from spark_timeseries_spark.operators.crosssection import capm_cross

    out = capm_cross(_hw_filled(spark, sf_dir))
    return out.select(
        "key", "n",
        _stable_round(F.col("alpha"), 6).alias("alpha"),
        _stable_round(F.col("beta"), 6).alias("beta"),
        _stable_round(F.col("r2"), 6).alias("r2"),
    )


def _q_microstructure(spark, sf_dir):
    """Amihud illiquidity + Roll implied spread per user from daily
    close/volume bars — two lags on one sort + one aggregate."""
    from spark_timeseries_spark.operators.indicators import microstructure

    ev = load_table(spark, sf_dir, "events")
    bars = ev.groupBy(
        F.col("user_id").cast("string").alias("key"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(
        F.max_by("value", "ts").alias("close"),
        F.sum(F.abs("value")).alias("volume"),
    )
    out = microstructure(bars, order_col="day")
    return out.select(
        "key", "n_bars",
        _stable_round(F.col("amihud"), 9).alias("amihud"),
        _stable_round(F.col("roll_cov"), 6).alias("roll_cov"),
        _stable_round(F.col("roll_spread"), 6).alias("roll_spread"),
    )


def _q_white_noise(spark, sf_dir):
    """Bartlett cumulative-periodogram whiteness test per user over the
    filled daily grid — periodogram plan + two key windows."""
    from spark_timeseries_spark.operators.spectral import white_noise_test

    out = white_noise_test(_hw_filled(spark, sf_dir), method="explode")
    return out.select(
        "key", "m",
        _stable_round(F.col("ks_stat"), 6).alias("ks_stat"),
        _stable_round(F.col("crit_05"), 6).alias("crit_05"),
        _stable_round(F.col("crit_01"), 6).alias("crit_01"),
        F.col("white_noise_05").cast("int").alias("white_noise_05"),
    )


def _q_intrinsic_dim(spark, sf_dir):
    """Participation-ratio intrinsic dimensionality of the embedding
    table — one Arrow moment pass, trace identities, no eig."""
    from spark_timeseries_spark.pipeline.embeddings import (
        intrinsic_dimension,
    )

    emb = _emb_spread(spark, sf_dir)
    out = intrinsic_dimension(emb)
    return out.select(
        "n", "dim",
        _stable_round(F.col("total_var"), 6).alias("total_var"),
        _stable_round(F.col("pr"), 6).alias("pr"),
        _stable_round(F.col("pr_ratio"), 6).alias("pr_ratio"),
    )


def _q_pinball(spark, sf_dir):
    """Pinball loss of the empirical-quantile baseline per (user, tau)
    — one exchange: rank window, percentile window, explode, groupBy."""
    from spark_timeseries_spark.models.baselines import pinball_loss

    obs = events_observations(spark, sf_dir)
    out = pinball_loss(obs, taus=(0.1, 0.5, 0.9), loc_col="ts")
    return out.select(
        "key", "tau",
        _stable_round(F.col("q_hat"), 6).alias("q_hat"),
        "n_test",
        _stable_round(F.col("pinball"), 6).alias("pinball"),
    )


def _q_cluster_separation(spark, sf_dir):
    """Calinski-Harabasz separation of the labeled embedding table —
    one explode + bounded (label, dim) aggregate, scatter identities."""
    from spark_timeseries_spark.pipeline.embeddings import (
        cluster_separation,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = cluster_separation(emb)
    return out.select(
        "n", "k",
        _stable_round(F.col("within"), 3).alias("within"),
        _stable_round(F.col("between"), 3).alias("between"),
        _stable_round(F.col("ch_index"), 4).alias("ch_index"),
    )


def _q_spectral_flatness(spark, sf_dir):
    """Wiener spectral flatness per user over the filled daily grid —
    periodogram plan + one combinable aggregate."""
    from spark_timeseries_spark.operators.spectral import spectral_flatness

    out = spectral_flatness(_hw_filled(spark, sf_dir), method="explode")
    return out.select(
        "key", "m",
        _stable_round(F.col("flatness"), 6).alias("flatness"),
    )


def _q_fdr(spark, sf_dir):
    """Benjamini-Hochberg FDR over the per-user Jarque-Bera p-values —
    two windows on one sort of the tiny test-result table."""
    from spark_timeseries_spark.operators.hypothesis import (
        fdr_bh,
        jarque_bera,
    )

    obs = events_observations(spark, sf_dir)
    jb = jarque_bera(obs)
    out = fdr_bh(jb.select("key", F.col("p_value").alias("p")), alpha=0.05)
    return out.select(
        "key",
        _stable_round(F.col("p"), 6).alias("p"),
        _stable_round(F.col("q"), 6).alias("q"),
        F.col("reject").cast("int").alias("reject"),
    )


def _q_cuped(spark, sf_dir):
    """CUPED variance reduction with the first half-month as the
    pre-period — one key aggregate + a one-row broadcast."""
    from spark_timeseries_spark.operators.experiment import cuped

    obs = events_observations(spark, sf_dir)
    out = cuped(
        obs, F.col("ts") < F.to_timestamp(F.lit("2024-01-16"))
    )
    return out.select(
        "key",
        _stable_round(F.col("pre"), 6).alias("pre"),
        _stable_round(F.col("post"), 6).alias("post"),
        _stable_round(F.col("post_cuped"), 6).alias("post_cuped"),
        _stable_round(F.col("theta"), 6).alias("theta"),
        _stable_round(F.col("var_reduction"), 6).alias("var_reduction"),
    )


def _q_srm(spark, sf_dir):
    """Sample-ratio-mismatch chi-square over a user_id % 3 assignment
    of event volume — bounded variant aggregate + one-row reduce."""
    from spark_timeseries_spark.operators.experiment import srm_check

    ev = load_table(spark, sf_dir, "events")
    out = srm_check(ev.withColumn("variant", F.col("user_id") % 3))
    return out.select(
        "n", "k",
        _stable_round(F.col("chi2"), 6).alias("chi2"),
        _stable_round(F.col("crit_05"), 6).alias("crit_05"),
        F.col("srm_detected").cast("int").alias("srm_detected"),
    )


def _q_ab_conv(spark, sf_dir):
    """Two-proportion purchase-conversion readout over a user_id %% 2
    assignment — entity dedup, 2-row aggregate, one-row broadcast."""
    from spark_timeseries_spark.operators.experiment import ab_conversion

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.col("user_id").cast("string").alias("key"),
        (F.col("user_id") % 2).cast("string").alias("variant"),
    ).agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) >= 15
        ).alias("conv")
    )
    out = ab_conversion(d, F.col("conv"))
    return out.select(
        "variant", "n", "conv",
        _stable_round(F.col("rate"), 6).alias("rate"),
        _stable_round(F.col("wilson_lo"), 6).alias("wilson_lo"),
        _stable_round(F.col("wilson_hi"), 6).alias("wilson_hi"),
        _stable_round(F.col("z"), 6).alias("z"),
        F.col("significant_05").cast("int").alias("significant_05"),
    )


def _q_gpd(spark, sf_dir):
    """Peaks-over-threshold GPD tail fit per user (PWM closed form) —
    percentile window + rank window + one aggregate on one exchange."""
    from spark_timeseries_spark.operators.volatility import gpd_tail

    obs = events_observations(spark, sf_dir)
    out = gpd_tail(obs, threshold_q=0.95, var_p=0.99, value_col="value")
    return out.select(
        "key", "n", "n_exc",
        _stable_round(F.col("threshold"), 6).alias("threshold"),
        _stable_round(F.col("xi"), 6).alias("xi"),
        _stable_round(F.col("beta"), 6).alias("beta"),
        _stable_round(F.col("var_p"), 6).alias("var_p"),
    )


_ALL_QUERIES = {
    # -- (a) must-prove: r10-touched / r10-new ---------------------------
    "retention_cohorts": _q_retention_cohorts,
    "retention_month": _q_retention_month,
    "funnel": _q_funnel,
    "cross_rank": _q_cross_rank,
    "cross_zscore": _q_cross_zscore,
    "kalman_level": _q_kalman_level,
    "bocpd_runs": _q_bocpd_runs,
    "lomb_scargle": _q_lomb_scargle,
    "spearman": _q_spearman,
    "kendall": _q_kendall,
    "information_coefficient": _q_information_coefficient,
    "turnover": _q_turnover,
    "stochastic": _q_stochastic,
    "obv": _q_obv,
    "ewm_var": _q_ewm_var,
    "fill_previous_limit": _q_fill_previous_limit,
    "benford": _q_benford,
    "priority_sample": _q_priority_sample,
    "underwater": _q_underwater,
    "atr": _q_atr,
    "pivot_points": _q_pivot_points,
    "tod_profile": _q_tod_profile,
    "filter_audit": _q_filter_audit,
    "twa": _q_twa,
    "count_bars": _q_count_bars,
    "heaps_law": _q_heaps_law,
    # -- (b) rotation queue, stalest driver evidence first (the
    # late-r5/r6 block the r9 verdict named) -----------------------------
    "token_divergence": _q_token_divergence,
    "repetition_features": _q_repetition_features,
    "gopher_repetition": _q_gopher_repetition,
    "gopher_quality": _q_gopher_quality,
    "sessionize": _q_sessionize,
    "session_stats": _q_session_stats,
    "stratified_sample": _q_stratified_sample,
    "token_percentiles": _q_token_percentiles,
    "scrub_pii": _q_scrub_pii,
    "dedup_components": _q_dedup_components,
    "decontaminate": _q_decontaminate,
    "resample_stamp_right": _q_resample_stamp_right,
    "resample_closed_right": _q_resample_closed_right,
    # (everything below is green in the committed strict-mode full
    # oracle log; the r8 window rows moved to the tail — their driver
    # evidence is the freshest in the file)
    "split_dataset": _q_split_dataset,
    "normalize_text": _q_normalize_text,
    "remove_boilerplate": _q_remove_boilerplate,
    "chunk_documents": _q_chunk_documents,
    "lm_perplexity": _q_lm_perplexity,
    "bm25_search": _q_bm25_search,
    "vocab_topk": _q_vocab_topk,
    "oov_rate": _q_oov_rate,
    "linear_score": _q_linear_score,
    "ivf_persist": _q_ivf_persist,
    "pq_adc": _q_pq_adc,
    "blocklist_flag": _q_blocklist_flag,
    # ---- driver window (50) ends here ----------------------------------
    # r10-new rows below yield their window slots to the stale
    # rotation (>= 25 stale rows per the r9 prescription); their
    # evidence is the committed full strict log until the r11 window
    "stylometric_delta": _q_stylometric_delta,
    "keltner": _q_keltner,
    "donchian": _q_donchian,
    "ulcer": _q_ulcer,
    "rolling_sharpe": _q_rolling_sharpe,
    "funnel_gap": _q_funnel_gap,
    "newey_west": _q_newey_west,
    "ewma_chart": _q_ewma_chart,
    "error_burn": _q_error_burn,
    "prefix_dim_recall": _q_prefix_dim_recall,
    "dow_profile": _q_dow_profile,
    "robust_location": _q_robust_location,
    "rank_autocorr": _q_rank_autocorr,
    # -- r11 ---------------------------------------------------------------
    "williams_r": _q_williams_r,
    "cci": _q_cci,
    "cmo": _q_cmo,
    "trix": _q_trix,
    "aroon": _q_aroon,
    "capture_ratios": _q_capture_ratios,
    "active_stats": _q_active_stats,
    "robust_scale": _q_robust_scale,
    "gap_outages": _q_gap_outages,
    "rfm": _q_rfm,
    "transition_matrix": _q_transition_matrix,
    "tod_percentiles": _q_tod_percentiles,
    "kruskal_dow": _q_kruskal_dow,
    "acf_features": _q_acf_features,
    "roll_entropy": _q_roll_entropy,
    "bucket_cardinality": _q_bucket_cardinality,
    "max_concurrency": _q_max_concurrency,
    "missingness": _q_missingness,
    "seasonal_zscore": _q_seasonal_zscore,
    "top_drawdowns": _q_top_drawdowns,
    "stickiness": _q_stickiness,
    "cohort_values": _q_cohort_values,
    "attribution": _q_attribution,
    "heikin_ashi": _q_heikin_ashi,
    "embedding_outliers": _q_embedding_outliers,
    "bursts": _q_bursts,
    "wma": _q_wma,
    "mix_drift": _q_mix_drift,
    "dup_cluster_stats": _q_dup_cluster_stats,
    "jarque_bera": _q_jarque_bera,
    "mann_whitney": _q_mann_whitney,
    "brown_forsythe": _q_brown_forsythe,
    "downside_stats": _q_downside_stats,
    "roll_slope": _q_roll_slope,
    "spc_rules": _q_spc_rules,
    "edit_dist_pairs": _q_edit_dist_pairs,
    "code_detect": _q_code_detect,
    "esd_outliers": _q_esd_outliers,
    "dtw_pair": _q_dtw_pair,
    "pairs_spread": _q_pairs_spread,
    "tail_dependence": _q_tail_dependence,
    "transition_entropy": _q_transition_entropy,
    "reliability": _q_reliability,
    "spectral_residual": _q_spectral_residual,
    "kendall_w": _q_kendall_w,
    "cronbach_alpha": _q_cronbach_alpha,
    "powerlaw_alpha": _q_powerlaw_alpha,
    "wasserstein": _q_wasserstein,
    "dedup_sweep": _q_dedup_sweep,
    "quality_token_curve": _q_quality_token_curve,
    "source_rank_gap": _q_source_rank_gap,
    "record_stats": _q_record_stats,
    "lead_lag": _q_lead_lag,
    "allan_variance": _q_allan_variance,
    "ma_cross": _q_ma_cross,
    "circadian_stats": _q_circadian_stats,
    "conformal_interval": _q_conformal_interval,
    "dup_spans": _q_dup_spans,
    "embedding_covariance": _q_embedding_covariance,
    "cusum": _q_cusum,
    "zipf_slope": _q_zipf_slope,
    "bpe_merges": _q_bpe_merges,
    "bpe_segment": _q_bpe_segment,
    "rebase_hybrid": _q_rebase_hybrid,
    "union_series": _q_union_series,
    "lags_custom": _q_lags_custom,
    "stats_suite": _q_stats_suite,
    "hampel": _q_hampel,
    "periodogram": _q_periodogram,
    "dominant_period": _q_dominant_period,
    "incremental_near_dedup": _q_incremental_near_dedup,
    "knn_cosine": _q_knn_cosine,
    "ewma_fit": _q_ewma_fit,
    "argarch_fit": _q_argarch_fit,
    "fill_spline": _q_fill_spline,
    "to_series_digest": _q_to_series_digest,
    "to_observations": _q_to_observations,
    "roll_sum_center": _q_roll_sum_center,
    "bg_test": _q_bg_test,
    "bp_test": _q_bp_test,
    "lb_test": _q_lb_test,
    "business_days": _q_business_days,
    "series_stats": _q_series_stats,
    "resample_daily_avg": _q_resample_daily_avg,
    "fill_previous": _q_fill_previous,
    "fill_linear": _q_fill_linear,
    "differences": _q_differences,
    "return_rates": _q_return_rates,
    "roll_mean": _q_roll_mean,
    "arima_filter": _q_arima_filter,
    "garch_filter": _q_garch_filter,
    "remove_instants_with_nans": _q_remove_instants_with_nans,
    "filter_starting_before": _q_filter_starting_before,
    "filter_ending_after": _q_filter_ending_after,
    "to_instants_pivot": _q_to_instants_pivot,
    "autocorr": _q_autocorr,
    "dw_test": _q_dw_test,
    "pacf": _q_pacf,
    "ar_forecast": _q_ar_forecast,
    "adf_test": _q_adf_test,
    "kpss_test": _q_kpss_test,
    "holt_winters_forecast": _q_holt_winters_forecast,
    "downsample": _q_downsample,
    "rebase_uniform": _q_rebase_uniform,
    "rebase_irregular": _q_rebase_irregular,
    "diff_by_frequency": _q_diff_by_frequency,
    "ewma_smooth": _q_ewma_smooth,
    "sax": _q_sax,
    "paa": _q_paa,
    "peaks": _q_peaks,
    "psi_drift": _q_psi_drift,
    "cointegration": _q_cointegration,
    "threshold_runs": _q_threshold_runs,
    "gini_sources": _q_gini_sources,
    "ks_drift": _q_ks_drift,
    "roll_beta": _q_roll_beta,
    "scale_suite": _q_scale_suite,
    "matrix_profile": _q_matrix_profile,
    "asof_enrich": _q_asof_enrich,
    "roll_rank": _q_roll_rank,
    "downsample_minmax": _q_downsample_minmax,
    "sax_mindist": _q_sax_mindist,
    "embedding_drift": _q_embedding_drift,
    "croston": _q_croston,
    "counter_rate": _q_counter_rate,
    "window_join_ctx": _q_window_join_ctx,
    "max_drawdown": _q_max_drawdown,
    "changepoint": _q_changepoint,
    "hurst": _q_hurst,
    "half_life": _q_half_life,
    "corr_matrix": _q_corr_matrix,
    "readability": _q_readability,
    "tfidf_topk": _q_tfidf_topk,
    "theta_forecast": _q_theta_forecast,
    "winsorize": _q_winsorize,
    "perm_entropy": _q_perm_entropy,
    "interarrival": _q_interarrival,
    "impulse_response": _q_impulse_response,
    "roll_quantile": _q_roll_quantile,
    "fill_suite": _q_fill_suite,
    "roll_skew_kurt": _q_roll_skew_kurt,
    "arch_test": _q_arch_test,
    "granger": _q_granger,
    "lag_suite": _q_lag_suite,
    "var_fit": _q_var_fit,
    "decomp_strength": _q_decomp_strength,
    "baseline_forecast": _q_baseline_forecast,
    "detect_seasonality": _q_detect_seasonality,
    "simhash_near_dups": _q_simhash_near_dups,
    "containment_pairs": _q_containment_pairs,
    # r8-window rows (driver-green in r8 — the freshest evidence)
    "sq8_error": _q_sq8_error,
    "ts_features": _q_ts_features,
    "pettitt": _q_pettitt,
    "mann_kendall": _q_mann_kendall,
    "seasonal_mk": _q_seasonal_mk,
    "roll_corr": _q_roll_corr,
    "forecast_accuracy": _q_forecast_accuracy,
    "ohlc_bars": _q_ohlc_bars,
    "turning_points": _q_turning_points,
    "page_hinkley": _q_page_hinkley,
    "runs_test": _q_runs_test,
    "variance_ratio": _q_variance_ratio,
    "ngram_novelty": _q_ngram_novelty,
    "spectral_entropy": _q_spectral_entropy,
    "slice": _q_slice,
    "quotients": _q_quotients,
    "upsample": _q_upsample,
    "trim_leading_trailing": _q_trim,
    "min_max_datetimes": _q_min_max_datetimes,
    "calendar_ops": _q_calendar_ops,
    "serde_roundtrip": _q_serde_roundtrip,
    "row_matrix_norms": _q_row_matrix_norms,
    "cosine_dup_pairs": _q_cosine_dup_pairs,
    "lsh_recall": _q_lsh_recall,
    "ivf_topk": _q_ivf_topk,
    "index_union": _q_index_union,
    "multimodal_meta": _q_multimodal_meta,
    "image_features": _q_image_features,
    "arima_forecast": _q_arima_forecast,
    "fill_next": _q_fill_next,
    "fill_nearest": _q_fill_nearest,
    "fill_zero": _q_fill_zero,
    "lags": _q_lags,
    "dedup_paragraphs": _q_dedup_paragraphs,
    "url_stats": _q_url_stats,
    "pq_recall": _q_pq_recall,
    "filter_by_instant": _q_filter_by_instant,
    "ivfpq_topk": _q_ivfpq_topk,
    "semantic_dedup": _q_semantic_dedup,
    "kmeans_assign": _q_kmeans_assign,
    "pretrain_clean": _q_pretrain_clean,
    "minhash_lsh_dedup": _q_minhash_lsh_dedup,
    "pack_sequences": _q_pack_sequences,
    # r9-window rows (driver-green in r9 — the freshest evidence)
    "srp_buckets": _q_srp_buckets,
    "sample_entropy": _q_sample_entropy,
    "theil_sen": _q_theil_sen,
    "macd": _q_macd,
    "rsi": _q_rsi,
    "bollinger": _q_bollinger,
    "embedding_dim_stats": _q_embedding_dim_stats,
    "realized_vol": _q_realized_vol,
    "parkinson_vol": _q_parkinson_vol,
    "coherence": _q_coherence,
    "intervention": _q_intervention,
    "dsir_weights": _q_dsir_weights,
    "hjorth": _q_hjorth,
    "nonlinearity": _q_nonlinearity,
    "fano": _q_fano,
    "fertility": _q_fertility,
    "adx": _q_adx,
    "vwap_bars": _q_vwap_bars,
    "demand_class": _q_demand_class,
    "var_es": _q_var_es,
    "mixture_epochs": _q_mixture_epochs,
    "remove_dup_spans": _q_remove_dup_spans,
    "video_frames": _q_video_frames,
    "dedup_exact": _q_dedup_exact,
    "text_quality": _q_text_quality,
    "token_count_by_source": _q_token_count_by_source,
    "token_count_bpe": _q_token_count_bpe,
    "fingerprint": _q_fingerprint,
    "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
    "lang_id": _q_lang_id,
    "quality_score": _q_quality_score,
    "lsh_topk": _q_lsh_topk,
    "winnowing_fingerprints": _q_winnowing_fingerprints,
    "auto_arima": _q_auto_arima,
    "garch_fit": _q_garch_fit,
    "egarch_fit": _q_egarch_fit,
    "arx_fit": _q_arx_fit,
    "arimax_forecast": _q_arimax_forecast,
    "regression_arima": _q_regression_arima,
    "holt_winters_fit": _q_holt_winters_fit,
    "dedup_lines": _q_dedup_lines,
    "incremental_dedup": _q_incremental_dedup,
    "roll_std": _q_roll_std,
    "crosscorr": _q_crosscorr,
    "lm3_perplexity": _q_lm3_perplexity,
    "corpus_stats": _q_corpus_stats,
    "seasonal_decompose": _q_seasonal_decompose,
    "pmi_pairs": _q_pmi_pairs,
    "outliers": _q_outliers,
    "token_entropy": _q_token_entropy,
    # -- r11-late: survival + event-cadence analytics ---------------------
    "kaplan_meier": _q_kaplan_meier,
    "weibull_fit": _q_weibull_fit,
    "interevent_stats": _q_interevent_stats,
    "engagement_hist": _q_engagement_hist,
    "type_diversity": _q_type_diversity,
    "capm": _q_capm,
    "microstructure": _q_microstructure,
    "white_noise": _q_white_noise,
    "intrinsic_dim": _q_intrinsic_dim,
    "pinball": _q_pinball,
    "cluster_separation": _q_cluster_separation,
    "spectral_flatness": _q_spectral_flatness,
    "fdr": _q_fdr,
    "cuped": _q_cuped,
    "srm": _q_srm,
    "ab_conv": _q_ab_conv,
    "gpd": _q_gpd,
    "nelson_aalen": _q_nelson_aalen,
    "log_rank": _q_log_rank,
    "haar_energy": _q_haar_energy,
    "compression_ratio": _q_compression_ratio,
    "mutual_information": _q_mutual_information,
    "transfer_entropy": _q_transfer_entropy,
    "k_anonymity": _q_k_anonymity,
    "profile_columns": _q_profile_columns,
    "pagerank": _q_pagerank,
    "dedup_canonical": _q_dedup_canonical,
    "source_dup_matrix": _q_source_dup_matrix,
    "silhouette": _q_silhouette,
    "ndcg": _q_ndcg,
    "savgol": _q_savgol,
    "kernel_smooth": _q_kernel_smooth,
    "ichimoku": _q_ichimoku,
    "mfi": _q_mfi,
    "risk_ratios": _q_risk_ratios,
    "msprt": _q_msprt,
    "ab_power": _q_ab_power,
    "eb_shrinkage": _q_eb_shrinkage,
    "did": _q_did,
    # --- r13 additions ---
    "stratified_log_rank": _q_stratified_log_rank,
    "rmst": _q_rmst,
    "cumulative_incidence": _q_cumulative_incidence,
    "roc_auc": _q_roc_auc,
    "mrr": _q_mrr,
    "cramers_v": _q_cramers_v,
    "cohens_d": _q_cohens_d,
    "welch_t": _q_welch_t,
    "mcnemar": _q_mcnemar,
    "wilcoxon_signed": _q_wilcoxon_signed,
    "odds_ratio": _q_odds_ratio,
    "friedman": _q_friedman,
    "chow": _q_chow,
    "l_diversity": _q_l_diversity,
    "brier": _q_brier,
    "average_precision": _q_average_precision,
    "concordance_index": _q_concordance_index,
    "log_loss": _q_log_loss,
    "classification_report": _q_classification_report,
    "lift_table": _q_lift_table,
    "g_test": _q_g_test,
    "cohen_kappa": _q_cohen_kappa,
    "cochran_armitage": _q_cochran_armitage,
    "anova_oneway": _q_anova_oneway,
    "kendall_tau_b": _q_kendall_tau_b,
    "energy_distance": _q_energy_distance,
    "partial_corr": _q_partial_corr,
    "theil_u": _q_theil_u,
    "hellinger": _q_hellinger,
}

# Driver window: the correctness harness records exactly the FIRST 50
# entries of queries(). Round-14 policy (the r13 verdict's rotation
# prescription, executed): (a) the 14 r13-new operators — the exact
# set-diff of the 360-query corpus vs every green row in
# CORRECTNESS_r01–r13 minus the permanently-adjudicated rows-only
# compression_ratio — promoting them closes the never-hashed set again;
# (b) the 11 remaining r6-tier rows, finishing the r6 staleness tier;
# (c) the 25 stalest r7-tier rows in registry order (the 18 remaining
# r7-tier rows roll to r15). Everything displaced retains
# full-strict-log evidence (tools/check_correctness log, refreshed in
# the same commit as every query/semantics change — the r5 lockstep
# rule).
_WINDOW_R14 = [
    # (a) the 14 r13-new operators — the only never-driver-hashed rows
    # after r13 (compression_ratio excepted, permanent rows-only).
    "stratified_log_rank",
    "rmst",
    "cumulative_incidence",
    "roc_auc",
    "mrr",
    "cramers_v",
    "cohens_d",
    "welch_t",
    "mcnemar",
    "wilcoxon_signed",
    "odds_ratio",
    "friedman",
    "chow",
    "l_diversity",
    # (b) the 11 remaining r6-tier rows — finishes the r6 staleness tier.
    "rebase_irregular",
    "rebase_uniform",
    "remove_instants_with_nans",
    "resample_daily_avg",
    "return_rates",
    "roll_mean",
    "roll_sum_center",
    "series_stats",
    "to_instants_pivot",
    "to_observations",
    "to_series_digest",
    # (c) the 25 stalest r7-tier rows in registry order (18 r7-tier rows
    # remain for r15: tfidf_topk ... containment_pairs).
    "sax",
    "paa",
    "peaks",
    "psi_drift",
    "cointegration",
    "threshold_runs",
    "gini_sources",
    "ks_drift",
    "roll_beta",
    "scale_suite",
    "matrix_profile",
    "asof_enrich",
    "roll_rank",
    "downsample_minmax",
    "sax_mindist",
    "embedding_drift",
    "croston",
    "counter_rate",
    "window_join_ctx",
    "max_drawdown",
    "changepoint",
    "hurst",
    "half_life",
    "corr_matrix",
    "readability",
]




def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict ORDER matters (driver window = first 50): the window list
    above leads, the remaining corpus follows in registry order."""
    win = set(_WINDOW_R14)
    out = {k: _ALL_QUERIES[k] for k in _WINDOW_R14}
    out.update({k: v for k, v in _ALL_QUERIES.items() if k not in win})
    return out


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

# prev/next bracketing values+positions — shared by fill_linear / fill_nearest
_AUG_SQL = """
    , aug AS (
        SELECT key, loc, ts, value,
            last_value(value IGNORE NULLS) OVER wb AS pv,
            last_value(CASE WHEN value IS NOT NULL THEN loc END IGNORE NULLS)
                OVER wb AS pi,
            first_value(value IGNORE NULLS) OVER wf AS nv,
            first_value(CASE WHEN value IS NOT NULL THEN loc END IGNORE NULLS)
                OVER wf AS ni
        FROM grid
        WINDOW wb AS (PARTITION BY key ORDER BY loc
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY key ORDER BY loc
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
"""

# linear → previous → next fill chain (dense, non-null everywhere a key has
# any data) — mirrors the Spark-side prep of the EWMA/Holt-Winters queries
_PAIR_LEVELS_SQL = _DAILY_GRID_SQL + """
    , nn AS (SELECT key, loc, value FROM grid WHERE value IS NOT NULL),
    pa AS (SELECT loc AS l, value AS va FROM nn WHERE key = '1'),
    pb AS (SELECT loc AS l, value AS vb FROM nn WHERE key = '2'),
    jj AS (SELECT pa.l, va, vb FROM pa JOIN pb ON pa.l = pb.l)
"""

_FILLED_SQL = _AUG_SQL + """
    , lin AS (
        -- parenthesized exactly like the engine (frac computed first):
        -- pv + (nv-pv)*frac, frac = (loc-pi)/(ni-pi) — keeps the fill
        -- bit-identical so the downstream smoothing recursion matches too
        SELECT key, loc, ts,
               CASE WHEN value IS NOT NULL THEN value
                    WHEN pv IS NULL OR nv IS NULL THEN NULL
                    ELSE pv + (nv - pv) * ((CAST(loc AS DOUBLE) - pi) / (ni - pi))
               END AS value
        FROM aug
    ),
    fprev AS (
        SELECT key, loc, ts,
               last_value(value IGNORE NULLS) OVER (
                   PARTITION BY key ORDER BY loc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        FROM lin
    ),
    filled AS (
        SELECT key, loc, ts,
               first_value(value IGNORE NULLS) OVER (
                   PARTITION BY key ORDER BY loc
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS value
        FROM fprev
    )
"""

_IRREG_VALUES = ", ".join(
    f"({i}, TIMESTAMP '{t}')" for i, t in enumerate(_IRREG_INSTANTS)
)

# -- cross-engine hash / vector SQL helpers ---------------------------------
from spark_timeseries_spark.functions import hash60_sql as _h60  # noqa: E402


def _cos_sql(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )


def _planes_values_sql(dim: int = 64, n_planes: int = 8, seed: int = 42) -> str:
    """The seeded hyperplane matrix used by lsh_topk, as literal VALUES rows
    (pi, pv DOUBLE[]) — repr() round-trips doubles exactly."""
    from spark_timeseries_spark.pipeline.dedup import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    return ", ".join(
        "(" + str(i) + ", [" + ", ".join(repr(float(v)) for v in row) + "]::DOUBLE[])"
        for i, row in enumerate(planes)
    )


def _stable_round(col, digits: int):
    """Half-up rounding with the boundary nudged by 1e-6: floor(x·10^d +
    0.500001)/10^d, mirrored exactly in the oracle SQL (:func:`_sr_sql`).
    Inputs with few decimals can put a derived statistic EXACTLY on a .5
    rounding boundary, where ~1e-13 cross-engine fp noise flips plain
    ROUND() — the nudge absorbs any |noise| < 1e-6 · 10^-d."""
    s = float(10**digits)
    return F.floor(col * s + F.lit(0.500001)) / s


def _sr_sql(expr: str, digits: int) -> str:
    s = 10**digits
    return f"FLOOR(({expr}) * {s} + 0.500001) / {s}"


# per-key 0-based event sequence — shared by the model/test oracles (events
# have no duplicate (user_id, ts), so the order is deterministic)
_EVSEQ_SQL = """
    e AS (
        SELECT CAST(user_id AS VARCHAR) AS key, value,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1
                    AS BIGINT) AS t
        FROM events
    )
"""

def _hurst_sql(sizes=(8, 16, 32)) -> str:
    """Full replay of ``operators.features.hurst_rs`` over the per-key
    event sequence: per block size m — complete tiles over the event rank,
    cumulative demeaned deviations (running window sum, same sequential
    order as the engine's sorted-array scan), R/S per block with the
    S > 0 gate — then size means and the closed-form log-log OLS slope."""
    parts = ["WITH " + _EVSEQ_SQL]
    for m in sizes:
        parts.append(f"""
    , b{m} AS (
        SELECT key, CAST(FLOOR(t / {m}.0) AS BIGINT) AS b, t, value,
               avg(value) OVER wb AS mu,
               count(*) OVER wb AS c,
               stddev_pop(value) OVER wb AS sd
        FROM e
        WINDOW wb AS (PARTITION BY key, CAST(FLOOR(t / {m}.0) AS BIGINT))
    ),
    z{m} AS (
        SELECT key, b, c, sd,
               sum(value - mu) OVER (PARTITION BY key, b ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z
        FROM b{m}
    ),
    r{m} AS (
        SELECT key, CAST({m} AS DOUBLE) AS m,
               (max(z) - min(z)) / max(sd) AS rs
        FROM z{m} WHERE c = {m} AND sd > 0
        GROUP BY key, b
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM r{m}" for m in sizes)
    parts.append(f"""
    , allr AS ({union}),
    mn AS (SELECT key, m, avg(rs) AS rsbar FROM allr GROUP BY 1, 2),
    reg AS (
        SELECT key, count(*) AS k,
               sum(ln(m)) AS sx, sum(ln(rsbar)) AS sy,
               sum(ln(m) * ln(rsbar)) AS sxy, sum(ln(m) * ln(m)) AS sxx
        FROM mn WHERE rsbar > 0 GROUP BY 1
    )
    SELECT key,
           CASE WHEN k >= 2 THEN
               {_sr_sql('(k * sxy - sx * sy) / (k * sxx - sx * sx)', 6)}
           END AS hurst
    FROM reg""")
    return "".join(parts)


def _rep_features_sql(ns=(2, 3, 4)) -> str:
    """CTE block replaying ``pipeline.text.repetition_features`` exactly:
    relation ``rep`` with doc_id, n_lines, dup_line_ratio,
    dup_line_char_ratio, top{n}gram_char_ratio. Tie-break parity: Spark's
    max(struct(cnt, gram)) picks the lexicographically LARGEST gram among
    max-count n-grams → ORDER BY cnt DESC, gram DESC here."""
    parts = [r"""
    WITH lines AS (
        SELECT doc_id, trim(l) AS line
        FROM documents, unnest(string_split(text, chr(10))) AS t(l)
    ),
    ls AS (
        SELECT doc_id, line, COUNT(*) AS cnt, length(line) AS len
        FROM lines WHERE line != '' GROUP BY 1, 2
    ),
    lagg AS (
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_lines,
               1.0 - COUNT(*) / CAST(SUM(cnt) AS DOUBLE) AS dup_line_ratio,
               CASE WHEN SUM(cnt*len) = 0 THEN 0.0
                    ELSE SUM((cnt-1)*len) / CAST(SUM(cnt*len) AS DOUBLE)
               END AS dup_line_char_ratio
        FROM ls GROUP BY 1
    ),
    toked AS (
        SELECT doc_id, length(text) AS tlen,
               regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        FROM documents
    )"""]
    for n in ns:
        parts.append(f"""
    , g{n} AS (
        SELECT doc_id, tlen,
               array_to_string(toks[i:i+{n - 1}], ' ') AS gram
        FROM toked, unnest(range(1, len(toks) - {n - 2})) AS r(i)
        WHERE len(toks) >= {n}
    ),
    gc{n} AS (
        SELECT doc_id, tlen, gram, COUNT(*) AS cnt,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY COUNT(*) DESC, gram DESC) AS rk
        FROM g{n} GROUP BY 1, 2, 3
    ),
    top{n} AS (
        SELECT doc_id, cnt * length(gram) / CAST(tlen AS DOUBLE) AS ratio
        FROM gc{n} WHERE rk = 1
    )""")
    tops = ",\n".join(
        f"               COALESCE(top{n}.ratio, 0.0) AS top{n}gram_char_ratio"
        for n in ns
    )
    joins = "\n".join(f"        LEFT JOIN top{n} USING (doc_id)" for n in ns)
    parts.append(f"""
    , rep AS (
        SELECT d.doc_id,
               COALESCE(lagg.n_lines, 0) AS n_lines,
               COALESCE(lagg.dup_line_ratio, 0.0) AS dup_line_ratio,
               COALESCE(lagg.dup_line_char_ratio, 0.0) AS dup_line_char_ratio,
{tops}
        FROM documents d
        LEFT JOIN lagg USING (doc_id)
{joins}
    )""")
    return "".join(parts)


def _scrub_pii_sql() -> str:
    """DuckDB replay of _q_scrub_pii: identical PII-salted input, the same
    ordered regexp_replace chain from ``pipeline.text.PII_PATTERNS``, and
    per-kind pre-scrub match counts."""
    from spark_timeseries_spark.pipeline.text import PII_PATTERNS

    salt = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@example.com or 192.168.0.' || CAST(doc_id AS VARCHAR) || "
        "' tel +1 555 0100 100'"
    )
    chain = "t"
    for kind, pat in PII_PATTERNS:
        chain = f"regexp_replace({chain}, '{pat}', '[{kind}]', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all(t, '{pat}')) AS n_{kind}"
        for kind, pat in PII_PATTERNS
    )
    return f"""
        WITH s AS (
            SELECT doc_id, {salt} AS t FROM documents
        )
        SELECT doc_id, md5({chain}) AS scrubbed_md5, {counts}
        FROM s
    """


# trivially-true certificate shape: keys × (n, TRUE) — the content of the
# check is that the Spark side's per-series optimizer certificate must come
# back ok for EVERY series (a fit failure or a worse-than-start optimum
# hashes as false and fails the row)
_CERT_SQL = """
    SELECT CAST(user_id AS VARCHAR) AS key, COUNT(value) AS n, TRUE AS ok
    FROM events {where} GROUP BY 1
"""

_SIMHASH_VOTES = ",\n                   ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(60)
)
_SIMHASH_SIG = "\n                     + ".join(
    f"CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    for i in range(60)
)


def oracle_sql() -> dict[str, str]:
    o = {
        "max_drawdown": _DAILY_GRID_SQL
        + f"""
            , dd AS (
                SELECT key, loc, value,
                       max(value) OVER (PARTITION BY key ORDER BY loc
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS peak
                FROM grid
            ),
            d2 AS (
                SELECT key, loc, value / peak - 1.0 AS ddv, peak, value
                FROM dd WHERE value IS NOT NULL
            ),
            rk AS (
                SELECT key, loc, ddv, peak, value,
                       row_number() OVER (PARTITION BY key
                           ORDER BY ddv ASC, loc ASC) AS rn
                FROM d2
            )
            SELECT key, {_sr_sql('ddv', 6)} AS max_dd, loc AS trough_loc,
                   peak AS peak_value, value AS trough_value
            FROM rk WHERE rn = 1
        """,
        "changepoint": _DAILY_GRID_SQL
        + f"""
            , obs AS (
                SELECT key, loc, value,
                       count(value) OVER wc AS i, sum(value) OVER wc AS s,
                       count(value) OVER wk AS n, sum(value) OVER wk AS t
                FROM grid WHERE value IS NOT NULL
                WINDOW wc AS (PARTITION BY key ORDER BY loc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       wk AS (PARTITION BY key)
            ),
            st AS (
                SELECT key, loc, i, s / i AS ml, (t - s) / (n - i) AS mr,
                       FLOOR(sqrt(i * (n - i) / CAST(n AS DOUBLE))
                             * abs(s / i - (t - s) / (n - i))
                             * 1000000 + 0.500001) / 1000000 AS statr
                FROM obs WHERE i >= 2 AND i <= n - 2 AND n >= 4
            ),
            rk AS (
                SELECT key, loc, statr, ml, mr,
                       row_number() OVER (PARTITION BY key
                           ORDER BY statr DESC, i ASC) AS rn
                FROM st
            )
            SELECT key, loc AS cp_loc, statr AS stat,
                   {_sr_sql('ml', 6)} AS mean_left,
                   {_sr_sql('mr', 6)} AS mean_right
            FROM rk WHERE rn = 1
        """,
        "sax": _DAILY_GRID_SQL
        + """
            , obs AS (SELECT key, loc, value FROM grid
                      WHERE value IS NOT NULL),
            st AS (
                SELECT key, loc, value,
                       avg(value) OVER (PARTITION BY key) AS mu,
                       stddev_pop(value) OVER (PARTITION BY key) AS sd,
                       row_number() OVER (PARTITION BY key ORDER BY loc) - 1
                           AS rk,
                       count(*) OVER (PARTITION BY key) AS n
                FROM obs
            ),
            z AS (
                SELECT key, sd, n,
                       CAST(FLOOR(rk * 8 / n) AS BIGINT) AS seg,
                       CASE WHEN sd > 0 THEN (value - mu) / sd END AS zv
                FROM st
            ),
            segs AS (
                SELECT key, seg, avg(zv) AS paa, max(sd) AS sd, max(n) AS n
                FROM z GROUP BY 1, 2
            ),
            sym AS (
                SELECT key, seg, sd, n,
                       substr('abcd',
                              1 + (CASE WHEN paa >= -0.67 THEN 1 ELSE 0 END
                                 + CASE WHEN paa >= 0.0 THEN 1 ELSE 0 END
                                 + CASE WHEN paa >= 0.67 THEN 1 ELSE 0 END),
                              1) AS s
                FROM segs
            )
            SELECT key, CAST(max(n) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_segments,
                   CASE WHEN max(sd) > 0
                        THEN string_agg(s, '' ORDER BY seg) END AS sax
            FROM sym GROUP BY key
        """,
        "paa": _DAILY_GRID_SQL
        + f"""
            , obs AS (SELECT key, loc, value FROM grid
                      WHERE value IS NOT NULL),
            st AS (
                SELECT key, value,
                       row_number() OVER (PARTITION BY key ORDER BY loc) - 1
                           AS rk,
                       count(*) OVER (PARTITION BY key) AS n
                FROM obs
            )
            SELECT key, CAST(FLOOR(rk * 4 / n) AS BIGINT) AS seg,
                   CAST(count(*) AS BIGINT) AS seg_n,
                   {_sr_sql('avg(value)', 6)} AS paa
            FROM st GROUP BY 1, 2
        """,
        "peaks": _DAILY_GRID_SQL
        + f"""
            , obs AS (SELECT key, loc, value FROM grid
                      WHERE value IS NOT NULL),
            w AS (
                SELECT key, loc, value,
                       count(value) OVER lw AS ln, max(value) OVER lw AS lm,
                       count(value) OVER rw AS rn, max(value) OVER rw AS rm
                FROM obs
                WINDOW lw AS (PARTITION BY key ORDER BY loc
                              ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING),
                       rw AS (PARTITION BY key ORDER BY loc
                              ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING)
            )
            SELECT key, loc, value,
                   {_sr_sql('value - GREATEST(lm, rm)', 6)} AS depth
            FROM w
            WHERE ln = 2 AND rn = 2 AND value > lm AND value > rm
        """,
        "psi_drift": f"""
            WITH r AS (SELECT value FROM events
                       WHERE ts < TIMESTAMP '2024-01-16'
                         AND value IS NOT NULL),
            c AS (SELECT value FROM events
                  WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL),
            e AS (SELECT min(value) AS lo,
                         (max(value) - min(value)) / 10 AS w
                  FROM r),
            rb AS (
                SELECT CAST(LEAST(GREATEST(
                           FLOOR((value - lo) / w), 0), 9) AS BIGINT) AS bin,
                       count(*) AS cnt
                FROM r, e GROUP BY 1
            ),
            cb AS (
                SELECT CAST(LEAST(GREATEST(
                           FLOOR((value - lo) / w), 0), 9) AS BIGINT) AS bin,
                       count(*) AS cnt
                FROM c, e GROUP BY 1
            ),
            rp AS (SELECT bin, cnt / (SELECT sum(cnt) FROM rb) AS p FROM rb),
            cp AS (SELECT bin, cnt / (SELECT sum(cnt) FROM cb) AS p FROM cb),
            j AS (
                SELECT COALESCE(rp.bin, cp.bin) AS bin,
                       COALESCE(rp.p, 0.0) AS p_ref,
                       COALESCE(cp.p, 0.0) AS p_cur
                FROM rp FULL OUTER JOIN cp ON rp.bin = cp.bin
            )
            SELECT bin, {_sr_sql('p_ref', 6)} AS p_ref,
                   {_sr_sql('p_cur', 6)} AS p_cur,
                   {_sr_sql(
                       '(GREATEST(p_cur, 1e-4) - GREATEST(p_ref, 1e-4))'
                       ' * ln(GREATEST(p_cur, 1e-4) / GREATEST(p_ref, 1e-4))',
                       6)} AS contrib
            FROM j
        """,
        "cointegration": _DAILY_GRID_SQL + _FILLED_SQL
        + f"""
            , pair AS (
                SELECT a.loc AS loc, a.value AS y, b.value AS x
                FROM filled a JOIN filled b USING (loc)
                WHERE a.key = '1' AND b.key = '2'
                  AND a.value IS NOT NULL AND b.value IS NOT NULL
            ),
            ols AS (
                SELECT covar_samp(y, x) / var_samp(x) AS beta,
                       avg(y) - covar_samp(y, x) / var_samp(x) * avg(x)
                           AS alpha,
                       CAST(count(*) AS BIGINT) AS n
                FROM pair
            ),
            e AS (
                SELECT loc, y - ols.alpha - ols.beta * x AS ev
                FROM pair, ols
            ),
            d AS (
                SELECT ev, lag(ev) OVER (ORDER BY loc) AS el FROM e
            ),
            dd AS (SELECT ev - el AS de, el FROM d WHERE el IS NOT NULL),
            g AS (
                SELECT sum(el * de) / sum(el * el) AS gamma,
                       count(*) AS m, sum(el * el) AS see
                FROM dd
            ),
            s AS (
                SELECT g.gamma AS gamma, g.m AS m, g.see AS see,
                       sum((dd.de - g.gamma * dd.el)
                           * (dd.de - g.gamma * dd.el)) AS ssr
                FROM dd, g GROUP BY 1, 2, 3
            )
            SELECT '1' AS lhs, '2' AS rhs, ols.n AS n,
                   {_sr_sql('ols.alpha', 6)} AS alpha,
                   {_sr_sql('ols.beta', 6)} AS beta,
                   {_sr_sql(
                       'gamma / sqrt((ssr / (m - 1)) / see)', 5)} AS adf_stat,
                   gamma / sqrt((ssr / (m - 1)) / see) < -3.34
                       AS cointegrated_5pct
            FROM s, ols
        """,
        "threshold_runs": _DAILY_GRID_SQL
        + f"""
            , rn AS (
                SELECT key, loc, value,
                       row_number() OVER (PARTITION BY key ORDER BY loc)
                           AS rk
                FROM grid
            ),
            ab AS (
                SELECT key, loc, value,
                       rk - row_number()
                           OVER (PARTITION BY key ORDER BY loc) AS grp
                FROM rn WHERE value IS NOT NULL AND value > 60.0
            )
            SELECT key, min(loc) AS start_loc, max(loc) AS end_loc,
                   CAST(count(*) AS BIGINT) AS length,
                   max(value) AS max_value,
                   {_sr_sql('sum(value - 60.0)', 6)} AS sum_excess
            FROM ab GROUP BY key, grp
        """,
        "gini_sources": f"""
            WITH d AS (
                SELECT source, CAST(length(text) AS DOUBLE) AS v
                FROM documents
            ),
            r AS (
                SELECT source, v,
                       CAST(row_number()
                            OVER (PARTITION BY source ORDER BY v)
                            AS DOUBLE) AS i
                FROM d
            ),
            a AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n,
                       sum(v) AS total, sum(i * v) AS iw, min(v) AS lo
                FROM r GROUP BY source
            )
            SELECT source, n, total,
                   CASE WHEN total > 0 AND lo >= 0 THEN
                       {_sr_sql(
                           '2.0 * iw / (CAST(n AS DOUBLE) * total)'
                           ' - (CAST(n AS DOUBLE) + 1.0)'
                           ' / CAST(n AS DOUBLE)', 6)}
                   END AS gini
            FROM a
        """,
        "mann_kendall": _DAILY_GRID_SQL
        + f"""
            , obs AS (SELECT key, loc, value FROM grid
                      WHERE value IS NOT NULL),
            pr AS (
                SELECT a.key AS key,
                       CAST(sum(CAST(sign(b.value - a.value) AS BIGINT))
                            AS BIGINT) AS s
                FROM obs a JOIN obs b ON a.key = b.key AND a.loc < b.loc
                GROUP BY 1
            ),
            nn AS (SELECT key, CAST(count(*) AS BIGINT) AS n
                   FROM obs GROUP BY 1),
            tt AS (
                SELECT key, sum(t * (t - 1) * (2 * t + 5)) AS tie FROM (
                    SELECT key, value, CAST(count(*) AS DOUBLE) AS t
                    FROM obs GROUP BY 1, 2
                ) GROUP BY 1
            ),
            v AS (
                SELECT nn.key AS key, nn.n AS n, pr.s AS s,
                       CASE WHEN nn.n >= 3 THEN
                           (CAST(nn.n AS DOUBLE) * (nn.n - 1)
                            * (2 * nn.n + 5) - tt.tie) / 18.0
                       END AS var_s
                FROM nn LEFT JOIN pr USING (key) LEFT JOIN tt USING (key)
            )
            SELECT key, n, s, {_sr_sql('var_s', 6)} AS var_s,
                   {_sr_sql(
                       'CASE WHEN var_s IS NULL OR var_s <= 0 THEN NULL'
                       ' WHEN s > 0 THEN (s - 1) / sqrt(var_s)'
                       ' WHEN s < 0 THEN (s + 1) / sqrt(var_s)'
                       ' ELSE 0.0 END', 6)} AS z
            FROM v
        """,
        "ks_drift": f"""
            WITH r AS (SELECT value AS v FROM events
                       WHERE ts < TIMESTAMP '2024-01-16'
                         AND value IS NOT NULL),
            c AS (SELECT value AS v FROM events
                  WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL),
            u AS (
                SELECT v, sum(nr) AS nr, sum(nc) AS nc FROM (
                    SELECT v, 1 AS nr, 0 AS nc FROM r
                    UNION ALL SELECT v, 0 AS nr, 1 AS nc FROM c
                ) GROUP BY v
            ),
            e AS (
                SELECT sum(nr) OVER wc
                           / CAST((SELECT count(*) FROM r) AS DOUBLE)
                     - sum(nc) OVER wc
                           / CAST((SELECT count(*) FROM c) AS DOUBLE)
                           AS gap
                FROM u
                WINDOW wc AS (ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)
            ),
            d AS (
                SELECT max(abs(gap)) AS d_stat,
                       (SELECT CAST(count(*) AS BIGINT) FROM r) AS n_ref,
                       (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_cur
                FROM e
            ),
            l AS (
                SELECT d_stat, n_ref, n_cur,
                       d_stat * sqrt(CAST(n_ref AS DOUBLE) * n_cur
                                     / (n_ref + n_cur)) AS lam
                FROM d
            ),
            ser AS (
                SELECT l.d_stat AS d_stat, l.n_ref AS n_ref,
                       l.n_cur AS n_cur, l.lam AS lam,
                       2 * sum(CASE WHEN k % 2 = 1 THEN 1.0 ELSE -1.0 END
                               * exp(-2.0 * k * k * l.lam * l.lam)) AS praw
                FROM l, generate_series(1, 100) t(k)
                GROUP BY 1, 2, 3, 4
            )
            SELECT n_ref, n_cur, {_sr_sql('d_stat', 6)} AS d_stat,
                   {_sr_sql(
                       'CASE WHEN lam <= 0.2 THEN 1.0'
                       ' ELSE LEAST(GREATEST(praw, 0.0), 1.0) END',
                       6)} AS p_value
            FROM ser
        """,
        "roll_beta": _DAILY_GRID_SQL + _FILLED_SQL
        + f"""
            , pair AS (
                SELECT a.loc AS loc, a.value AS av, b.value AS bv
                FROM filled a JOIN filled b USING (loc)
                WHERE a.key = '1' AND b.key = '2'
            ),
            w AS (
                SELECT loc,
                       count(*) OVER fr AS rows_,
                       covar_samp(av, bv) OVER fr AS cab,
                       var_samp(bv) OVER fr AS vb,
                       avg(av) OVER fr AS ma, avg(bv) OVER fr AS mb
                FROM pair
                WINDOW fr AS (ORDER BY loc
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            )
            SELECT loc,
                   {_sr_sql('CASE WHEN vb > 0 THEN cab / vb END', 6)}
                       AS beta,
                   {_sr_sql(
                       'CASE WHEN vb > 0 THEN ma - cab / vb * mb END', 6)}
                       AS alpha
            FROM w WHERE rows_ = 7
        """,
        "scale_suite": _DAILY_GRID_SQL
        + f"""
            , obs AS (SELECT key, loc, value FROM grid
                      WHERE value IS NOT NULL),
            zs AS (
                SELECT key, avg(value) AS mu, stddev_samp(value) AS sd,
                       min(value) AS lo, max(value) - min(value) AS rng,
                       quantile_cont(value, 0.5) AS med
                FROM obs GROUP BY key
            ),
            mad AS (
                SELECT obs.key AS key,
                       quantile_cont(abs(obs.value - zs.med), 0.5)
                           * 1.4826 AS spr
                FROM obs JOIN zs USING (key) GROUP BY 1
            )
            SELECT obs.key AS key, obs.loc AS loc,
                   {_sr_sql(
                       'CASE WHEN sd > 0 THEN (value - mu) / sd END', 6)}
                       AS z,
                   {_sr_sql(
                       'CASE WHEN spr > 0 THEN (value - med) / spr END',
                       6)} AS rz,
                   {_sr_sql(
                       'CASE WHEN rng > 0 THEN (value - lo) / rng END',
                       6)} AS mm
            FROM obs JOIN zs USING (key) JOIN mad USING (key)
        """,
        "matrix_profile": _DAILY_GRID_SQL + _FILLED_SQL
        + f"""
            , arr AS (
                SELECT key, list(value ORDER BY loc) AS vs,
                       list(loc ORDER BY loc) AS ls
                FROM filled WHERE value IS NOT NULL GROUP BY key
            ),
            idx AS (SELECT CAST(g AS INT) AS i
                    FROM generate_series(1, 10000) t(g)),
            wins AS (
                SELECT key, i, ls[i] AS loc,
                       list_slice(vs, i, i + 6) AS w
                FROM arr JOIN idx ON i <= len(vs) - 6
            ),
            st AS (SELECT key, i, loc, w, list_avg(w) AS mu FROM wins),
            st2 AS (
                SELECT key, i, loc, w, mu,
                       sqrt(list_avg(list_transform(
                           w, x -> (x - mu) * (x - mu)))) AS sd
                FROM st
            ),
            pr AS (
                SELECT a.key AS key, a.i AS i, a.loc AS loc,
                       max(a.sd) AS sda,
                       min(CASE WHEN a.sd > 0 AND b.sd > 0
                                 AND abs(a.i - b.i) >= 2
                            THEN 2.0 * 7 * (1.0
                                 - (list_dot_product(a.w, b.w)
                                    - 7.0 * a.mu * b.mu)
                                   / (7.0 * a.sd * b.sd))
                       END) AS d2
                FROM st2 a JOIN st2 b
                  ON a.key = b.key AND a.i <> b.i
                GROUP BY 1, 2, 3
            )
            SELECT key, loc,
                   {_sr_sql(
                       'CASE WHEN sda > 0 AND d2 IS NOT NULL'
                       ' THEN sqrt(GREATEST(d2, 0.0)) END', 6)} AS mp
            FROM pr
        """,
        "asof_enrich": _DAILY_GRID_SQL
        + """
            SELECT CAST(e.user_id AS VARCHAR) AS key, e.ts AS ts,
                   e.value AS value, g.ts AS ts_right, g.value AS davg
            FROM events e
            ASOF LEFT JOIN grid g
              ON CAST(e.user_id AS VARCHAR) = g.key AND e.ts >= g.ts
        """,
        "roll_rank": _DAILY_GRID_SQL
        + """
            , w AS (
                SELECT key, loc, value,
                       count(*) OVER fr AS rows_,
                       count(value) OVER fr AS vals_,
                       list(value) OVER fr AS arr
                FROM grid
                WINDOW fr AS (PARTITION BY key ORDER BY loc
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            )
            SELECT key, loc,
                   CASE WHEN vals_ = 7 THEN
                       len(list_filter(arr, x -> x <= value)) / 7.0
                   END AS rank
            FROM w WHERE rows_ = 7
        """,
        "downsample_minmax": _DAILY_GRID_SQL
        + """
            , obs AS (SELECT key, loc, value FROM grid
                      WHERE value IS NOT NULL),
            rk AS (
                SELECT key, loc, value,
                       row_number() OVER (PARTITION BY key ORDER BY loc)
                           - 1 AS rk,
                       count(*) OVER (PARTITION BY key) AS n
                FROM obs
            ),
            bk AS (
                SELECT key, loc, value,
                       CAST(FLOOR(rk * 6 / n) AS BIGINT) AS bucket
                FROM rk
            ),
            picked AS (
                SELECT key, bucket, loc, value,
                       row_number() OVER (PARTITION BY key, bucket
                                          ORDER BY value ASC, loc ASC)
                           AS rmin,
                       row_number() OVER (PARTITION BY key, bucket
                                          ORDER BY value DESC, loc ASC)
                           AS rmax
                FROM bk
            )
            SELECT key, bucket, loc, value FROM picked
            WHERE rmin = 1 OR rmax = 1
        """,
        "sax_mindist": _DAILY_GRID_SQL + _FILLED_SQL
        + f"""
            , obs AS (SELECT key, loc, value FROM filled
                      WHERE value IS NOT NULL),
            st AS (
                SELECT key, loc, value,
                       avg(value) OVER (PARTITION BY key) AS mu,
                       stddev_pop(value) OVER (PARTITION BY key) AS sd,
                       row_number() OVER (PARTITION BY key ORDER BY loc) - 1
                           AS rk,
                       count(*) OVER (PARTITION BY key) AS n
                FROM obs
            ),
            z AS (
                SELECT key, sd, n,
                       CAST(FLOOR(rk * 8 / n) AS BIGINT) AS seg,
                       CASE WHEN sd > 0 THEN (value - mu) / sd END AS zv
                FROM st
            ),
            segs AS (
                SELECT key, seg, avg(zv) AS paa, max(sd) AS sd, max(n) AS n
                FROM z GROUP BY 1, 2
            ),
            sym AS (
                SELECT key, seg, sd, n,
                       substr('abcd',
                              1 + (CASE WHEN paa >= -0.67 THEN 1 ELSE 0 END
                                 + CASE WHEN paa >= 0.0 THEN 1 ELSE 0 END
                                 + CASE WHEN paa >= 0.67 THEN 1 ELSE 0 END),
                              1) AS s
                FROM segs
            ),
            words AS (
                SELECT key, CAST(max(n) AS BIGINT) AS n,
                       count(*) AS nseg, max(sd) AS sd,
                       string_agg(s, '' ORDER BY seg) AS w8
                FROM sym GROUP BY key
            ),
            ww AS (SELECT key, n, w8 FROM words WHERE sd > 0 AND nseg = 8),
            pr AS (
                SELECT a.key AS key_a, b.key AS key_b, a.n AS n,
                       a.w8 AS wa, b.w8 AS wb
                FROM ww a JOIN ww b ON a.key < b.key AND a.n = b.n
            ),
            md AS (
                SELECT key_a, key_b, n,
                       sqrt(CAST(n AS DOUBLE) / 8) * sqrt(
                 (CASE WHEN GREATEST((ascii(substr(wa, 1, 1)) - 97), (ascii(substr(wb, 1, 1)) - 97)) - LEAST((ascii(substr(wa, 1, 1)) - 97), (ascii(substr(wb, 1, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 1, 1)) - 97), (ascii(substr(wb, 1, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 1, 1)) - 97), (ascii(substr(wb, 1, 1)) - 97)) + 1] END) * (CASE WHEN GREATEST((ascii(substr(wa, 1, 1)) - 97), (ascii(substr(wb, 1, 1)) - 97)) - LEAST((ascii(substr(wa, 1, 1)) - 97), (ascii(substr(wb, 1, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 1, 1)) - 97), (ascii(substr(wb, 1, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 1, 1)) - 97), (ascii(substr(wb, 1, 1)) - 97)) + 1] END)
                 + (CASE WHEN GREATEST((ascii(substr(wa, 2, 1)) - 97), (ascii(substr(wb, 2, 1)) - 97)) - LEAST((ascii(substr(wa, 2, 1)) - 97), (ascii(substr(wb, 2, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 2, 1)) - 97), (ascii(substr(wb, 2, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 2, 1)) - 97), (ascii(substr(wb, 2, 1)) - 97)) + 1] END) * (CASE WHEN GREATEST((ascii(substr(wa, 2, 1)) - 97), (ascii(substr(wb, 2, 1)) - 97)) - LEAST((ascii(substr(wa, 2, 1)) - 97), (ascii(substr(wb, 2, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 2, 1)) - 97), (ascii(substr(wb, 2, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 2, 1)) - 97), (ascii(substr(wb, 2, 1)) - 97)) + 1] END)
                 + (CASE WHEN GREATEST((ascii(substr(wa, 3, 1)) - 97), (ascii(substr(wb, 3, 1)) - 97)) - LEAST((ascii(substr(wa, 3, 1)) - 97), (ascii(substr(wb, 3, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 3, 1)) - 97), (ascii(substr(wb, 3, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 3, 1)) - 97), (ascii(substr(wb, 3, 1)) - 97)) + 1] END) * (CASE WHEN GREATEST((ascii(substr(wa, 3, 1)) - 97), (ascii(substr(wb, 3, 1)) - 97)) - LEAST((ascii(substr(wa, 3, 1)) - 97), (ascii(substr(wb, 3, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 3, 1)) - 97), (ascii(substr(wb, 3, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 3, 1)) - 97), (ascii(substr(wb, 3, 1)) - 97)) + 1] END)
                 + (CASE WHEN GREATEST((ascii(substr(wa, 4, 1)) - 97), (ascii(substr(wb, 4, 1)) - 97)) - LEAST((ascii(substr(wa, 4, 1)) - 97), (ascii(substr(wb, 4, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 4, 1)) - 97), (ascii(substr(wb, 4, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 4, 1)) - 97), (ascii(substr(wb, 4, 1)) - 97)) + 1] END) * (CASE WHEN GREATEST((ascii(substr(wa, 4, 1)) - 97), (ascii(substr(wb, 4, 1)) - 97)) - LEAST((ascii(substr(wa, 4, 1)) - 97), (ascii(substr(wb, 4, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 4, 1)) - 97), (ascii(substr(wb, 4, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 4, 1)) - 97), (ascii(substr(wb, 4, 1)) - 97)) + 1] END)
                 + (CASE WHEN GREATEST((ascii(substr(wa, 5, 1)) - 97), (ascii(substr(wb, 5, 1)) - 97)) - LEAST((ascii(substr(wa, 5, 1)) - 97), (ascii(substr(wb, 5, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 5, 1)) - 97), (ascii(substr(wb, 5, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 5, 1)) - 97), (ascii(substr(wb, 5, 1)) - 97)) + 1] END) * (CASE WHEN GREATEST((ascii(substr(wa, 5, 1)) - 97), (ascii(substr(wb, 5, 1)) - 97)) - LEAST((ascii(substr(wa, 5, 1)) - 97), (ascii(substr(wb, 5, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 5, 1)) - 97), (ascii(substr(wb, 5, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 5, 1)) - 97), (ascii(substr(wb, 5, 1)) - 97)) + 1] END)
                 + (CASE WHEN GREATEST((ascii(substr(wa, 6, 1)) - 97), (ascii(substr(wb, 6, 1)) - 97)) - LEAST((ascii(substr(wa, 6, 1)) - 97), (ascii(substr(wb, 6, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 6, 1)) - 97), (ascii(substr(wb, 6, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 6, 1)) - 97), (ascii(substr(wb, 6, 1)) - 97)) + 1] END) * (CASE WHEN GREATEST((ascii(substr(wa, 6, 1)) - 97), (ascii(substr(wb, 6, 1)) - 97)) - LEAST((ascii(substr(wa, 6, 1)) - 97), (ascii(substr(wb, 6, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 6, 1)) - 97), (ascii(substr(wb, 6, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 6, 1)) - 97), (ascii(substr(wb, 6, 1)) - 97)) + 1] END)
                 + (CASE WHEN GREATEST((ascii(substr(wa, 7, 1)) - 97), (ascii(substr(wb, 7, 1)) - 97)) - LEAST((ascii(substr(wa, 7, 1)) - 97), (ascii(substr(wb, 7, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 7, 1)) - 97), (ascii(substr(wb, 7, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 7, 1)) - 97), (ascii(substr(wb, 7, 1)) - 97)) + 1] END) * (CASE WHEN GREATEST((ascii(substr(wa, 7, 1)) - 97), (ascii(substr(wb, 7, 1)) - 97)) - LEAST((ascii(substr(wa, 7, 1)) - 97), (ascii(substr(wb, 7, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 7, 1)) - 97), (ascii(substr(wb, 7, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 7, 1)) - 97), (ascii(substr(wb, 7, 1)) - 97)) + 1] END)
                 + (CASE WHEN GREATEST((ascii(substr(wa, 8, 1)) - 97), (ascii(substr(wb, 8, 1)) - 97)) - LEAST((ascii(substr(wa, 8, 1)) - 97), (ascii(substr(wb, 8, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 8, 1)) - 97), (ascii(substr(wb, 8, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 8, 1)) - 97), (ascii(substr(wb, 8, 1)) - 97)) + 1] END) * (CASE WHEN GREATEST((ascii(substr(wa, 8, 1)) - 97), (ascii(substr(wb, 8, 1)) - 97)) - LEAST((ascii(substr(wa, 8, 1)) - 97), (ascii(substr(wb, 8, 1)) - 97)) <= 1
                 THEN 0.0
                 ELSE [-0.67, 0.0, 0.67][GREATEST((ascii(substr(wa, 8, 1)) - 97), (ascii(substr(wb, 8, 1)) - 97))]
                      - [-0.67, 0.0, 0.67][LEAST((ascii(substr(wa, 8, 1)) - 97), (ascii(substr(wb, 8, 1)) - 97)) + 1] END)) AS mindist
                FROM pr
            )
            SELECT key_a, key_b, n, {_sr_sql('mindist', 6)} AS mindist
            FROM md WHERE mindist <= 2.0
        """,
        "embedding_drift": f"""
            WITH r AS (SELECT embedding AS v FROM embeddings
                       WHERE vec_id % 2 = 0 AND embedding IS NOT NULL),
            c AS (SELECT embedding AS v FROM embeddings
                  WHERE vec_id % 2 = 1 AND embedding IS NOT NULL),
            idx AS (SELECT CAST(g AS INT) AS i
                    FROM generate_series(1, 64) t(g)),
            mr AS (SELECT i, avg(CAST(v[i] AS DOUBLE)) AS m
                   FROM r, idx GROUP BY i),
            mc AS (SELECT i, avg(CAST(v[i] AS DOUBLE)) AS m
                   FROM c, idx GROUP BY i),
            cosv AS (
                SELECT sum(mr.m * mc.m)
                       / (sqrt(sum(mr.m * mr.m))
                          * sqrt(sum(mc.m * mc.m))) AS cosd
                FROM mr JOIN mc USING (i)
            ),
            nr AS (SELECT sqrt(list_reduce(list_transform(
                       v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       (a, b) -> a + b)) AS nm FROM r),
            nc AS (SELECT sqrt(list_reduce(list_transform(
                       v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       (a, b) -> a + b)) AS nm FROM c),
            e AS (SELECT min(nm) AS lo, (max(nm) - min(nm)) / 10 AS w
                  FROM nr),
            rb AS (SELECT CAST(LEAST(GREATEST(FLOOR((nm - lo) / w), 0), 9)
                              AS BIGINT) AS bin, count(*) AS cnt
                   FROM nr, e GROUP BY 1),
            cb AS (SELECT CAST(LEAST(GREATEST(FLOOR((nm - lo) / w), 0), 9)
                              AS BIGINT) AS bin, count(*) AS cnt
                   FROM nc, e GROUP BY 1),
            rp AS (SELECT bin, cnt / (SELECT sum(cnt) FROM rb) AS p
                   FROM rb),
            cp AS (SELECT bin, cnt / (SELECT sum(cnt) FROM cb) AS p
                   FROM cb),
            j AS (
                SELECT COALESCE(rp.p, 0.0) AS p_ref,
                       COALESCE(cp.p, 0.0) AS p_cur
                FROM rp FULL OUTER JOIN cp ON rp.bin = cp.bin
            ),
            ps AS (
                SELECT sum((GREATEST(p_cur, 1e-4) - GREATEST(p_ref, 1e-4))
                           * ln(GREATEST(p_cur, 1e-4)
                                / GREATEST(p_ref, 1e-4))) AS psi
                FROM j
            )
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM r) AS n_ref,
                   (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_cur,
                   {_sr_sql('(SELECT cosd FROM cosv)', 6)}
                       AS centroid_cosine,
                   {_sr_sql('(SELECT psi FROM ps)', 6)} AS norm_psi
        """,
        "counter_rate": _DAILY_GRID_SQL
        + f"""
            , obs AS (SELECT key, loc, value FROM grid
                      WHERE value IS NOT NULL),
            st AS (
                SELECT key, loc, value,
                       lag(value) OVER (PARTITION BY key ORDER BY loc)
                           AS pv
                FROM obs
            ),
            ag AS (
                SELECT key, CAST(count(*) AS BIGINT) AS n,
                       CAST(COALESCE(sum(CASE WHEN pv IS NOT NULL
                                         AND value < pv THEN 1 END), 0)
                            AS BIGINT) AS n_resets,
                       COALESCE(sum(CASE WHEN pv IS NULL THEN NULL
                                    WHEN value >= pv THEN value - pv
                                    ELSE value END), 0.0) AS increase,
                       CAST(max(loc) - min(loc) AS DOUBLE) AS elapsed
                FROM st GROUP BY key
            )
            SELECT key, n, n_resets,
                   {_sr_sql('increase', 6)} AS increase, elapsed,
                   {_sr_sql(
                       'CASE WHEN elapsed > 0 THEN increase / elapsed END',
                       6)} AS rate
            FROM ag
        """,
        "window_join_ctx": _DAILY_GRID_SQL
        + f"""
            , obs AS (SELECT key, loc, value FROM grid
                      WHERE value IS NOT NULL)
            SELECT l.key AS key, l.loc AS loc, l.value AS value,
                   CAST(count(r.value) AS BIGINT) AS w_count,
                   {_sr_sql('avg(r.value)', 6)} AS w_avg,
                   {_sr_sql('sum(r.value)', 6)} AS w_sum
            FROM obs l LEFT JOIN obs r
              ON l.key = r.key AND r.loc BETWEEN l.loc - 3 AND l.loc + 3
            GROUP BY 1, 2, 3
        """,
        "seasonal_mk": _DAILY_GRID_SQL
        + f"""
            , obs AS (SELECT key, loc, value, loc % 7 AS g FROM grid
                      WHERE value IS NOT NULL),
            pr AS (
                SELECT a.key AS key,
                       CAST(sum(CAST(sign(b.value - a.value) AS BIGINT))
                            AS BIGINT) AS s
                FROM obs a JOIN obs b
                  ON a.key = b.key AND a.g = b.g AND a.loc < b.loc
                GROUP BY 1
            ),
            ns AS (SELECT key, g, count(*) AS ng FROM obs GROUP BY 1, 2),
            tt AS (
                SELECT key, g, sum(t * (t - 1) * (2 * t + 5)) AS tie
                FROM (
                    SELECT key, g, value, CAST(count(*) AS DOUBLE) AS t
                    FROM obs GROUP BY 1, 2, 3
                ) GROUP BY 1, 2
            ),
            vv AS (
                SELECT ns.key AS key, CAST(sum(ns.ng) AS BIGINT) AS n,
                       sum(CASE WHEN ns.ng >= 2 THEN
                           (CAST(ns.ng AS DOUBLE) * (ns.ng - 1)
                            * (2 * ns.ng + 5) - tt.tie) / 18.0
                           ELSE 0.0 END) AS var_s
                FROM ns JOIN tt USING (key, g) GROUP BY 1
            )
            SELECT vv.key AS key, vv.n AS n,
                   COALESCE(pr.s, 0) AS s,
                   {_sr_sql('vv.var_s', 6)} AS var_s,
                   {_sr_sql(
                       'CASE WHEN vv.var_s <= 0 THEN NULL'
                       ' WHEN pr.s > 0 THEN (pr.s - 1) / sqrt(vv.var_s)'
                       ' WHEN pr.s < 0 THEN (pr.s + 1) / sqrt(vv.var_s)'
                       ' ELSE 0.0 END', 6)} AS z
            FROM vv LEFT JOIN pr USING (key)
        """,
        "croston": _DAILY_GRID_SQL
        + f"""
            , dem AS (
                SELECT key, loc,
                       CASE WHEN COALESCE(value, 0.0) > 60.0 THEN value
                            ELSE 0.0 END AS v
                FROM grid
            ),
            tot AS (SELECT key, CAST(count(*) AS BIGINT) AS n
                    FROM dem GROUP BY key),
            nz AS (
                SELECT key, loc, v,
                       row_number() OVER (PARTITION BY key ORDER BY loc)
                           AS k,
                       count(*) OVER (PARTITION BY key) AS m,
                       CAST(loc - lag(loc)
                            OVER (PARTITION BY key ORDER BY loc)
                            AS DOUBLE) AS gap
                FROM dem WHERE v <> 0
            ),
            est AS (
                SELECT key, CAST(max(m) AS BIGINT) AS n_demands,
                       sum((CASE WHEN k = 1 THEN pow(0.8, m - 1)
                                 ELSE 0.2 * pow(0.8, m - k) END) * v)
                           AS size_hat,
                       sum(CASE WHEN k >= 2 THEN
                               (CASE WHEN k = 2 THEN pow(0.8, m - 2)
                                     ELSE 0.2 * pow(0.8, m - k) END) * gap
                           END) AS interval_hat
                FROM nz GROUP BY key
            )
            SELECT tot.key AS key, tot.n AS n,
                   COALESCE(est.n_demands, 0) AS n_demands,
                   {_sr_sql('est.size_hat', 6)} AS size_hat,
                   {_sr_sql('est.interval_hat', 6)} AS interval_hat,
                   {_sr_sql(
                       'est.size_hat / NULLIF(est.interval_hat, 0)', 6)}
                       AS forecast
            FROM tot LEFT JOIN est USING (key)
        """,
        "pettitt": _DAILY_GRID_SQL
        + f"""
            , obs AS (SELECT key, loc, value FROM grid
                      WHERE value IS NOT NULL),
            rk AS (
                SELECT key, loc, value,
                       row_number() OVER (PARTITION BY key ORDER BY loc)
                           AS rk,
                       count(*) OVER (PARTITION BY key) AS n
                FROM obs
            ),
            pr AS (
                SELECT a.key AS key, a.rk AS i, b.rk AS j,
                       CAST(sign(b.value - a.value) AS BIGINT) AS s
                FROM rk a JOIN rk b ON a.key = b.key AND a.rk < b.rk
            ),
            d AS (
                SELECT key, pos, CAST(sum(dd) AS BIGINT) AS dd FROM (
                    SELECT key, i AS pos, CAST(sum(s) AS BIGINT) AS dd
                    FROM pr GROUP BY 1, 2
                    UNION ALL
                    SELECT key, j AS pos, CAST(-sum(s) AS BIGINT) AS dd
                    FROM pr GROUP BY 1, 2
                ) GROUP BY 1, 2
            ),
            u AS (
                SELECT key, pos,
                       CAST(sum(dd) OVER (PARTITION BY key ORDER BY pos)
                            AS BIGINT) AS uv
                FROM d
            ),
            ut AS (
                SELECT u.key AS key, u.pos AS pos, abs(u.uv) AS k,
                       rk.loc AS loc, rk.n AS n,
                       row_number() OVER (PARTITION BY u.key
                                          ORDER BY abs(u.uv) DESC,
                                                   u.pos ASC) AS pick
                FROM u JOIN rk ON rk.key = u.key AND rk.rk = u.pos
                WHERE u.pos < rk.n
            )
            SELECT key, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_stat,
                   loc AS cp_loc,
                   {_sr_sql(
                       'LEAST(1.0, 2.0 * exp(-6.0 * k * k'
                       ' / (CAST(n AS DOUBLE) * n * n'
                       ' + CAST(n AS DOUBLE) * n)))', 6)} AS p_value
            FROM ut WHERE pick = 1
        """,
        "perm_entropy": _DAILY_GRID_SQL
        + f"""
            , obs AS (SELECT key, loc, value FROM grid
                      WHERE value IS NOT NULL),
            wnd AS (
                SELECT key, value AS y0,
                       lead(value, 1) OVER w AS y1,
                       lead(value, 2) OVER w AS y2
                FROM obs WINDOW w AS (PARTITION BY key ORDER BY loc)
            ),
            pat AS (
                -- rank_i = #{{j: y_j < y_i}} + #{{j: y_j = y_i, j < i}};
                -- pid = r0*9 + r1*3 + r2 (ties to time order)
                SELECT key,
                       ((CASE WHEN y1 < y0 THEN 1 ELSE 0 END)
                        + (CASE WHEN y2 < y0 THEN 1 ELSE 0 END)) * 9
                       + ((CASE WHEN y0 < y1 OR y0 = y1 THEN 1 ELSE 0 END)
                          + (CASE WHEN y2 < y1 THEN 1 ELSE 0 END)) * 3
                       + ((CASE WHEN y0 < y2 OR y0 = y2 THEN 1 ELSE 0 END)
                          + (CASE WHEN y1 < y2 OR y1 = y2 THEN 1 ELSE 0 END))
                           AS pid
                FROM wnd WHERE y1 IS NOT NULL AND y2 IS NOT NULL
            ),
            pc AS (SELECT key, pid, count(*) AS c FROM pat GROUP BY 1, 2),
            tot AS (
                SELECT key, c, sum(c) OVER (PARTITION BY key) AS n FROM pc
            )
            SELECT key, CAST(count(*) AS BIGINT) AS n_patterns,
                   {_sr_sql(
                       '-sum((c / CAST(n AS DOUBLE))'
                       ' * ln(c / CAST(n AS DOUBLE))) / ln(6)', 6)}
                       AS perm_entropy
            FROM tot GROUP BY key
        """,
        "interarrival": f"""
            WITH g AS (
                SELECT CAST(user_id AS VARCHAR) AS key,
                       CAST(date_diff('microsecond',
                            lag(ts) OVER (PARTITION BY user_id ORDER BY ts),
                            ts) AS DOUBLE) / 1e6 AS gap
                FROM events
            ),
            gg AS (SELECT key, gap FROM g WHERE gap IS NOT NULL)
            SELECT key, CAST(count(*) AS BIGINT) AS n_gaps,
                   {_sr_sql('avg(gap)', 6)} AS mean_gap,
                   {_sr_sql('stddev_samp(gap)', 6)} AS std_gap,
                   {_sr_sql('min(gap)', 6)} AS min_gap,
                   {_sr_sql('max(gap)', 6)} AS max_gap,
                   {_sr_sql(
                       '(stddev_samp(gap) - avg(gap))'
                       ' / NULLIF(stddev_samp(gap) + avg(gap), 0)', 6)}
                       AS burstiness
            FROM gg GROUP BY key
        """,
        "impulse_response": _DAILY_GRID_SQL + _FILLED_SQL
        + f"""
            , wide AS (
                SELECT loc,
                       max(CASE WHEN key = '1' THEN value END) AS s1,
                       max(CASE WHEN key = '2' THEN value END) AS s2
                FROM filled GROUP BY loc
            ),
            lagd AS (
                SELECT loc, s1, s2,
                       lag(s1) OVER (ORDER BY loc) AS a,
                       lag(s2) OVER (ORDER BY loc) AS b
                FROM wide
            ),
            d AS (
                SELECT * FROM lagd
                WHERE s1 IS NOT NULL AND s2 IS NOT NULL
                  AND a IS NOT NULL AND b IS NOT NULL
            ),
            m AS (
                SELECT covar_samp(s1, a) AS c1a, covar_samp(s1, b) AS c1b,
                       covar_samp(s2, a) AS c2a, covar_samp(s2, b) AS c2b,
                       var_samp(a) AS vaa, var_samp(b) AS vbb,
                       covar_samp(a, b) AS vab
                FROM d
            ),
            p1 AS (
                -- Φ: [i][j] = effect of series j's lag on series i
                SELECT (c1a * vbb - c1b * vab) / (vaa * vbb - vab * vab)
                           AS x11,
                       (c1b * vaa - c1a * vab) / (vaa * vbb - vab * vab)
                           AS x12,
                       (c2a * vbb - c2b * vab) / (vaa * vbb - vab * vab)
                           AS x21,
                       (c2b * vaa - c2a * vab) / (vaa * vbb - vab * vab)
                           AS x22
                FROM m
            ),
            p2 AS (SELECT f.x11 * g.x11 + f.x12 * g.x21 AS x11,
                          f.x11 * g.x12 + f.x12 * g.x22 AS x12,
                          f.x21 * g.x11 + f.x22 * g.x21 AS x21,
                          f.x21 * g.x12 + f.x22 * g.x22 AS x22
                   FROM p1 f, p1 g),
            p3 AS (SELECT f.x11 * g.x11 + f.x12 * g.x21 AS x11,
                          f.x11 * g.x12 + f.x12 * g.x22 AS x12,
                          f.x21 * g.x11 + f.x22 * g.x21 AS x21,
                          f.x21 * g.x12 + f.x22 * g.x22 AS x22
                   FROM p1 f, p2 g),
            p4 AS (SELECT f.x11 * g.x11 + f.x12 * g.x21 AS x11,
                          f.x11 * g.x12 + f.x12 * g.x22 AS x12,
                          f.x21 * g.x11 + f.x22 * g.x21 AS x21,
                          f.x21 * g.x12 + f.x22 * g.x22 AS x22
                   FROM p1 f, p3 g),
            p5 AS (SELECT f.x11 * g.x11 + f.x12 * g.x21 AS x11,
                          f.x11 * g.x12 + f.x12 * g.x22 AS x12,
                          f.x21 * g.x11 + f.x22 * g.x21 AS x21,
                          f.x21 * g.x12 + f.x22 * g.x22 AS x22
                   FROM p1 f, p4 g),
            allp AS (
                SELECT 0 AS step, 1.0 AS x11, 0.0 AS x12, 0.0 AS x21,
                       1.0 AS x22
                UNION ALL SELECT 1, x11, x12, x21, x22 FROM p1
                UNION ALL SELECT 2, x11, x12, x21, x22 FROM p2
                UNION ALL SELECT 3, x11, x12, x21, x22 FROM p3
                UNION ALL SELECT 4, x11, x12, x21, x22 FROM p4
                UNION ALL SELECT 5, x11, x12, x21, x22 FROM p5
            )
            SELECT '1' AS shock, '1' AS response, CAST(step AS INT) AS step,
                   {_sr_sql('x11', 6)} AS irf FROM allp
            UNION ALL SELECT '2', '1', CAST(step AS INT),
                   {_sr_sql('x12', 6)} FROM allp
            UNION ALL SELECT '1', '2', CAST(step AS INT),
                   {_sr_sql('x21', 6)} FROM allp
            UNION ALL SELECT '2', '2', CAST(step AS INT),
                   {_sr_sql('x22', 6)} FROM allp
        """,
        "sq8_error": f"""
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            q AS (
                SELECT vec_id, v, list_min(v) AS vmin,
                       (list_max(v) - list_min(v)) / 255.0 AS scale
                FROM e
            ),
            c AS (
                SELECT vec_id, v, vmin, scale,
                       CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
                            ELSE list_transform(v,
                                x -> CAST(FLOOR((x - vmin) / scale + 0.5)
                                          AS INT))
                       END AS codes
                FROM q
            ),
            r AS (
                SELECT vec_id, codes,
                       list_transform(range(1, len(v) + 1),
                           i -> v[i] - (vmin + codes[i] * scale)) AS err
                FROM c
            )
            SELECT vec_id, array_to_string(codes, ',') AS codes,
                   {_sr_sql(
                       "list_aggregate(list_transform(err, x -> x * x),"
                       " 'sum') / len(err)", 6)} AS mse,
                   {_sr_sql(
                       "list_aggregate(list_transform(err, x -> abs(x)),"
                       " 'max')", 6)} AS max_abs_err
            FROM r
        """,
        "theta_forecast": _DAILY_GRID_SQL + _FILLED_SQL
        + f"""
            , pos AS (
                SELECT key, value AS y,
                       CAST(row_number() OVER (PARTITION BY key ORDER BY loc)
                            AS DOUBLE) AS t
                FROM filled WHERE value IS NOT NULL
            ),
            mom AS (
                SELECT key, CAST(count(*) AS DOUBLE) AS n, sum(t) AS st,
                       sum(y) AS sy, sum(t * y) AS sty, sum(t * t) AS stt
                FROM pos GROUP BY 1
            ),
            ab AS (
                SELECT key, n,
                       (n * sty - st * sy) / NULLIF(n * stt - st * st, 0)
                           AS b,
                       (sy - (n * sty - st * sy)
                             / NULLIF(n * stt - st * st, 0) * st) / n AS a
                FROM mom
            ),
            lvl AS (
                SELECT p.key,
                       sum(CASE WHEN p.t = 1
                                THEN POWER(0.6, m.n - 1)
                                     * (2 * p.y - (m.a + m.b * p.t))
                                ELSE 0.4 * POWER(0.6, m.n - p.t)
                                     * (2 * p.y - (m.a + m.b * p.t))
                           END) AS l
                FROM pos p JOIN ab m USING (key) GROUP BY 1
            )
            SELECT ab.key, CAST(s.step AS INT) AS step,
                   CASE WHEN ab.b IS NOT NULL THEN
                       {_sr_sql(
                           '0.5 * ((ab.a + ab.b * (ab.n + s.step)) + lvl.l)',
                           6)}
                   END AS forecast
            FROM ab JOIN lvl USING (key),
                 unnest(range(1, 8)) AS s(step)
        """,
        "winsorize": _DAILY_GRID_SQL
        + f"""
            , q AS (
                SELECT key, quantile_cont(value, 0.1) AS ql,
                       quantile_cont(value, 0.9) AS qh
                FROM grid WHERE value IS NOT NULL GROUP BY 1
            )
            SELECT g.key, g.loc,
                   {_sr_sql('q.ql', 6)} AS q_lo,
                   {_sr_sql('q.qh', 6)} AS q_hi,
                   CASE WHEN g.value IS NOT NULL THEN
                       {_sr_sql('LEAST(GREATEST(g.value, q.ql), q.qh)', 6)}
                   END AS winsorized,
                   CASE WHEN g.value IS NOT NULL
                        THEN (g.value < q.ql OR g.value > q.qh)
                   END AS clipped
            FROM grid g LEFT JOIN q USING (key)
        """,
        "corr_matrix": _DAILY_GRID_SQL
        + f"""
            , obs AS (SELECT key, loc, value FROM grid
                      WHERE value IS NOT NULL),
            pairs AS (
                SELECT a.key AS key_a, b.key AS key_b,
                       count(*) AS n_overlap,
                       covar_samp(a.value, b.value) AS cv,
                       stddev_samp(a.value) AS sa, stddev_samp(b.value) AS sb
                FROM obs a JOIN obs b
                  ON a.loc = b.loc AND a.key < b.key
                GROUP BY 1, 2
            )
            SELECT key_a, key_b, n_overlap,
                   CASE WHEN n_overlap >= 5 THEN
                       {_sr_sql('cv / NULLIF(sa * sb, 0)', 6)}
                   END AS corr
            FROM pairs
        """,
        "readability": f"""
            WITH t AS (
                SELECT doc_id, text, lower(text) AS low,
                       list_filter(regexp_split_to_array(trim(lower(text)),
                                                         '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ),
            c AS (
                SELECT doc_id,
                       greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                           AS n_sents,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(toks) END AS n_words,
                       len(regexp_extract_all(low, '[aeiouy]+'))
                       + len(list_filter(toks,
                             x -> regexp_matches(x, '^[^aeiouy]*$')))
                           AS n_syll
                FROM t
            )
            SELECT doc_id, CAST(n_sents AS BIGINT) AS n_sents,
                   CAST(n_words AS BIGINT) AS n_words,
                   CAST(n_syll AS BIGINT) AS n_syllables,
                   CASE WHEN n_words > 0 THEN
                       {_sr_sql(
                           '206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)'
                           ' - 84.6 * (CAST(n_syll AS DOUBLE) / n_words)', 6)}
                   END AS flesch
            FROM c
        """,
        "tfidf_topk": f"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(lower(text)),
                                                         '\\s+'),
                                   x -> x <> '') AS tk
                FROM documents
            ),
            terms AS (
                SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
                FROM toks, unnest(tk) AS u(t) GROUP BY 1, 2
            ),
            dfreq AS (
                SELECT term, CAST(count(*) AS BIGINT) AS dfv
                FROM terms GROUP BY 1 HAVING count(*) >= 2
            ),
            nn AS (SELECT count(*) AS n FROM documents),
            sc AS (
                SELECT doc_id, term, tf, dfv,
                       {_sr_sql('tf * ln(n / CAST(dfv AS DOUBLE))', 6)}
                           AS tfidf
                FROM terms JOIN dfreq USING (term) CROSS JOIN nn
            ),
            rk AS (
                SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term ASC) AS INT) AS rank
                FROM sc
            )
            SELECT doc_id, rank, term, tf, dfv AS df, tfidf
            FROM rk WHERE rank <= 3
        """,
        "hurst": _hurst_sql((8, 16, 32)),
        "half_life": "WITH "
        + _EVSEQ_SQL
        + f"""
            , pair AS (
                SELECT key, value - prev AS dy, prev AS x
                FROM (SELECT key, value,
                             lag(value) OVER (PARTITION BY key ORDER BY t)
                                 AS prev
                      FROM e)
                WHERE prev IS NOT NULL
            ),
            agg AS (
                SELECT key, count(*) AS n, sum(x) AS sx, sum(dy) AS sy,
                       sum(x * dy) AS sxy, sum(x * x) AS sxx
                FROM pair GROUP BY 1
            ),
            bet AS (
                -- one row per key with >=1 pair (matches the Spark groupBy);
                -- NULLIF keeps degenerate-denominator keys as NULL-beta rows
                SELECT key, n, n * sxx - sx * sx AS den,
                       (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)
                           AS beta
                FROM agg
            )
            SELECT key,
                   CASE WHEN n >= 3 AND den <> 0
                        THEN {_sr_sql('beta', 6)} END AS beta,
                   CASE WHEN n >= 3 AND den <> 0 AND beta < 0 AND beta + 1 > 0
                        THEN {_sr_sql('ln(0.5) / ln(beta + 1)', 6)}
                   END AS half_life
            FROM bet
        """,
        "series_stats": """
            SELECT CAST(user_id AS VARCHAR) AS key, COUNT(value) AS cnt,
                   ROUND(AVG(value), 6) AS mean,
                   ROUND(STDDEV_SAMP(value), 6) AS stdev,
                   MIN(value) AS vmin, MAX(value) AS vmax
            FROM events GROUP BY 1
        """,
        "slice": """
            SELECT CAST(user_id AS VARCHAR) AS key, ts, value FROM events
            WHERE ts >= TIMESTAMP '2024-01-10' AND ts <= TIMESTAMP '2024-01-20'
        """,
        "resample_daily_avg": _DAILY_GRID_SQL
        + "SELECT key, loc, ts, value FROM grid",
        "resample_stamp_right": """
            WITH keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events),
            cal AS (
                SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01', g) AS BIGINT) AS loc,
                       CAST(g AS TIMESTAMP) AS ts
                FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31',
                                     INTERVAL 1 DAY) t(g)
            ),
            stamped AS (
                SELECT CAST(user_id AS VARCHAR) AS key,
                       CASE WHEN date_trunc('day', ts) = ts THEN ts
                            ELSE date_trunc('day', ts) + INTERVAL 1 DAY END AS sts,
                       value
                FROM events
            ),
            agg AS (
                SELECT key, sts, MAX(value) AS vmax FROM stamped
                WHERE sts <= TIMESTAMP '2024-01-31' GROUP BY 1, 2
            )
            SELECT keys.key, cal.loc, cal.ts, agg.vmax
            FROM keys CROSS JOIN cal
            LEFT JOIN agg ON agg.key = keys.key AND agg.sts = cal.ts
        """,
        "fill_previous": _DAILY_GRID_SQL
        + """
            SELECT key, loc, ts,
                   last_value(value IGNORE NULLS) OVER (
                       PARTITION BY key ORDER BY loc
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS value
            FROM grid
        """,
        "fill_linear": _DAILY_GRID_SQL
        + """
            , aug AS (
                SELECT key, loc, ts, value,
                    last_value(value IGNORE NULLS) OVER wb AS pv,
                    last_value(CASE WHEN value IS NOT NULL THEN loc END IGNORE NULLS)
                        OVER wb AS pi,
                    first_value(value IGNORE NULLS) OVER wf AS nv,
                    first_value(CASE WHEN value IS NOT NULL THEN loc END IGNORE NULLS)
                        OVER wf AS ni
                FROM grid
                WINDOW wb AS (PARTITION BY key ORDER BY loc
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       wf AS (PARTITION BY key ORDER BY loc
                              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT key, loc, ts,
                   {lin_sr} AS value
            FROM aug
        """.format(
            lin_sr=_sr_sql(
                "CASE WHEN value IS NOT NULL THEN value "
                "WHEN pv IS NULL OR nv IS NULL THEN NULL "
                "ELSE pv + (nv - pv) * (CAST(loc AS DOUBLE) - pi) / (ni - pi) "
                "END",
                6,
            )
        ),
        "differences": """
            SELECT * FROM (
                SELECT CAST(user_id AS VARCHAR) AS key, ts,
                       value - lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS diff
                FROM events
            ) WHERE diff IS NOT NULL
        """,
        "return_rates": """
            SELECT * FROM (
                SELECT CAST(user_id AS VARCHAR) AS key, ts,
                       value / lag(value) OVER (PARTITION BY user_id ORDER BY ts) - 1.0 AS rate
                FROM events
            ) WHERE rate IS NOT NULL
        """,
        "roll_mean": _DAILY_GRID_SQL
        + """
            , rolled AS (
                SELECT key, loc, ts,
                       count(*) OVER w AS nrows, count(value) OVER w AS nvals,
                       avg(value) OVER w AS m
                FROM grid
                WINDOW w AS (PARTITION BY key ORDER BY loc
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            )
            SELECT key, loc, ts,
                   ROUND(CASE WHEN nvals = 7 THEN m END, 6) AS value
            FROM rolled WHERE nrows = 7
        """,
        "roll_quantile": _DAILY_GRID_SQL
        + """
            , rolled AS (
                SELECT key, loc, ts,
                       count(*) OVER w AS nrows, count(value) OVER w AS nvals,
                       quantile_cont(value, 0.3) OVER w AS q30r,
                       quantile_cont(value, 0.5) OVER w AS medr
                FROM grid
                WINDOW w AS (PARTITION BY key ORDER BY loc
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            )
            SELECT key, loc, ts,
                   ROUND(CASE WHEN nvals = 7 THEN q30r END, 6) AS q30,
                   ROUND(CASE WHEN nvals = 7 THEN medr END, 6) AS med
            FROM rolled WHERE nrows = 7
        """,
        "fill_suite": _DAILY_GRID_SQL + _AUG_SQL
        + """
            SELECT key, loc, ts,
                   pv AS prev,
                   nv AS nxt,
                   CASE WHEN value IS NOT NULL THEN value
                        WHEN pv IS NULL THEN nv
                        WHEN nv IS NULL THEN pv
                        WHEN loc - pi <= ni - loc THEN pv
                        ELSE nv END AS near,
                   {lin_sr} AS lin,
                   COALESCE(value, 0.0) AS zero,
                   COALESCE(value, -1.0) AS cval
            FROM aug
        """.format(
            lin_sr=_sr_sql(
                "CASE WHEN value IS NOT NULL THEN value "
                "WHEN pv IS NULL OR nv IS NULL THEN NULL "
                "ELSE pv + (nv - pv) * (CAST(loc AS DOUBLE) - pi) / (ni - pi) "
                "END",
                6,
            )
        ),
        "roll_skew_kurt": _DAILY_GRID_SQL
        + """
            , rolled AS (
                SELECT key, loc, ts,
                       count(*) OVER w AS nrows, count(value) OVER w AS nvals,
                       sum(value) OVER w AS s1,
                       sum(value*value) OVER w AS s2,
                       sum(value*value*value) OVER w AS s3,
                       sum(value*value*value*value) OVER w AS s4
                FROM grid
                WINDOW w AS (PARTITION BY key ORDER BY loc
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            ),
            mom AS (
                SELECT key, loc, ts, nrows, nvals,
                       s1/7.0 AS m, s2, s3, s4,
                       s2/7.0 - (s1/7.0)*(s1/7.0) AS m2
                FROM rolled
            ),
            hi AS (
                SELECT key, loc, ts, nrows, nvals, m2,
                       s3/7.0 - 3.0*m*s2/7.0 + 2.0*m*m*m AS m3,
                       s4/7.0 - 4.0*m*s3/7.0 + 6.0*m*m*s2/7.0
                           - 3.0*m*m*m*m AS m4
                FROM mom
            )
            SELECT key, loc, ts,
                   ROUND(CASE WHEN nvals = 7 AND m2 > 0.0 THEN
                       SQRT(42.0)/5.0 * m3 / POWER(m2, 1.5) END, 6) AS skew,
                   ROUND(CASE WHEN nvals = 7 AND m2 > 0.0 THEN
                       0.3 * (8.0 * m4 / (m2*m2) - 18.0) END, 6) AS kurt
            FROM hi WHERE nrows = 7
        """,
        "roll_corr": _DAILY_GRID_SQL
        + """
            , a AS (SELECT loc, value AS va FROM grid WHERE key = '1'),
            b AS (SELECT loc, value AS vb FROM grid WHERE key = '2'),
            j AS (SELECT a.loc, va, vb FROM a JOIN b USING (loc)),
            r AS (
                SELECT loc,
                       count(*) OVER w AS nrows,
                       count(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
                             THEN 1 END) OVER w AS npairs,
                       corr(va, vb) OVER w AS c
                FROM j
                WINDOW w AS (ORDER BY loc
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            )
            SELECT loc, ROUND(CASE WHEN npairs = 7 THEN c END, 6) AS corr
            FROM r WHERE nrows = 7
        """,
        "forecast_accuracy": _DAILY_GRID_SQL + _FILLED_SQL
        + f"""
            , fc AS (
                SELECT key, loc, value,
                       count(value) OVER w3 AS c3,
                       avg(value) OVER w3 AS ma3,
                       abs(value - lag(value) OVER wk) AS naive
                FROM filled
                WINDOW w3 AS (PARTITION BY key ORDER BY loc
                              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
                       wk AS (PARTITION BY key ORDER BY loc)
            ),
            p AS (
                SELECT key, value AS y,
                       CASE WHEN c3 = 3 THEN ma3 END AS f,
                       naive
                FROM fc
            ),
            aggd AS (
                SELECT key,
                       count(CASE WHEN y IS NOT NULL AND f IS NOT NULL
                             THEN 1 END) AS n,
                       avg(CASE WHEN y IS NOT NULL AND f IS NOT NULL
                           THEN abs(y - f) END) AS mae,
                       sqrt(avg(CASE WHEN y IS NOT NULL AND f IS NOT NULL
                                THEN (y - f) * (y - f) END)) AS rmse,
                       avg(CASE WHEN y IS NOT NULL AND f IS NOT NULL
                               AND y <> 0.0
                           THEN abs(y - f) / abs(y) END) AS mape,
                       avg(CASE WHEN y IS NOT NULL AND f IS NOT NULL
                               AND (abs(y) + abs(f)) <> 0.0
                           THEN 2.0 * abs(y - f) / (abs(y) + abs(f))
                           END) AS smape,
                       avg(naive) AS scale
                FROM p GROUP BY key
            )
            SELECT key, n,
                   {_sr_sql('mae', 6)} AS mae,
                   {_sr_sql('rmse', 6)} AS rmse,
                   {_sr_sql('mape', 6)} AS mape,
                   {_sr_sql('smape', 6)} AS smape,
                   {_sr_sql('CASE WHEN scale <> 0.0 THEN mae / scale END', 6)}
                       AS mase
            FROM aggd
        """,
        "arch_test": "WITH" + _EVSEQ_SQL + """
            , l AS (
                SELECT key, value * value AS e2,
                       lag(value * value) OVER (
                           PARTITION BY key ORDER BY t) AS e2l
                FROM e
            ),
            c AS (
                SELECT key, count(e2l) AS n_obs, corr(e2, e2l) AS r
                FROM l GROUP BY key
            )
            SELECT key,
                   FLOOR((n_obs * r * r) * 100000 + 0.500001) / 100000
                       AS arch_stat
            FROM c
        """,
        "granger": _DAILY_GRID_SQL + _FILLED_SQL
        + f"""
            , pair AS (
                SELECT a.loc AS loc, a.value AS y, b.value AS x
                FROM filled a JOIN filled b USING (loc)
                WHERE a.key = '1' AND b.key = '2'
                  AND a.value IS NOT NULL AND b.value IS NOT NULL
            ),
            d AS (
                SELECT loc, y,
                       lag(y) OVER (ORDER BY loc) AS yl,
                       lag(x) OVER (ORDER BY loc) AS xl
                FROM pair
            ),
            c AS (
                SELECT CAST(count(*) AS BIGINT) AS n_obs,
                       corr(y, yl) AS rya, corr(y, xl) AS ryb,
                       corr(yl, xl) AS rab
                FROM d WHERE yl IS NOT NULL AND xl IS NOT NULL
            ),
            r2 AS (
                SELECT n_obs, rya,
                       (rya*rya + ryb*ryb - 2.0*rya*ryb*rab)
                           / (1.0 - rab*rab) AS r2u
                FROM c
            )
            SELECT '1' AS target, '2' AS cause,
                   (SELECT CAST(count(*) AS BIGINT) FROM pair) AS n,
                   {_sr_sql(
                       "((1.0 - rya*rya) - (1.0 - r2u))"
                       " / ((1.0 - r2u) / (n_obs - 3))", 5)} AS f_stat
            FROM r2
        """,
        "lag_suite": """
            SELECT key, ts, diff1, diff2, quot2, ret FROM (
                SELECT CAST(user_id AS VARCHAR) AS key, ts,
                       value - lag(value, 1) OVER w AS diff1,
                       value - 2.0 * lag(value, 1) OVER w
                             + lag(value, 2) OVER w AS diff2,
                       value / lag(value, 2) OVER w AS quot2,
                       value / lag(value, 1) OVER w - 1.0 AS ret
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ) WHERE diff1 IS NOT NULL
        """,
        "var_fit": _DAILY_GRID_SQL + _FILLED_SQL
        + f"""
            , wide AS (
                SELECT loc,
                       max(CASE WHEN key = '1' THEN value END) AS s1,
                       max(CASE WHEN key = '2' THEN value END) AS s2
                FROM filled GROUP BY loc
            ),
            lagd AS (
                SELECT loc, s1, s2,
                       lag(s1) OVER (ORDER BY loc) AS a,
                       lag(s2) OVER (ORDER BY loc) AS b
                FROM wide
            ),
            d AS (
                SELECT * FROM lagd
                WHERE s1 IS NOT NULL AND s2 IS NOT NULL
                  AND a IS NOT NULL AND b IS NOT NULL
            ),
            m AS (
                SELECT covar_samp(s1, a) AS c1a, covar_samp(s1, b) AS c1b,
                       covar_samp(s2, a) AS c2a, covar_samp(s2, b) AS c2b,
                       var_samp(a) AS vaa, var_samp(b) AS vbb,
                       covar_samp(a, b) AS vab,
                       avg(s1) AS m1, avg(s2) AS m2,
                       avg(a) AS ma, avg(b) AS mb
                FROM d
            ),
            co AS (
                SELECT *, vaa * vbb - vab * vab AS det,
                       (c1a * vbb - c1b * vab) / (vaa * vbb - vab * vab) AS b1a,
                       (c1b * vaa - c1a * vab) / (vaa * vbb - vab * vab) AS b1b,
                       (c2a * vbb - c2b * vab) / (vaa * vbb - vab * vab) AS b2a,
                       (c2b * vaa - c2a * vab) / (vaa * vbb - vab * vab) AS b2b
                FROM m
            )
            SELECT '1' AS target, 'const' AS regressor, 0 AS lag,
                   {_sr_sql('m1 - b1a * ma - b1b * mb', 6)} AS coef FROM co
            UNION ALL SELECT '1', '1', 1, {_sr_sql('b1a', 6)} FROM co
            UNION ALL SELECT '1', '2', 1, {_sr_sql('b1b', 6)} FROM co
            UNION ALL SELECT '2', 'const', 0,
                   {_sr_sql('m2 - b2a * ma - b2b * mb', 6)} FROM co
            UNION ALL SELECT '2', '1', 1, {_sr_sql('b2a', 6)} FROM co
            UNION ALL SELECT '2', '2', 1, {_sr_sql('b2b', 6)} FROM co
        """,
        "ts_features": _DAILY_GRID_SQL + _FILLED_SQL
        + f"""
            , nn AS (
                SELECT key, loc, value,
                       avg(value) OVER (PARTITION BY key) AS m,
                       stddev_samp(value) OVER (PARTITION BY key) AS sd,
                       lag(value) OVER (PARTITION BY key ORDER BY loc) AS prev,
                       row_number() OVER (PARTITION BY key ORDER BY loc) - 1
                           AS rk
                FROM filled WHERE value IS NOT NULL
            ),
            st AS (
                SELECT key, count(value) AS n, avg(value) AS mean,
                       var_samp(value) AS variance,
                       corr(value, prev) AS acf1,
                       CAST(coalesce(sum(CASE WHEN prev IS NOT NULL
                                          AND ((value > m) <> (prev > m))
                                         THEN 1 END), 0)
                            AS BIGINT) AS crossing_points
                FROM nn GROUP BY key
            ),
            tl AS (
                SELECT key, CAST(FLOOR(rk / 10.0) AS INT) AS t,
                       count(value) AS tn,
                       avg(CASE WHEN sd > 0 THEN (value - m) / sd
                                ELSE 0.0 END) AS tmean,
                       var_samp(CASE WHEN sd > 0 THEN (value - m) / sd
                                     ELSE 0.0 END) AS tvar
                FROM nn GROUP BY key, CAST(FLOOR(rk / 10.0) AS INT)
            ),
            tt AS (
                SELECT key, var_samp(tmean) AS stability,
                       var_samp(tvar) AS lumpiness
                FROM tl WHERE tn = 10 GROUP BY key
            )
            SELECT st.key, n,
                   {_sr_sql('mean', 6)} AS mean,
                   {_sr_sql('variance', 6)} AS variance,
                   {_sr_sql('acf1', 6)} AS acf1,
                   crossing_points,
                   {_sr_sql('stability', 6)} AS stability,
                   {_sr_sql('lumpiness', 6)} AS lumpiness
            FROM st LEFT JOIN tt ON st.key = tt.key
        """,
        "remove_instants_with_nans": _DAILY_GRID_SQL
        + """
            SELECT key, ts, value FROM grid
            WHERE key IN ('1','2','3') AND ts NOT IN (
                SELECT ts FROM grid WHERE key IN ('1','2','3') AND value IS NULL
            )
        """,
        "filter_starting_before": """
            SELECT CAST(user_id AS VARCHAR) AS key,
                   MIN(ts) AS first_ts, MAX(ts) AS last_ts
            FROM events GROUP BY 1
            HAVING MIN(ts) <= TIMESTAMP '2024-01-02'
        """,
        "filter_ending_after": """
            SELECT CAST(user_id AS VARCHAR) AS key,
                   MIN(ts) AS first_ts, MAX(ts) AS last_ts
            FROM events GROUP BY 1
            HAVING MAX(ts) >= TIMESTAMP '2024-01-29'
        """,
        "to_instants_pivot": """
            SELECT date_trunc('day', ts) AS ts,
                   ROUND(AVG(value) FILTER (event_type = 'click'), 6) AS click,
                   ROUND(AVG(value) FILTER (event_type = 'error'), 6) AS error,
                   ROUND(AVG(value) FILTER (event_type = 'purchase'), 6) AS purchase,
                   ROUND(AVG(value) FILTER (event_type = 'signup'), 6) AS signup,
                   ROUND(AVG(value) FILTER (event_type = 'view'), 6) AS view
            FROM events GROUP BY 1
        """,
        "min_max_datetimes": """
            WITH ext AS (
                SELECT CAST(user_id AS VARCHAR) AS key,
                       MIN(value) AS lo, MAX(value) AS hi
                FROM events GROUP BY 1
            )
            SELECT ext.key,
                   MIN(e.ts) FILTER (e.value = ext.lo) AS min_dt,
                   MAX(e.ts) FILTER (e.value = ext.hi) AS max_dt
            FROM ext JOIN (SELECT CAST(user_id AS VARCHAR) AS key, ts, value
                           FROM events) e ON e.key = ext.key
            GROUP BY 1
        """,
        "autocorr": """
            WITH l AS (
                SELECT CAST(user_id AS VARCHAR) AS key, value,
                       lag(value, 1) OVER w AS l1,
                       lag(value, 2) OVER w AS l2,
                       lag(value, 3) OVER w AS l3
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), a AS (
                SELECT key, corr(value, l1) AS c1, corr(value, l2) AS c2,
                       corr(value, l3) AS c3
                FROM l GROUP BY 1
            )
            SELECT key, lag, ROUND(acf, 6) AS acf FROM (
                SELECT key, 1 AS lag, c1 AS acf FROM a UNION ALL
                SELECT key, 2, c2 FROM a UNION ALL
                SELECT key, 3, c3 FROM a
            )
        """,
        "trim_leading_trailing": _DAILY_GRID_SQL
        + """
            , b AS (
                SELECT key, loc, ts, value,
                       min(CASE WHEN value IS NOT NULL THEN loc END) OVER (PARTITION BY key) AS lo,
                       max(CASE WHEN value IS NOT NULL THEN loc END) OVER (PARTITION BY key) AS hi
                FROM grid WHERE key IN ('0','1')
            )
            SELECT key, loc, ts, value FROM b WHERE loc >= lo AND loc <= hi
        """,
        "dw_test": """
            WITH l AS (
                SELECT CAST(user_id AS VARCHAR) AS key, value,
                       value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts)
                       AS d
                FROM events
            )
            SELECT key, ROUND(SUM(d*d) / SUM(value*value), 6) AS dw
            FROM l GROUP BY 1
        """,
        "dedup_exact": """
            SELECT md5(text) AS h, MIN(doc_id) AS doc_id, COUNT(*) AS n
            FROM documents GROUP BY 1
        """,
        "text_quality": """
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
                   ROUND(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                         / len(string_split_regex(trim(text), '\\s+')), 6) AS avg_token_len,
                   ROUND(CAST(length(text) AS DOUBLE)
                         / len(string_split_regex(trim(text), '\\s+')), 6) AS chars_per_token
            FROM documents
        """,
        # CASTs: DuckDB SUM(int) yields HUGEINT whose stringification differs
        # from Spark's BIGINT — cast so the value hashes agree
        "token_count_by_source": """
            SELECT source, COUNT(*) AS docs,
                   CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                            END) AS BIGINT) AS total_tokens,
                   CAST(SUM(length(text)) AS BIGINT) AS total_chars
            FROM documents GROUP BY 1
        """,
        "token_count_bpe": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT)
                       AS n_bpe_tokens
            FROM documents
        """,
        "fingerprint": """
            SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
            FROM documents
        """,
        "ngram_jaccard_pairs": """
            WITH words AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id, sh FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               generate_series(1, len(w) - 2),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                           )) AS sh
                    FROM words
                )
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                FROM sh a JOIN sh b USING (sh)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
        """,
        # probe 5-gram membership replay (docs 0-4 are the probe set)
        "decontaminate": """
            WITH g AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           generate_series(1, len(w) - 4),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                || ' ' || w[i+3] || ' ' || w[i+4]
                       ))) AS gram
                FROM (
                    SELECT doc_id,
                           string_split_regex(trim(lower(text)), '\\s+') AS w
                    FROM documents
                ) WHERE len(w) >= 5
            ),
            probe AS (SELECT DISTINCT gram FROM g WHERE doc_id < 5),
            hit AS (
                SELECT DISTINCT doc_id FROM g JOIN probe USING (gram)
            )
            SELECT d.doc_id, (hit.doc_id IS NOT NULL) AS contaminated
            FROM documents d LEFT JOIN hit ON d.doc_id = hit.doc_id
        """,
        # row-by-row replay of every non-repetition Gopher rule; the keep
        # boolean is identical IEEE arithmetic in both engines
        "gopher_quality": f"""
            WITH f AS (
                SELECT doc_id,
                       len(string_split_regex(trim(text), '\\s+')) AS n_words,
                       length(regexp_replace(text, '\\s', '', 'g')) AS n_nospace,
                       len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols,
                       list_filter(list_transform(string_split(text, chr(10)),
                                                  l -> trim(l)),
                                   l -> l != '') AS lines,
                       string_split_regex(trim(text), '\\s+') AS words,
                       string_split_regex(trim(lower(text)), '\\s+') AS lwords
                FROM documents
            ),
            g AS (
                SELECT doc_id, n_words,
                       CAST(n_nospace AS DOUBLE) / n_words AS mean_word_len,
                       CAST(n_symbols AS DOUBLE) / n_words AS symbol_word_ratio,
                       COALESCE(CAST(len(list_filter(lines,
                           l -> regexp_matches(l, '^[-*•]'))) AS DOUBLE)
                           / NULLIF(len(lines), 0), 0.0) AS bullet_line_ratio,
                       COALESCE(CAST(len(list_filter(lines,
                           l -> regexp_matches(l, '\\.\\.\\.$'))) AS DOUBLE)
                           / NULLIF(len(lines), 0), 0.0) AS ellipsis_line_ratio,
                       CAST(len(list_filter(words,
                           w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
                           / n_words AS alpha_word_ratio,
                       len(list_filter(['the','be','to','of','and','that',
                                        'have','with'],
                           s -> list_contains(lwords, s))) AS n_stop
                FROM f
            )
            SELECT doc_id, n_words,
                   {_sr_sql('mean_word_len', 6)} AS mean_word_len,
                   {_sr_sql('alpha_word_ratio', 6)} AS alpha_word_ratio,
                   n_stop AS n_gopher_stopwords,
                   COALESCE(n_words BETWEEN 50 AND 100000
                            AND mean_word_len BETWEEN 3.0 AND 10.0
                            AND symbol_word_ratio <= 0.1
                            AND bullet_line_ratio <= 0.9
                            AND ellipsis_line_ratio <= 0.3
                            AND alpha_word_ratio >= 0.8
                            AND n_stop >= 2, FALSE) AS keep
            FROM g
        """,
        # same pairs CTEs as ngram_jaccard_pairs, then transitive closure:
        # component = min doc_id reachable over symmetric near-dup edges
        "dedup_components": """
            WITH RECURSIVE words AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id, sh FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               generate_series(1, len(w) - 2),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                           )) AS sh
                    FROM words
                )
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
            ), pr AS (
                SELECT id_a, id_b FROM (
                    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
                    FROM sh a JOIN sh b USING (sh)
                    WHERE a.doc_id < b.doc_id GROUP BY 1, 2
                ) p
                JOIN sizes sa ON sa.doc_id = p.id_a
                JOIN sizes sb ON sb.doc_id = p.id_b
                WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
            ), ed AS (
                SELECT id_a AS a, id_b AS b FROM pr
                UNION
                SELECT id_b, id_a FROM pr
            ), reach(id, r) AS (
                SELECT a, a FROM ed
                UNION
                SELECT ed.a, reach.r FROM ed JOIN reach ON reach.id = ed.b
            )
            SELECT id AS doc_id, MIN(r) AS component
            FROM reach GROUP BY 1
        """,
        "lang_id": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
                FROM documents
            ), s AS (
                SELECT doc_id, 'en' AS lang, len(list_filter(w, x -> list_contains(
                    ['the','and','of','to','in','is','that','it','was','for'], x))) AS score FROM toks
                UNION ALL
                SELECT doc_id, 'de', len(list_filter(w, x -> list_contains(
                    ['der','die','das','und','ist','nicht','ein','mit','von','zu'], x))) FROM toks
                UNION ALL
                SELECT doc_id, 'es', len(list_filter(w, x -> list_contains(
                    ['el','la','de','que','y','en','un','por','con','una'], x))) FROM toks
                UNION ALL
                SELECT doc_id, 'fr', len(list_filter(w, x -> list_contains(
                    ['le','la','et','les','des','est','un','une','dans','que'], x))) FROM toks
            ), r AS (
                SELECT doc_id, lang,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, lang DESC) AS rn
                FROM s
            )
            SELECT doc_id, lang AS pred_lang FROM r WHERE rn = 1
        """,
        "quality_score": """
            WITH f AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                       END AS n_tokens,
                       length(text) AS len,
                       length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                           AS n_punct,
                       len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> list_contains(
                               ['a','an','and','at','by','for','in','is','it','of',
                                'on','that','the','to','was','with'], x))) AS n_stop
                FROM documents
            ), sc AS (
                SELECT doc_id,
                       least(n_tokens / 50.0, 1.0)
                           * (CASE WHEN n_tokens > 5000 THEN 0.5 ELSE 1.0 END)
                           AS len_score,
                       least((CAST(n_stop AS DOUBLE) / n_tokens) * 4.0, 1.0)
                           AS stop_score,
                       CASE WHEN CAST(n_punct AS DOUBLE) / len > 0.2
                            THEN 0.5 ELSE 1.0 END AS punct_score
                FROM f
            )
            SELECT doc_id,
                   ROUND(len_score * (0.5 + 0.5 * stop_score) * punct_score, 6)
                       AS quality
            FROM sc
        """,
        # PII scrub replay: same injected inputs, same ordered
        # regexp_replace chain (Java and RE2 agree on these patterns)
        "scrub_pii": _scrub_pii_sql(),
        # exact interpolated percentiles: Spark percentile == quantile_cont
        "token_percentiles": f"""
            WITH n AS (
                SELECT source,
                       CAST(len(regexp_extract_all(text,
                           '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS DOUBLE) AS n
                FROM documents
            )
            SELECT source,
                   {_sr_sql('quantile_cont(n, 0.5)', 4)} AS p50,
                   {_sr_sql('quantile_cont(n, 0.9)', 4)} AS p90,
                   {_sr_sql('quantile_cont(n, 0.99)', 4)} AS p99
            FROM n GROUP BY 1
        """,
        # deterministic mixture sampling: exact hash-bucket replay
        "stratified_sample": f"""
            SELECT doc_id, source FROM documents
            WHERE {_h60("CAST(doc_id AS VARCHAR) || chr(1) || '7'")} % 1000000
                  < CASE source
                        WHEN 'src0' THEN 1000000
                        WHEN 'src1' THEN 500000
                        WHEN 'src2' THEN 250000
                        WHEN 'src3' THEN 100000
                        ELSE 50000
                    END
        """,
        # full cleaning composition: language rank → quality formula →
        # Gopher gates (rep CTEs) → min-id per normalized-content md5
        "pretrain_clean": _rep_features_sql((2, 3, 4)) + r"""
            , ltoks AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents
            ),
            lscore AS (
                SELECT doc_id, 'en' AS lang, len(list_filter(w, x -> list_contains(
                    ['the','and','of','to','in','is','that','it','was','for'], x))) AS score FROM ltoks
                UNION ALL
                SELECT doc_id, 'de', len(list_filter(w, x -> list_contains(
                    ['der','die','das','und','ist','nicht','ein','mit','von','zu'], x))) FROM ltoks
                UNION ALL
                SELECT doc_id, 'es', len(list_filter(w, x -> list_contains(
                    ['el','la','de','que','y','en','un','por','con','una'], x))) FROM ltoks
                UNION ALL
                SELECT doc_id, 'fr', len(list_filter(w, x -> list_contains(
                    ['le','la','et','les','des','est','un','une','dans','que'], x))) FROM ltoks
            ),
            lang_ok AS (
                SELECT doc_id FROM (
                    SELECT doc_id, lang,
                           row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, lang DESC) AS rn
                    FROM lscore
                ) WHERE rn = 1 AND lang = 'en'
            ),
            qf AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\s+'))
                       END AS n_tokens,
                       length(text) AS tl,
                       length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))
                           AS n_punct,
                       len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> list_contains(
                               ['a','an','and','at','by','for','in','is','it','of',
                                'on','that','the','to','was','with'], x))) AS n_stop
                FROM documents
            ),
            q AS (
                SELECT doc_id,
                       ROUND(least(n_tokens / 50.0, 1.0)
                             * (CASE WHEN n_tokens > 5000 THEN 0.5 ELSE 1.0 END)
                             * (0.5 + 0.5 * least(
                                   (CAST(n_stop AS DOUBLE) / n_tokens) * 4.0, 1.0))
                             * (CASE WHEN CAST(n_punct AS DOUBLE) / tl > 0.2
                                     THEN 0.5 ELSE 1.0 END), 6) AS quality
                FROM qf
            ),
            surv AS (
                SELECT d.doc_id, q.quality,
                       md5(regexp_replace(lower(d.text), '\s+', ' ', 'g')) AS h
                FROM documents d
                JOIN lang_ok USING (doc_id)
                JOIN q USING (doc_id)
                JOIN rep USING (doc_id)
                WHERE q.quality >= 0.5
                  AND rep.dup_line_ratio <= 0.30
                  AND rep.dup_line_char_ratio <= 0.20
                  AND rep.top2gram_char_ratio <= 0.20
                  AND rep.top3gram_char_ratio <= 0.18
                  AND rep.top4gram_char_ratio <= 0.16
            )
            SELECT doc_id, ROUND(quality, 6) AS quality
            FROM (
                SELECT doc_id, quality,
                       row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
                FROM surv
            ) WHERE rn = 1
        """,
        # lag + cumulative-sum session ids; a gap of EXACTLY 6h continues
        # the session (verified against Spark's session_window semantics)
        "sessionize": """
            WITH e AS (
                SELECT CAST(user_id AS VARCHAR) AS key, ts FROM events
            ),
            g AS (
                SELECT key, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR date_diff('microsecond', lag(ts) OVER w, ts)
                                    > 21600000000
                            THEN 1 ELSE 0 END AS s
                FROM e WINDOW w AS (PARTITION BY key ORDER BY ts)
            )
            SELECT key, ts,
                   CAST(SUM(s) OVER (PARTITION BY key ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                        AS BIGINT) AS session_id
            FROM g
        """,
        "session_stats": f"""
            WITH e AS (
                SELECT CAST(user_id AS VARCHAR) AS key, ts, value FROM events
            ),
            g AS (
                SELECT key, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR date_diff('microsecond', lag(ts) OVER w, ts)
                                    > 21600000000
                            THEN 1 ELSE 0 END AS s
                FROM e WINDOW w AS (PARTITION BY key ORDER BY ts)
            ),
            sid AS (
                SELECT key, ts, value,
                       SUM(s) OVER (PARTITION BY key ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS session_id
                FROM g
            )
            SELECT key,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end_ts,
                   COUNT(*) AS n_events,
                   ROUND(date_diff('microsecond', MIN(ts), MAX(ts))
                         / 1000000.0, 6) AS duration_seconds,
                   {_sr_sql('SUM(value)', 6)} AS value_sum
            FROM sid GROUP BY key, session_id
        """,
        "repetition_features": _rep_features_sql((2, 3)) + f"""
            SELECT doc_id, n_lines,
                   {_sr_sql('dup_line_ratio', 6)} AS dup_line_ratio,
                   {_sr_sql('dup_line_char_ratio', 6)} AS dup_line_char_ratio,
                   {_sr_sql('top2gram_char_ratio', 6)} AS top2_ratio,
                   {_sr_sql('top3gram_char_ratio', 6)} AS top3_ratio
            FROM rep
        """,
        # thresholds = pipeline.text.GOPHER_REPETITION_THRESHOLDS (Rae et
        # al. 2021 table A1); both engines evaluate identical IEEE ops, so
        # the raw-double comparisons agree bit-for-bit
        "gopher_repetition": _rep_features_sql((2, 3, 4)) + """
            SELECT doc_id,
                   (dup_line_ratio <= 0.30 AND dup_line_char_ratio <= 0.20
                    AND top2gram_char_ratio <= 0.20
                    AND top3gram_char_ratio <= 0.18
                    AND top4gram_char_ratio <= 0.16) AS keep
            FROM rep
        """,
        "cosine_dup_pairs": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
            FROM e a CROSS JOIN e b
            WHERE a.vec_id < b.vec_id
              AND list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))) >= 0.35
        """,
        "knn_cosine": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), q AS (
                SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10
            ), scored AS (
                SELECT qid, vec_id,
                       list_dot_product(qv, v)
                       / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
                       AS sim
                FROM q CROSS JOIN e WHERE qid != vec_id
            ), ranked AS (
                SELECT qid, vec_id, sim,
                       row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
                       AS rank
                FROM scored
            )
            SELECT qid, vec_id, ROUND(sim, 4) AS sim, rank
            FROM ranked WHERE rank <= 5
        """,
        "lags": _DAILY_GRID_SQL
        + """
            , g AS (SELECT key, loc, ts, value FROM grid
                    WHERE key IN ('0','1','2')),
            l AS (
                SELECT key, loc, ts, value,
                       lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2
                FROM g WINDOW w AS (PARTITION BY key ORDER BY loc)
            )
            SELECT key, loc, ts, value FROM l WHERE loc >= 2
            UNION ALL
            SELECT 'lag1(' || key || ')' AS key, loc, ts, l1 AS value
            FROM l WHERE loc >= 2
            UNION ALL
            SELECT 'lag2(' || key || ')' AS key, loc, ts, l2 AS value
            FROM l WHERE loc >= 2
        """,
        "quotients": """
            SELECT * FROM (
                SELECT CAST(user_id AS VARCHAR) AS key, ts,
                       value / lag(value) OVER (PARTITION BY user_id ORDER BY ts)
                           AS quot
                FROM events
            ) WHERE quot IS NOT NULL
        """,
        "fill_next": _DAILY_GRID_SQL
        + """
            SELECT key, loc, ts,
                   first_value(value IGNORE NULLS) OVER (
                       PARTITION BY key ORDER BY loc
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS value
            FROM grid
        """,
        "fill_nearest": _DAILY_GRID_SQL + _AUG_SQL
        + """
            SELECT key, loc, ts,
                   CASE WHEN value IS NOT NULL THEN value
                        WHEN pv IS NULL THEN nv
                        WHEN nv IS NULL THEN pv
                        WHEN loc - pi <= ni - loc THEN pv
                        ELSE nv END AS value
            FROM aug
        """,
        "fill_zero": _DAILY_GRID_SQL
        + """
            SELECT key, loc, ts, COALESCE(value, 0.0) AS value FROM grid
        """,
        "resample_closed_right": """
            WITH keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events),
            cal AS (
                SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01', g) AS BIGINT) AS loc,
                       CAST(g AS TIMESTAMP) AS ts
                FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31',
                                     INTERVAL 1 DAY) t(g)
            ),
            b AS (
                SELECT CAST(user_id AS VARCHAR) AS key,
                       LEAST(CAST(ceil((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                                       / 86400000000.0) AS BIGINT), 31) - 1 AS loc,
                       value
                FROM events
            ),
            agg AS (
                SELECT key, loc, ROUND(SUM(value), 6) AS value FROM b
                WHERE loc >= 0 GROUP BY 1, 2
            )
            SELECT keys.key, cal.loc, cal.ts, agg.value
            FROM keys CROSS JOIN cal
            LEFT JOIN agg ON agg.key = keys.key AND agg.loc = cal.loc
        """,
        "downsample": _DAILY_GRID_SQL
        + """
            SELECT key, loc, ts, value FROM grid WHERE loc % 3 = 0
        """,
        "upsample": _DAILY_GRID_SQL
        + """
            , g AS (SELECT * FROM grid WHERE key IN ('0','1','2')),
            -- reference-faithful grid: newLen = origLen * n = 62 cells
            -- (trailing filler included), values at loc * n
            locs AS (SELECT CAST(x AS BIGINT) AS loc
                     FROM generate_series(0, 61) t(x)),
            k AS (SELECT DISTINCT key FROM g)
            SELECT k.key, locs.loc, g.value
            FROM k CROSS JOIN locs
            LEFT JOIN g ON g.key = k.key AND g.loc * 2 = locs.loc
        """,
        "rebase_uniform": """
            WITH keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events),
            cal AS (
                SELECT CAST(date_diff('day', TIMESTAMP '2024-01-05', g) AS BIGINT) AS loc,
                       CAST(g AS TIMESTAMP) AS ts
                FROM generate_series(TIMESTAMP '2024-01-05', TIMESTAMP '2024-02-04',
                                     INTERVAL 1 DAY) t(g)
            ),
            agg AS (
                SELECT CAST(user_id AS VARCHAR) AS key, date_trunc('day', ts) AS ts,
                       ROUND(AVG(value), 6) AS value
                FROM events GROUP BY 1, 2
            )
            SELECT keys.key, cal.loc, cal.ts, agg.value
            FROM keys CROSS JOIN cal
            LEFT JOIN agg ON agg.key = keys.key AND agg.ts = cal.ts
        """,
        "rebase_irregular": f"""
            WITH keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events),
            inst AS (SELECT * FROM (VALUES {_IRREG_VALUES}) AS t(loc, ts)),
            agg AS (
                SELECT CAST(user_id AS VARCHAR) AS key, date_trunc('day', ts) AS ts,
                       ROUND(AVG(value), 6) AS value
                FROM events GROUP BY 1, 2
            )
            SELECT keys.key, CAST(inst.loc AS BIGINT) AS loc, inst.ts, agg.value
            FROM keys CROSS JOIN inst
            LEFT JOIN agg ON agg.key = keys.key AND agg.ts = inst.ts
        """,
        "diff_by_frequency": """
            WITH e AS (
                SELECT CAST(user_id AS VARCHAR) AS key, ts, value FROM events
            ),
            a AS (SELECT key, ts, ts - INTERVAL 7 DAY AS cutoff, value FROM e)
            SELECT a.key, a.ts, a.value - b.value AS diff7
            FROM a ASOF JOIN e b
            ON a.key = b.key AND a.cutoff >= b.ts
        """,
        # the smoothing recursion is replayed with a recursive CTE using the
        # SAME per-step expression as the model kernel (0.3·x + 0.7·s), so
        # both sides are bit-identical — no closed-form FP amplification
        "ewma_smooth": "WITH RECURSIVE" + _DAILY_GRID_SQL.lstrip().removeprefix("WITH")
        + _FILLED_SQL
        + """
            , r AS (
                SELECT key, loc, value AS s FROM filled WHERE loc = 0
                UNION ALL
                SELECT f.key, f.loc, 0.3 * f.value + 0.7 * r.s
                FROM r JOIN filled f ON f.key = r.key AND f.loc = r.loc + 1
            )
            SELECT key, loc, FLOOR(s * 1000000 + 0.5) / 1000000 AS value FROM r
        """,
        "lb_test": """
            WITH l AS (
                SELECT CAST(user_id AS VARCHAR) AS key, value,
                       lag(value, 1) OVER w AS l1,
                       lag(value, 2) OVER w AS l2,
                       lag(value, 3) OVER w AS l3
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            a AS (
                SELECT key, COUNT(*) AS n,
                       corr(value, l1) AS r1, corr(value, l2) AS r2,
                       corr(value, l3) AS r3
                FROM l GROUP BY 1
            )
            SELECT key,
                   ROUND(n * (n + 2) * (r1*r1/(n-1) + r2*r2/(n-2) + r3*r3/(n-3)),
                         6) AS lb_stat
            FROM a
        """,
        "business_days": """
            WITH d AS (
                SELECT CAST(user_id AS VARCHAR) AS key, ts,
                       isodow(ts) - 1 AS dow,
                       date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days
                FROM events
            )
            SELECT key, ts,
                   CASE WHEN dow = 5 THEN ts + INTERVAL 2 DAY
                        WHEN dow = 6 THEN ts + INTERVAL 1 DAY
                        ELSE ts END AS nbd,
                   CAST((days // 7) * 5 + LEAST(days % 7, 4) AS BIGINT) AS bd
            FROM d
        """,
        "filter_by_instant": _DAILY_GRID_SQL
        + """
            , g AS (SELECT * FROM grid WHERE key IN ('1','2','3'))
            -- NULL predicate counts as failed (reference: NaN comparisons
            -- are false -> instant dropped), so NULL cells flag the instant
            SELECT key, ts, value FROM g
            WHERE ts NOT IN (SELECT ts FROM g
                             WHERE value < 10.0 OR value IS NULL)
        """,
        "to_observations": _DAILY_GRID_SQL
        + """
            SELECT ts, key, value FROM grid WHERE value IS NOT NULL
        """,
        "index_union": """
            WITH u AS (
                SELECT CAST(g AS TIMESTAMP) AS ts
                FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31',
                                     INTERVAL 1 DAY) t(g)
                UNION
                SELECT * FROM (VALUES (TIMESTAMP '2024-01-01'),
                                      (TIMESTAMP '2024-01-15 12:00:00'),
                                      (TIMESTAMP '2024-02-02')) v(ts)
            )
            SELECT CAST(row_number() OVER (ORDER BY ts) - 1 AS BIGINT) AS loc, ts
            FROM u
        """,
        "multimodal_meta": """
            SELECT doc_id, octet_length(encode(text)) AS media_size,
                   md5(text) AS media_digest
            FROM documents
        """,
        # exact replay of the fake video frame sampler: frame count from the
        # payload size, per-frame digest md5(payload ‖ 0x02 ‖ idx)
        "video_frames": """
            SELECT doc_id, CAST(i AS INT) AS frame_idx,
                   md5(text || chr(2) || CAST(i AS VARCHAR)) AS frame_digest
            FROM documents,
                 LATERAL (SELECT unnest(generate_series(
                     0, LEAST(8, 1 + octet_length(encode(text)) // 128) - 1
                 )) AS i) g
        """,
        "roll_sum_center": _DAILY_GRID_SQL
        + """
            , rolled AS (
                SELECT key, loc,
                       count(*) OVER w AS nrows, count(value) OVER w AS nvals,
                       sum(value) OVER w AS s
                FROM grid
                WINDOW w AS (PARTITION BY key ORDER BY loc
                             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
            )
            SELECT key, loc,
                   ROUND(CASE WHEN nvals = 5 THEN s END, 6) AS value
            FROM rolled WHERE nrows = 5
        """,
        "to_series_digest": _DAILY_GRID_SQL
        + """
            SELECT key,
                   CAST(COUNT(*) AS INT) AS n,
                   CAST(COUNT(value) AS INT) AS n_obs,
                   ROUND(COALESCE(SUM(value), 0.0), 6) AS checksum
            FROM grid GROUP BY key
        """,
        # exact replay of the winnowing min-sketch (md5_60 hash mode)
        "winnowing_fingerprints": f"""
            WITH norm AS (
                SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t
                FROM documents
            ),
            pos AS (
                SELECT doc_id, t, unnest(generate_series(1, length(t) - 4)) AS i
                FROM norm WHERE length(t) >= 5
            ),
            grams AS (SELECT DISTINCT doc_id, substr(t, i, 5) AS g FROM pos),
            hashes AS (SELECT doc_id, {_h60('g')} AS h FROM grams),
            ranked AS (
                SELECT doc_id, h,
                       row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
                FROM hashes
            )
            SELECT doc_id, h AS fingerprint FROM ranked WHERE rn <= 8
        """,
        # exact replay of the 60-bit SimHash + pigeonhole banding semantics:
        # hamming <= 8 AND at least one equal 16-bit block
        "simhash_near_dups": f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(trim(text), '\\s+')) AS tok
                FROM documents
            ),
            th AS (SELECT doc_id, {_h60('tok')} AS h FROM toks),
            votes AS (
                SELECT doc_id,
                   {_SIMHASH_VOTES}
                FROM th GROUP BY doc_id
            ),
            sigs AS (
                SELECT doc_id,
                       {_SIMHASH_SIG} AS s
                FROM votes
            ),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming,
                       a.s AS sa, b.s AS sb
                FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, hamming FROM pairs
            WHERE hamming <= 8 AND (
                ((sa >> 0) & 65535) = ((sb >> 0) & 65535) OR
                ((sa >> 16) & 65535) = ((sb >> 16) & 65535) OR
                ((sa >> 32) & 65535) = ((sb >> 32) & 65535) OR
                ((sa >> 48) & 65535) = ((sb >> 48) & 65535))
        """,
        # exact replay of the full MinHash+LSH pipeline (md5_60 hash mode):
        # 64 seeded minhashes -> 16 bands of 4 -> band-collision candidates
        # -> exact Jaccard >= 0.3 on 3-word shingles
        "minhash_lsh_dedup": f"""
            WITH words AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id, sh FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               generate_series(1, len(w) - 2),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                           )) AS sh
                    FROM words
                )
            ),
            seeds AS (SELECT unnest(generate_series(0, 63)) AS s),
            sig AS (
                SELECT doc_id, s,
                       MIN({_h60("sh || chr(1) || CAST(s AS VARCHAR)")}) AS m
                FROM sh CROSS JOIN seeds GROUP BY doc_id, s
            ),
            bandhash AS (
                SELECT doc_id, s // 4 AS band,
                       {_h60("string_agg(CAST(m AS VARCHAR), ',' ORDER BY s)")} AS bh
                FROM sig GROUP BY doc_id, s // 4
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bandhash a
                JOIN bandhash b ON a.band = b.band AND a.bh = b.bh
                                AND a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
            inter AS (
                SELECT id_a, id_b, COUNT(*) AS i
                FROM cand
                JOIN sh sa ON sa.doc_id = id_a
                JOIN sh sb ON sb.doc_id = id_b AND sa.sh = sb.sh
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.3
        """,
        # exact replay of hyperplane-LSH multiprobe top-k: the seeded plane
        # matrix ships as literals; bucketing, probing and ranking replayed
        "lsh_topk": f"""
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            planes AS (
                SELECT * FROM (VALUES {_planes_values_sql()}) t(pi, pv)
            ),
            sigs AS (
                SELECT vec_id, v,
                       CAST(SUM(CASE WHEN list_dot_product(v, pv) >= 0
                                     THEN pow(2, pi) ELSE 0 END) AS BIGINT)
                           AS bucket
                FROM e CROSS JOIN planes GROUP BY vec_id, v
            ),
            q AS (
                SELECT vec_id AS qid, v AS qv, bucket AS sig
                FROM sigs WHERE vec_id < 10
            ),
            probes AS (
                SELECT qid, qv,
                       unnest(list_prepend(sig, list_transform(
                           generate_series(0, 7),
                           i -> xor(sig, CAST(pow(2, i) AS BIGINT))
                       ))) AS bucket
                FROM q
            ),
            scored AS (
                SELECT DISTINCT qid, qv, s.vec_id, s.v
                FROM probes JOIN sigs s USING (bucket)
                WHERE qid != s.vec_id
            ),
            sims AS (
                SELECT qid, vec_id, {_cos_sql('qv', 'v')} AS sim FROM scored
            ),
            ranked AS (
                SELECT qid, vec_id, sim,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY sim DESC, vec_id) AS rank
                FROM sims
            )
            SELECT qid, vec_id, ROUND(sim, 4) AS sim, rank
            FROM ranked WHERE rank <= 5
        """,
        # recall@5 of LSH multiprobe vs exact top-k: composes the knn_cosine
        # and lsh_topk replays above and joins them — both sides deterministic
        "lsh_recall": f"""
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            exact AS (
                SELECT qid, vec_id FROM (
                    SELECT q.qid, e.vec_id,
                           row_number() OVER (PARTITION BY q.qid
                               ORDER BY {_cos_sql('q.qv', 'e.v')} DESC,
                                        e.vec_id) AS rank
                    FROM (SELECT vec_id AS qid, v AS qv FROM e
                          WHERE vec_id < 10) q
                    CROSS JOIN e WHERE q.qid != e.vec_id
                ) WHERE rank <= 5
            ),
            planes AS (
                SELECT * FROM (VALUES {_planes_values_sql()}) t(pi, pv)
            ),
            sigs AS (
                SELECT vec_id, v,
                       CAST(SUM(CASE WHEN list_dot_product(v, pv) >= 0
                                     THEN pow(2, pi) ELSE 0 END) AS BIGINT)
                           AS bucket
                FROM e CROSS JOIN planes GROUP BY vec_id, v
            ),
            q AS (
                SELECT vec_id AS qid, v AS qv, bucket AS sig
                FROM sigs WHERE vec_id < 10
            ),
            probes AS (
                SELECT qid, qv,
                       unnest(list_prepend(sig, list_transform(
                           generate_series(0, 7),
                           i -> xor(sig, CAST(pow(2, i) AS BIGINT))
                       ))) AS bucket
                FROM q
            ),
            cand AS (
                SELECT DISTINCT qid, qv, s.vec_id, s.v
                FROM probes JOIN sigs s USING (bucket)
                WHERE qid != s.vec_id
            ),
            approx AS (
                SELECT qid, vec_id FROM (
                    SELECT qid, vec_id,
                           row_number() OVER (PARTITION BY qid
                               ORDER BY {_cos_sql('qv', 'v')} DESC,
                                        vec_id) AS rank
                    FROM cand
                ) WHERE rank <= 5
            ),
            hits AS (
                SELECT exact.qid, COUNT(*) AS hits
                FROM exact JOIN approx
                  ON exact.qid = approx.qid AND exact.vec_id = approx.vec_id
                GROUP BY 1
            ),
            k AS (SELECT qid, COUNT(*) AS k FROM exact GROUP BY 1)
            SELECT k.qid, ROUND(COALESCE(hits.hits, 0) / k.k, 4) AS recall
            FROM k LEFT JOIN hits ON k.qid = hits.qid
        """,
        # exact replay of IVF-flat: md5_60-sampled centroids, nearest-centroid
        # assignment, nprobe=4 probing, global rank
        "ivf_topk": f"""
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            cents AS (
                SELECT CAST(row_number() OVER (
                           ORDER BY {_h60('CAST(vec_id AS VARCHAR)')}
                       ) AS INT) AS cid, v AS cv
                FROM e QUALIFY cid <= 16
            ),
            assigned AS (
                SELECT vec_id, v, cid FROM (
                    SELECT e.vec_id, e.v, c.cid,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cid
                           ) AS rk
                    FROM e CROSS JOIN cents c
                ) WHERE rk = 1
            ),
            qprobe AS (
                SELECT qid, qv, cid FROM (
                    SELECT q.vec_id AS qid, q.v AS qv, c.cid,
                           row_number() OVER (
                               PARTITION BY q.vec_id
                               ORDER BY {_cos_sql('q.v', 'c.cv')} DESC, c.cid
                           ) AS rk
                    FROM (SELECT * FROM e WHERE vec_id < 10) q
                    CROSS JOIN cents c
                ) WHERE rk <= 4
            ),
            scored AS (
                SELECT DISTINCT qid, qv, a.vec_id, a.v
                FROM qprobe JOIN assigned a USING (cid)
                WHERE qid != a.vec_id
            ),
            sims AS (
                SELECT qid, vec_id, {_cos_sql('qv', 'v')} AS sim FROM scored
            ),
            ranked AS (
                SELECT qid, vec_id, sim,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY sim DESC, vec_id) AS rank
                FROM sims
            )
            SELECT qid, vec_id, ROUND(sim, 4) AS sim, rank
            FROM ranked WHERE rank <= 5
        """,
        # -- model / statistical-test oracles --------------------------------
        # PACF = AR(2) OLS slopes (centered 2×2 Cramer) + z/√n band; the z
        # literal is the exact double of NormalDist().inv_cdf(0.975)
        "pacf": "WITH" + _EVSEQ_SQL + """
            , r AS (
                SELECT key, value AS y,
                       lag(value, 1) OVER w AS x1, lag(value, 2) OVER w AS x2
                FROM e WINDOW w AS (PARTITION BY key ORDER BY t)
            ),
            n AS (SELECT key, COUNT(value) AS n FROM e GROUP BY 1),
            m AS (
                SELECT key,
                       var_pop(x1) AS s11, covar_pop(x1, x2) AS s12,
                       var_pop(x2) AS s22,
                       covar_pop(x1, y) AS q1, covar_pop(x2, y) AS q2
                FROM r WHERE x2 IS NOT NULL GROUP BY 1
            ),
            sol AS (
                SELECT key,
                       (q1*s22 - q2*s12) / (s11*s22 - s12*s12) AS b1,
                       (q2*s11 - q1*s12) / (s11*s22 - s12*s12) AS b2
                FROM m
            )
            SELECT sol.key, CAST(g.lag AS BIGINT) AS lag,
                   FLOOR((CASE g.lag WHEN 1 THEN b1 ELSE b2 END) * 10000
                         + 0.500001) / 10000 AS pacf,
                   FLOOR((1.9599639845400536 / sqrt(n.n)) * 1000000 + 0.500001)
                       / 1000000 AS conf_bound
            FROM sol
            JOIN n ON n.key = sol.key
            CROSS JOIN (SELECT unnest(generate_series(1, 2)) AS lag) g
        """,
        # AR(2) OLS replayed from covariance moments (centered 2×2 Cramer),
        # then the 5-step forecast recursion unrolled with lateral aliases
        "ar_forecast": "WITH" + _EVSEQ_SQL + """
            , n AS (SELECT key, MAX(t) AS tmax FROM e GROUP BY 1),
            r AS (
                SELECT key, value AS y,
                       lag(value, 1) OVER w AS x1, lag(value, 2) OVER w AS x2
                FROM e WINDOW w AS (PARTITION BY key ORDER BY t)
            ),
            m AS (
                SELECT key,
                       var_pop(x1) AS s11, covar_pop(x1, x2) AS s12,
                       var_pop(x2) AS s22,
                       covar_pop(x1, y) AS q1, covar_pop(x2, y) AS q2,
                       AVG(y) AS my, AVG(x1) AS m1, AVG(x2) AS m2
                FROM r WHERE x2 IS NOT NULL GROUP BY 1
            ),
            tail AS (
                SELECT e.key,
                       MAX(CASE WHEN e.t = n.tmax THEN e.value END) AS y1,
                       MAX(CASE WHEN e.t = n.tmax - 1 THEN e.value END) AS y2
                FROM e JOIN n ON n.key = e.key GROUP BY 1
            ),
            coef AS (
                SELECT m.key,
                       s11*s22 - s12*s12 AS det,
                       (q1*s22 - q2*s12) / det AS b1,
                       (q2*s11 - q1*s12) / det AS b2,
                       my - ((q1*s22 - q2*s12) / det) * m1
                          - ((q2*s11 - q1*s12) / det) * m2 AS c,
                       y1, y2
                FROM m JOIN tail ON tail.key = m.key
            ),
            f AS (
                SELECT key,
                       c + b1*y1 + b2*y2 AS f1,
                       c + b1*f1 + b2*y1 AS f2,
                       c + b1*f2 + b2*f1 AS f3,
                       c + b1*f3 + b2*f2 AS f4,
                       c + b1*f4 + b2*f3 AS f5
                FROM coef
            )
            SELECT key, CAST(s AS BIGINT) AS step,
                   FLOOR((CASE s WHEN 1 THEN f1 WHEN 2 THEN f2 WHEN 3 THEN f3
                                WHEN 4 THEN f4 ELSE f5 END) * 10000 + 0.500001)
                       / 10000 AS forecast
            FROM f, (SELECT unnest(generate_series(1, 5)) AS s) st
        """,
        # ADF(maxLag=1, 'c'): 3-var OLS (level, Δy lag, intercept) solved by
        # centered 2×2 Cramer; t-stat from the (X'X)^{-1} diagonal
        "adf_test": "WITH" + _EVSEQ_SQL + """
            , d1 AS (
                SELECT key, t, value,
                       value - lag(value) OVER w AS dy,
                       lag(value) OVER w AS ylag
                FROM e WINDOW w AS (PARTITION BY key ORDER BY t)
            ),
            d2 AS (
                SELECT key, dy AS yv, ylag AS x1,
                       lag(dy) OVER (PARTITION BY key ORDER BY t) AS x2
                FROM d1
            ),
            r AS (SELECT * FROM d2 WHERE x2 IS NOT NULL),
            m AS (
                SELECT key, COUNT(*) AS n,
                       var_pop(x1) AS s11, covar_pop(x1, x2) AS s12,
                       var_pop(x2) AS s22,
                       covar_pop(x1, yv) AS q1, covar_pop(x2, yv) AS q2,
                       var_pop(yv) AS syy
                FROM r GROUP BY 1
            )
            SELECT key,
                   FLOOR((
                     ((q1*s22 - q2*s12) / (s11*s22 - s12*s12))
                     / sqrt(
                         (syy - ((q1*s22 - q2*s12)/(s11*s22 - s12*s12))*q1
                              - ((q2*s11 - q1*s12)/(s11*s22 - s12*s12))*q2)
                         * s22 / ((n - 3) * (s11*s22 - s12*s12))
                       )) * 10000 + 0.500001) / 10000 AS adf_stat
            FROM m
        """,
        # KPSS('c'): demeaned partial sums + Newey-West long-run variance
        # with the R-tseries lag rule floor(3·√n/13)
        "kpss_test": "WITH" + _EVSEQ_SQL + """
            , st AS (SELECT key, COUNT(*) AS n, AVG(value) AS mu FROM e GROUP BY 1),
            r AS (
                SELECT e.key, e.t, e.value - st.mu AS r
                FROM e JOIN st ON st.key = e.key
            ),
            cs AS (
                SELECT key, t, r,
                       SUM(r) OVER (PARTITION BY key ORDER BY t) AS s,
                       lag(r, 1) OVER w AS r1, lag(r, 2) OVER w AS r2,
                       lag(r, 3) OVER w AS r3
                FROM r WINDOW w AS (PARTITION BY key ORDER BY t)
            ),
            agg AS (
                SELECT key, SUM(s*s) AS s2, SUM(r*r) AS rr,
                       SUM(r*r1) AS g1, SUM(r*r2) AS g2, SUM(r*r3) AS g3
                FROM cs GROUP BY 1
            ),
            fin AS (
                SELECT a.key, st.n, a.s2, a.rr, a.g1, a.g2, a.g3,
                       CAST(FLOOR(3 * sqrt(st.n) / 13) AS INT) AS lagk
                FROM agg a JOIN st ON st.key = a.key
            )
            SELECT key,
                   FLOOR(((s2 / ((2 * (
                       CASE WHEN lagk >= 1 THEN g1 * (1 - 1.0/(lagk+1)) ELSE 0 END
                     + CASE WHEN lagk >= 2 THEN g2 * (1 - 2.0/(lagk+1)) ELSE 0 END
                     + CASE WHEN lagk >= 3 THEN g3 * (1 - 3.0/(lagk+1)) ELSE 0 END
                   ) + rr) / n)) / (CAST(n AS DOUBLE) * n)) * 1000000 + 0.500001)
                   / 1000000 AS kpss_stat
            FROM fin
        """,
        # Breusch-Godfrey(2) on a linear trend factor: centered 3×3 Cramer
        # for the auxiliary-regression R²; stat = nobs·R²
        "bg_test": "WITH" + _EVSEQ_SQL + """
            , r0 AS (
                SELECT key, CAST(t AS DOUBLE) AS tr, value AS y,
                       lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2
                FROM e WINDOW w AS (PARTITION BY key ORDER BY t)
            ),
            r AS (SELECT * FROM r0 WHERE l2 IS NOT NULL),
            m AS (
                SELECT key, COUNT(*) AS n,
                       var_pop(tr) AS s11, covar_pop(tr, l1) AS s12,
                       covar_pop(tr, l2) AS s13,
                       var_pop(l1) AS s22, covar_pop(l1, l2) AS s23,
                       var_pop(l2) AS s33,
                       covar_pop(tr, y) AS q1, covar_pop(l1, y) AS q2,
                       covar_pop(l2, y) AS q3,
                       var_pop(y) AS syy
                FROM r GROUP BY 1
            ),
            sol AS (
                SELECT key, n, syy, q1, q2, q3,
                       s11*(s22*s33 - s23*s23) - s12*(s12*s33 - s23*s13)
                         + s13*(s12*s23 - s22*s13) AS det,
                       (q1*(s22*s33 - s23*s23) - s12*(q2*s33 - s23*q3)
                         + s13*(q2*s23 - s22*q3)) / det AS b1,
                       (s11*(q2*s33 - q3*s23) - q1*(s12*s33 - s13*s23)
                         + s13*(s12*q3 - q2*s13)) / det AS b2,
                       (s11*(s22*q3 - s23*q2) - s12*(s12*q3 - s13*q2)
                         + q1*(s12*s23 - s22*s13)) / det AS b3
                FROM m
            )
            SELECT key,
                   FLOOR((n * (b1*q1 + b2*q2 + b3*q3) / syy) * 10000 + 0.500001)
                   / 10000 AS bg_stat
            FROM sol
        """,
        # Breusch-Pagan on a linear trend: n·R²(y² on t) = n·corr(y², t)²
        "bp_test": "WITH" + _EVSEQ_SQL + """
            SELECT key,
                   FLOOR((COUNT(*) * pow(corr(value*value, CAST(t AS DOUBLE)), 2))
                         * 100000 + 0.500001) / 100000 AS bp_stat
            FROM e GROUP BY key
        """,
        # exhaustive-grid EWMA fit: the SSE recursion replayed per (key, α)
        # with a recursive CTE — same per-step expressions as the numpy
        # kernel, so the doubles (and the argmin) are bit-identical
        "ewma_fit": "WITH RECURSIVE" + _EVSEQ_SQL + """
            , n AS (SELECT key, MAX(t) AS tmax FROM e GROUP BY 1),
            a AS (SELECT CAST(i AS DOUBLE) / 100 AS alpha
                  FROM (SELECT unnest(generate_series(1, 99)) AS i)),
            rec AS (
                SELECT e.key, a.alpha, e.t, e.value AS s, CAST(0 AS DOUBLE) AS sse
                FROM e CROSS JOIN a WHERE e.t = 0
                UNION ALL
                SELECT r.key, r.alpha, e.t,
                       r.alpha * e.value + (1 - r.alpha) * r.s,
                       r.sse + (e.value - r.s) * (e.value - r.s)
                FROM rec r JOIN e ON e.key = r.key AND e.t = r.t + 1
            ),
            fin AS (
                SELECT r.key, r.alpha, r.sse
                FROM rec r JOIN n ON n.key = r.key AND r.t = n.tmax
            ),
            best AS (
                SELECT key, alpha, sse,
                       row_number() OVER (PARTITION BY key
                                          ORDER BY sse, alpha) AS rk
                FROM fin
            )
            SELECT key, ROUND(alpha, 2) AS alpha,
                   FLOOR(sse * 1000000 + 0.5) / 1000000 AS sse
            FROM best WHERE rk = 1
        """,
        # fixed-coefficient ARIMA(1,0,1) innovations filter — recursion
        # replayed with the numpy kernel's exact expression order
        "arima_filter": """
            WITH RECURSIVE e AS (
                SELECT CAST(user_id AS VARCHAR) AS key, ts, value,
                       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts)
                            - 1 AS BIGINT) AS t
                FROM events
            ),
            rec AS (
                SELECT key, t, ts, value AS y, value - 2.0 AS ev
                FROM e WHERE t = 0
                UNION ALL
                SELECT r.key, e.t, e.ts, e.value,
                       ((e.value - 2.0) - 0.55 * r.y) - 0.3 * r.ev
                FROM rec r JOIN e ON e.key = r.key AND e.t = r.t + 1
            )
            SELECT key, ts,
                   FLOOR(ev * 1000000 + 0.500001) / 1000000 AS resid
            FROM rec
        """,
        # fixed-coefficient GARCH(1,1) volatility standardization
        "garch_filter": """
            WITH RECURSIVE e AS (
                SELECT CAST(user_id AS VARCHAR) AS key, ts, value,
                       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts)
                            - 1 AS BIGINT) AS t
                FROM events
            ),
            rec AS (
                SELECT key, t, ts, value AS eta,
                       4.0 / (1 - 0.1 - 0.8) AS h,
                       value / sqrt(4.0 / (1 - 0.1 - 0.8)) AS z
                FROM e WHERE t = 0
                UNION ALL
                SELECT r.key, e.t, e.ts, e.value,
                       4.0 + 0.1 * (r.eta * r.eta) + 0.8 * r.h,
                       e.value / sqrt(4.0 + 0.1 * (r.eta * r.eta) + 0.8 * r.h)
                FROM rec r JOIN e ON e.key = r.key AND e.t = r.t + 1
            )
            SELECT key, ts,
                   FLOOR(z * 1000000 + 0.500001) / 1000000 AS std_resid
            FROM rec
        """,
        # ARGARCH mean stage = AR(1) OLS — simple-regression moments
        "argarch_fit": "WITH" + _EVSEQ_SQL + """
            , r AS (
                SELECT key, value AS y,
                       lag(value) OVER (PARTITION BY key ORDER BY t) AS x
                FROM e
            )
            SELECT key,
                   FLOOR((AVG(y) - covar_pop(x, y) / var_pop(x) * AVG(x))
                         * 10000 + 0.500001) / 10000 AS c,
                   FLOOR((covar_pop(x, y) / var_pop(x)) * 10000 + 0.500001)
                   / 10000 AS phi
            FROM r WHERE x IS NOT NULL GROUP BY key
        """,
        # optimizer certificates: keys × (n, TRUE) — see _CERT_SQL
        "garch_fit": _CERT_SQL.format(where=""),
        "egarch_fit": _CERT_SQL.format(where=""),
        "arima_forecast": _CERT_SQL.format(where=""),
        "auto_arima": _CERT_SQL.format(where="WHERE user_id < 20"),
        "arimax_forecast": """
            SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS n, TRUE AS ok
            FROM (
                SELECT user_id, date_trunc('day', ts) AS d FROM events
                WHERE user_id < 100 GROUP BY 1, 2
            ) GROUP BY 1
        """,
        "holt_winters_fit": """
            SELECT DISTINCT CAST(user_id AS VARCHAR) AS key,
                   CAST(31 AS BIGINT) AS n, TRUE AS ok
            FROM events
        """,
        # ARX(1,1): centered 3×3 Cramer over the lagged daily design
        "arx_fit": """
            WITH xy AS (
                SELECT CAST(user_id AS VARCHAR) AS key, date_trunc('day', ts) AS ts,
                       AVG(value) AS value, CAST(COUNT(*) AS DOUBLE) AS x
                FROM events GROUP BY 1, 2
            ),
            r0 AS (
                SELECT key, value AS y,
                       lag(value) OVER w AS x1, x AS x2, lag(x) OVER w AS x3
                FROM xy WINDOW w AS (PARTITION BY key ORDER BY ts)
            ),
            r AS (SELECT * FROM r0 WHERE x1 IS NOT NULL),
            m AS (
                SELECT key,
                       var_pop(x1) AS s11, covar_pop(x1, x2) AS s12,
                       covar_pop(x1, x3) AS s13,
                       var_pop(x2) AS s22, covar_pop(x2, x3) AS s23,
                       var_pop(x3) AS s33,
                       covar_pop(x1, y) AS q1, covar_pop(x2, y) AS q2,
                       covar_pop(x3, y) AS q3,
                       AVG(y) AS my, AVG(x1) AS m1, AVG(x2) AS m2, AVG(x3) AS m3
                FROM r GROUP BY 1
            ),
            sol AS (
                SELECT key, my, m1, m2, m3,
                       s11*(s22*s33 - s23*s23) - s12*(s12*s33 - s23*s13)
                         + s13*(s12*s23 - s22*s13) AS det,
                       (q1*(s22*s33 - s23*s23) - s12*(q2*s33 - s23*q3)
                         + s13*(q2*s23 - s22*q3)) / det AS b1,
                       (s11*(q2*s33 - q3*s23) - q1*(s12*s33 - s13*s23)
                         + s13*(s12*q3 - q2*s13)) / det AS b2,
                       (s11*(s22*q3 - s23*q2) - s12*(s12*q3 - s13*q2)
                         + q1*(s12*s23 - s22*s13)) / det AS b3
                FROM m
            )
            SELECT key,
                   FLOOR((my - b1*m1 - b2*m2 - b3*m3) * 10000 + 0.500001)
                       / 10000 AS c,
                   FLOOR(b1 * 10000 + 0.500001) / 10000 AS phi1,
                   FLOOR(b2 * 10000 + 0.500001) / 10000 AS beta0,
                   FLOOR(b3 * 10000 + 0.500001) / 10000 AS beta1
            FROM sol
        """,
        # Cochrane-Orcutt: initial-OLS + Durbin-Watson branch replayed;
        # short-circuited series get full coefficient checks
        "regression_arima": """
            WITH xy AS (
                SELECT CAST(user_id AS VARCHAR) AS key, date_trunc('day', ts) AS ts,
                       AVG(value) AS value, CAST(COUNT(*) AS DOUBLE) AS x
                FROM events GROUP BY 1, 2
            ),
            ols AS (
                SELECT key,
                       covar_pop(x, value) / var_pop(x) AS b1,
                       AVG(value) - covar_pop(x, value) / var_pop(x) * AVG(x) AS b0
                FROM xy GROUP BY 1
            ),
            r AS (
                SELECT xy.key, xy.ts, xy.value - (o.b0 + o.b1 * xy.x) AS r
                FROM xy JOIN ols o ON o.key = xy.key
            ),
            d AS (
                SELECT key, r,
                       r - lag(r) OVER (PARTITION BY key ORDER BY ts) AS dr
                FROM r
            ),
            dw AS (SELECT key, SUM(dr*dr) / SUM(r*r) AS dw0 FROM d GROUP BY 1)
            SELECT o.key,
                   FLOOR(dw.dw0 * 10000 + 0.500001) / 10000 AS dw0,
                   NOT (dw.dw0 > 1 AND dw.dw0 < 3) AS co,
                   CASE WHEN NOT (dw.dw0 > 1 AND dw.dw0 < 3) THEN NULL
                        ELSE FLOOR(o.b0 * 1000 + 0.500001) / 1000 END AS b0,
                   CASE WHEN NOT (dw.dw0 > 1 AND dw.dw0 < 3) THEN NULL
                        ELSE FLOOR(o.b1 * 1000 + 0.500001) / 1000 END AS b1
            FROM ols o JOIN dw ON dw.key = o.key
        """,
        # natural cubic spline: Thomas-algorithm forward sweep and back
        # substitution as two recursive CTEs over the knots, then piecewise
        # cubic evaluation at the missing grid positions
        "fill_spline": "WITH RECURSIVE" + _DAILY_GRID_SQL.lstrip().removeprefix("WITH")
        + """
            , g AS (SELECT * FROM grid WHERE key IN ('0','1','2')),
            knots AS (
                SELECT key, loc, value,
                       CAST(row_number() OVER (PARTITION BY key ORDER BY loc) - 1
                            AS BIGINT) AS k
                FROM g WHERE value IS NOT NULL
            ),
            nk AS (SELECT key, COUNT(*) AS n, MIN(loc) AS xmin, MAX(loc) AS xmax
                   FROM knots GROUP BY 1),
            kk AS (
                SELECT key, k, loc, value,
                       CAST(lead(loc) OVER w - loc AS DOUBLE) AS h,
                       CAST(loc - lag(loc) OVER w AS DOUBLE) AS hp,
                       lead(value) OVER w AS yn, lag(value) OVER w AS yp,
                       lead(loc) OVER w AS xn
                FROM knots WINDOW w AS (PARTITION BY key ORDER BY k)
            ),
            abcd AS (
                SELECT kk.key, k,
                       CASE WHEN k = 0 OR k = n - 1 THEN 0.0 ELSE hp END AS a,
                       CASE WHEN k = 0 OR k = n - 1 THEN 1.0
                            ELSE 2*(hp + h) END AS b,
                       CASE WHEN k = 0 OR k = n - 1 THEN 0.0 ELSE h END AS c,
                       CASE WHEN k = 0 OR k = n - 1 THEN 0.0
                            ELSE 6*((yn - value)/h - (value - yp)/hp) END AS d
                FROM kk JOIN nk ON nk.key = kk.key
            ),
            fwd AS (
                SELECT key, k, c / b AS cp, d / b AS dp FROM abcd WHERE k = 0
                UNION ALL
                SELECT x.key, x.k,
                       x.c / (x.b - x.a * f.cp),
                       (x.d - x.a * f.dp) / (x.b - x.a * f.cp)
                FROM fwd f JOIN abcd x ON x.key = f.key AND x.k = f.k + 1
            ),
            bwd AS (
                SELECT f.key, f.k, f.dp AS m
                FROM fwd f JOIN nk ON nk.key = f.key AND f.k = nk.n - 1
                UNION ALL
                SELECT f.key, f.k, f.dp - f.cp * b.m
                FROM bwd b JOIN fwd f ON f.key = b.key AND f.k = b.k - 1
            ),
            seg AS (
                SELECT kk.key, kk.loc AS x0, kk.xn AS x1, kk.value AS y0,
                       kk.yn AS y1, kk.h, m0.m AS m0, m1.m AS m1
                FROM kk
                JOIN bwd m0 ON m0.key = kk.key AND m0.k = kk.k
                JOIN bwd m1 ON m1.key = kk.key AND m1.k = kk.k + 1
                WHERE kk.xn IS NOT NULL
            ),
            miss AS (
                SELECT g.key, g.loc, g.ts
                FROM g JOIN nk ON nk.key = g.key
                WHERE g.value IS NULL AND g.loc >= nk.xmin AND g.loc <= nk.xmax
            ),
            ev AS (
                SELECT ms.key, ms.loc, ms.ts,
                       (s.x1 - ms.loc) / s.h AS aa,
                       (ms.loc - s.x0) / s.h AS bb,
                       s.y0, s.y1, s.m0, s.m1, s.h
                FROM miss ms
                JOIN seg s ON s.key = ms.key AND ms.loc >= s.x0 AND ms.loc < s.x1
            )
            SELECT key, loc, ts,
                   FLOOR(value * 1000000 + 0.500001) / 1000000 AS value
            FROM g WHERE value IS NOT NULL
            UNION ALL
            SELECT key, loc, ts,
                   FLOOR((aa*y0 + bb*y1
                          + ((aa*aa*aa - aa)*m0 + (bb*bb*bb - bb)*m1) * h*h / 6)
                         * 1000000 + 0.500001) / 1000000 AS value
            FROM ev
            UNION ALL
            SELECT g.key, g.loc, g.ts, NULL AS value
            FROM g JOIN nk ON nk.key = g.key
            WHERE g.value IS NULL AND (g.loc < nk.xmin OR g.loc > nk.xmax)
        """,
        # Holt-Winters with fixed (α,β,γ): R-style init (centered-MA trend,
        # de-trended seasonal means, trend regression) + the triple-smoothing
        # recursion as a recursive CTE carrying (level, trend, season list),
        # then the 7-step forecast
        "holt_winters_forecast": "WITH RECURSIVE"
        + _DAILY_GRID_SQL.lstrip().removeprefix("WITH")
        + _FILLED_SQL
        + """
            , tr8 AS (
                SELECT key, loc AS j,
                       AVG(value) OVER (PARTITION BY key ORDER BY loc
                                        ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)
                           AS tr
                FROM filled QUALIFY j <= 7
            ),
            detr AS (
                SELECT f.key, f.loc, f.value - t8.tr AS dv
                FROM filled f
                JOIN tr8 t8 ON t8.key = f.key AND t8.j = f.loc - 3
                WHERE f.loc BETWEEN 3 AND 10
            ),
            sm AS (
                SELECT k.key, g.i,
                       CASE WHEN g.i <= 2 THEN d2.dv
                            WHEN g.i = 3 THEN (d1.dv + d2.dv) / 2
                            ELSE d1.dv END AS sm
                FROM (SELECT DISTINCT key FROM filled) k
                CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS i) g
                LEFT JOIN detr d1 ON d1.key = k.key AND d1.loc = g.i
                LEFT JOIN detr d2 ON d2.key = k.key AND d2.loc = g.i + 7
            ),
            mf AS (SELECT key, SUM(sm) / 7 AS mf FROM sm GROUP BY 1),
            season0 AS (
                SELECT sm.key, list(sm.sm - mf.mf ORDER BY sm.i) AS s0
                FROM sm JOIN mf ON mf.key = sm.key GROUP BY sm.key
            ),
            lt AS (
                SELECT key,
                       covar_pop(CAST(j + 1 AS DOUBLE), tr)
                           / var_pop(CAST(j + 1 AS DOUBLE)) AS t0,
                       AVG(tr) - covar_pop(CAST(j + 1 AS DOUBLE), tr)
                           / var_pop(CAST(j + 1 AS DOUBLE))
                           * AVG(CAST(j + 1 AS DOUBLE)) AS l0
                FROM tr8 GROUP BY 1
            ),
            rec AS (
                SELECT lt.key, 0 AS i, lt.l0 AS level, lt.t0 AS trend,
                       s.s0 AS seasons
                FROM lt JOIN season0 s ON s.key = lt.key
                UNION ALL
                SELECT r.key, r.i + 1,
                       0.3*(f.value - r.seasons[r.i + 1])
                         + (1 - 0.3)*(r.level + r.trend),
                       0.1*((0.3*(f.value - r.seasons[r.i + 1])
                              + (1 - 0.3)*(r.level + r.trend)) - r.level)
                         + (1 - 0.1)*r.trend,
                       list_append(r.seasons,
                           0.2*(f.value - (0.3*(f.value - r.seasons[r.i + 1])
                                            + (1 - 0.3)*(r.level + r.trend)))
                             + (1 - 0.2)*r.seasons[r.i + 1])
                FROM rec r
                JOIN filled f ON f.key = r.key AND f.loc = r.i + 7
                WHERE r.i < 24
            ),
            fin AS (SELECT key, level, trend, seasons FROM rec WHERE i = 24)
            SELECT key, CAST(s AS BIGINT) AS step,
                   FLOOR((level + s*trend + seasons[24 + s]) * 1000000 + 0.500001)
                   / 1000000 AS forecast
            FROM fin, (SELECT unnest(generate_series(1, 7)) AS s) st
        """,
        # exact replay of the deterministic fake image decode (md5-derived
        # uniform features, float32-rounded)
        "image_features": f"""
            SELECT doc_id, 64 AS width, 64 AS height, 3 AS channels,
                   'fake' AS format, i AS feat_idx,
                   ROUND(CAST(CAST(
                       {_h60("text || chr(1) || CAST(i AS VARCHAR)")}
                       / 1152921504606846976.0 AS FLOAT) AS DOUBLE), 6) AS feat
            FROM documents, (SELECT unnest(generate_series(0, 15)) AS i) g
        """,
    }

    # concat-then-chunk packing: ONE SQL window is the semantic spec; the
    # engine's bucket-cumsum plan must reproduce it exactly
    # hybrid-index rebase: the three sub-indices replay as a union of
    # generate_series CTEs with the same prefix-sum loc offsets
    o["rebase_hybrid"] = """
        WITH keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events),
        inst AS (
            SELECT CAST(date_diff('day', TIMESTAMP '2024-01-03', g) AS BIGINT)
                       AS loc,
                   CAST(g AS TIMESTAMP) AS ts
            FROM generate_series(TIMESTAMP '2024-01-03', TIMESTAMP '2024-01-07',
                                 INTERVAL 1 DAY) t(g)
            UNION ALL
            SELECT loc, ts FROM (VALUES
                (CAST(5 AS BIGINT), TIMESTAMP '2024-01-10'),
                (CAST(6 AS BIGINT), TIMESTAMP '2024-01-12'),
                (CAST(7 AS BIGINT), TIMESTAMP '2024-01-15')) v(loc, ts)
            UNION ALL
            SELECT 8 + CAST(date_diff('day', TIMESTAMP '2024-01-20', g) AS BIGINT),
                   CAST(g AS TIMESTAMP)
            FROM generate_series(TIMESTAMP '2024-01-20', TIMESTAMP '2024-01-23',
                                 INTERVAL 1 DAY) t(g)
        ),
        agg AS (
            SELECT CAST(user_id AS VARCHAR) AS key, date_trunc('day', ts) AS ts,
                   ROUND(AVG(value), 6) AS value
            FROM events GROUP BY 1, 2
        )
        SELECT keys.key, inst.loc, inst.ts, agg.value
        FROM keys CROSS JOIN inst
        LEFT JOIN agg ON agg.key = keys.key AND agg.ts = inst.ts
    """

    # first-non-missing union: arg_min over non-null cells = the priority
    # scan (grid holes are NULL; ascending key order is the default priority)
    o["union_series"] = _DAILY_GRID_SQL + """
        SELECT 'union' AS key, loc, MIN(ts) AS ts,
               arg_min(value, key) FILTER (WHERE value IS NOT NULL) AS value
        FROM grid GROUP BY loc
    """

    # per-series lag map: '1' keeps the original only, '2' fans into
    # lag1/lag2; global trim at the max lag (dense grid → loc >= 2)
    o["lags_custom"] = _DAILY_GRID_SQL + """
        , lagged AS (
            SELECT key, loc, ts, value,
                   lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2
            FROM grid WHERE key IN ('1', '2')
            WINDOW w AS (PARTITION BY key ORDER BY loc)
        )
        SELECT key, loc, ts, value FROM lagged WHERE key = '1' AND loc >= 2
        UNION ALL
        SELECT 'lag1(' || key || ')', loc, ts, l1
        FROM lagged WHERE key = '2' AND loc >= 2
        UNION ALL
        SELECT 'lag2(' || key || ')', loc, ts, l2
        FROM lagged WHERE key = '2' AND loc >= 2
    """

    # composed six-test suite: the individual oracles as derived tables,
    # plus LB(2) and closed-form χ²(2) p-values (exp(-stat/2)) computed
    # from the ROUNDED statistics on both engines
    _lb2_sql = """
        WITH l AS (
            SELECT CAST(user_id AS VARCHAR) AS key, value,
                   lag(value, 1) OVER w AS l1,
                   lag(value, 2) OVER w AS l2
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        a AS (
            SELECT key, COUNT(*) AS n,
                   corr(value, l1) AS r1, corr(value, l2) AS r2
            FROM l GROUP BY 1
        ),
        s AS (
            SELECT key,
                   FLOOR(n * (n + 2) * (r1*r1/(n-1) + r2*r2/(n-2))
                         * 1000000 + 0.500001) / 1000000 AS lb2_stat
            FROM a
        )
        SELECT key, lb2_stat,
               FLOOR(EXP(-lb2_stat / 2) * 1000000 + 0.500001) / 1000000
                   AS lb2_p
        FROM s
    """
    o["stats_suite"] = f"""
        SELECT a.key, a.adf_stat, k.kpss_stat, d.dw,
               l.lb2_stat, l.lb2_p, b.bg_stat,
               FLOOR(EXP(-b.bg_stat / 2) * 1000000 + 0.500001) / 1000000
                   AS bg_p,
               p.bp_stat
        FROM ({o["adf_test"]}) a
        JOIN ({o["kpss_test"]}) k USING (key)
        JOIN ({o["dw_test"]}) d USING (key)
        JOIN ({_lb2_sql}) l USING (key)
        JOIN ({o["bg_test"]}) b USING (key)
        JOIN ({o["bp_test"]}) p USING (key)
    """

    # Hampel filter: window arrays via list() OVER, medians via
    # list_median (DOUBLE interpolation == the Spark sorted-array formula)
    o["hampel"] = _DAILY_GRID_SQL + f"""
        , arr AS (
            SELECT key, loc, value,
                   list_filter(
                       list(value) OVER (PARTITION BY key ORDER BY loc
                           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING),
                       x -> x IS NOT NULL) AS a
            FROM grid
        ),
        sc AS (
            SELECT key, loc, value, list_median(a) AS med,
                   1.4826022185056018 * list_median(
                       list_transform(a, x -> abs(x - list_median(a)))
                   ) AS sigma
            FROM arr
        ),
        fin AS (
            SELECT key, loc, med,
                   CASE WHEN value IS NULL OR sigma IS NULL OR sigma = 0
                        THEN NULL
                        ELSE {_sr_sql("(value - med) / sigma", 4)}
                   END AS score
            FROM sc
        )
        SELECT key, loc, {_sr_sql("med", 6)} AS med, score,
               CASE WHEN score IS NULL THEN NULL
                    ELSE abs(score) > 3.0 END AS is_outlier
        FROM fin
    """

    # periodogram over the filled grid: demeaned cos/sin projection sums
    # at the Fourier frequencies, replayed with the same association order
    _pgram_base = (
        _DAILY_GRID_SQL
        + _FILLED_SQL
        + """
        , st AS (SELECT key, COUNT(*) AS n, AVG(value) AS mu
                 FROM filled GROUP BY 1),
        pk AS (
            SELECT f.key, f.loc, f.value - st.mu AS dv, st.n,
                   unnest(generate_series(1, CAST(st.n // 2 AS INT))) AS k
            FROM filled f JOIN st USING (key)
            WHERE f.value IS NOT NULL
        ),
        ag AS (
            SELECT key, k,
                   SUM(dv * cos(2 * pi() * k * loc / n)) AS a,
                   SUM(dv * sin(2 * pi() * k * loc / n)) AS b,
                   MAX(n) AS n
            FROM pk GROUP BY 1, 2
        )
    """
    )
    o["periodogram"] = _pgram_base + f"""
        SELECT key, CAST(k AS INT) AS k,
               {_sr_sql("(a*a + b*b) * 2 / n", 4)} AS power
        FROM ag
    """
    o["spectral_entropy"] = _pgram_base + f"""
        , pw AS (SELECT key, (a*a + b*b) * 2 / n AS p FROM ag),
        sagg AS (
            SELECT key, sum(p) AS S,
                   sum(CASE WHEN p > 0 THEN p * ln(p) END) AS plp,
                   count(*) AS m
            FROM pw GROUP BY key
        )
        SELECT key,
               CASE WHEN S > 0 AND m > 1 THEN
                   {_sr_sql("(ln(S) - plp / S) / ln(CAST(m AS DOUBLE))", 6)}
               END AS entropy
        FROM sagg
    """
    o["dominant_period"] = _pgram_base + f"""
        SELECT key, k, period, power FROM (
            SELECT key, CAST(k AS INT) AS k,
                   ROUND(CAST(n AS DOUBLE) / k, 6) AS period,
                   {_sr_sql("(a*a + b*b) * 2 / n", 4)} AS power,
                   row_number() OVER (PARTITION BY key
                                      ORDER BY ROUND((a*a + b*b) * 2 / n, 6)
                                                   DESC, k ASC)
                       AS rk
            FROM ag
        ) WHERE rk = 1
    """

    # cross-corpus MinHash near-dup: the minhash_lsh_dedup replay with the
    # candidate join split by batch membership (new = doc_id ≡ 0 mod 7)
    o["incremental_near_dedup"] = f"""
        WITH words AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id, sh FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, len(w) - 2),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                       )) AS sh
                FROM words
            )
        ),
        seeds AS (SELECT unnest(generate_series(0, 63)) AS s),
        sig AS (
            SELECT doc_id, s,
                   MIN({_h60("sh || chr(1) || CAST(s AS VARCHAR)")}) AS m
            FROM sh CROSS JOIN seeds GROUP BY doc_id, s
        ),
        bandhash AS (
            SELECT doc_id, s // 4 AS band,
                   {_h60("string_agg(CAST(m AS VARCHAR), ',' ORDER BY s)")} AS bh
            FROM sig GROUP BY doc_id, s // 4
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
            FROM bandhash a
            JOIN bandhash b ON a.band = b.band AND a.bh = b.bh
            WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        inter AS (
            SELECT id_new, id_old, COUNT(*) AS i
            FROM cand
            JOIN sh sa ON sa.doc_id = id_new
            JOIN sh sb ON sb.doc_id = id_old AND sa.sh = sb.sh
            GROUP BY 1, 2
        )
        SELECT id_new, id_old,
               ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_new
        JOIN sizes sb ON sb.doc_id = id_old
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.3
    """

    o["pack_sequences"] = """
        WITH n AS (
            SELECT source, doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT)
                       AS n_tokens
            FROM documents
        ), strm AS (
            SELECT source, doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens + 1) OVER (
                       ORDER BY source, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS "offset"
            FROM n
        )
        SELECT source, doc_id, n_tokens, "offset",
               CAST("offset" // 512 AS BIGINT) AS seq_id,
               CAST(CASE WHEN n_tokens > 0
                         THEN (("offset" + n_tokens - 1) // 512)
                              - ("offset" // 512) + 1
                         ELSE 0 END AS INT) AS n_seqs_spanned
        FROM strm
    """
    # seeded-hash range carve; sorted(fractions) order → test|train|val
    o["split_dataset"] = f"""
        WITH b AS (
            SELECT doc_id,
                   {_h60("CAST(doc_id AS VARCHAR) || chr(1) || '11'")}
                       % 1000000 AS bk
            FROM documents
        )
        SELECT doc_id,
               CASE WHEN bk < 100000 THEN 'test'
                    WHEN bk < 900000 THEN 'train'
                    ELSE 'val' END AS split
        FROM b
    """
    # normalization chain replayed rule-for-rule from NORMALIZE_RULES
    _norm_salt = (
        "'  x' || chr(7) || 'y' || chr(13) || chr(10) || 'z' || chr(9) ||"
        " ' t  ' || repeat(chr(10), 4) || text || '  trail  '"
    )
    _norm_chain = "t"
    from spark_timeseries_spark.pipeline.text import NORMALIZE_RULES as _NR

    _repl_sql = {" ": "' '", "\n": "chr(10)", "\n\n": "chr(10) || chr(10)"}
    for _pat, _repl in _NR:
        _norm_chain = (
            f"regexp_replace({_norm_chain}, '{_pat}', {_repl_sql[_repl]}, 'g')"
        )
    o["normalize_text"] = f"""
        WITH s AS (SELECT doc_id, {_norm_salt} AS t FROM documents)
        SELECT doc_id, md5(trim({_norm_chain})) AS norm_md5 FROM s
    """

    # C4 boilerplate: the oracle groups by the normalized line itself where
    # the engine groups by its xxhash64 (same partition; a collision would
    # surface as a hash mismatch here)
    o["remove_boilerplate"] = """
        WITH salted AS (
            SELECT doc_id, source,
                   text || chr(10) || 'Subscribe To Our Newsletter' ||
                   chr(10) || 'unique line ' || CAST(doc_id AS VARCHAR) AS t
            FROM documents
        ), parts AS (
            SELECT doc_id, source, string_split(t, chr(10)) AS ls FROM salted
        ), lines AS (
            SELECT doc_id, source, i AS line_no, ls[i] AS line
            FROM parts, LATERAL (
                SELECT unnest(generate_series(1, len(ls))) AS i) g
        ), boiler AS (
            SELECT lower(trim(line)) AS nl FROM lines
            WHERE length(trim(line)) > 0
            GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 3
        ), kept AS (
            SELECT l.doc_id, l.source, l.line_no, l.line
            FROM lines l LEFT JOIN boiler b ON lower(trim(l.line)) = b.nl
            WHERE b.nl IS NULL
        ), rebuilt AS (
            SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS t
            FROM kept GROUP BY 1
        )
        SELECT s.doc_id, s.source, md5(COALESCE(r.t, '')) AS clean_md5
        FROM salted s LEFT JOIN rebuilt r ON r.doc_id = s.doc_id
    """
    # token-window chunking: chunk k = tokens [k*stride, k*stride+chunk);
    # n_chunks = ceil(max(n - overlap, 1) / stride)
    o["chunk_documents"] = """
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\\s+') AS toks,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                   END AS n
            FROM documents
        ), c AS (
            SELECT doc_id, toks, n,
                   GREATEST(CAST(CEIL(GREATEST(n - 8, 1) / 24.0) AS INT), 1)
                       AS nc
            FROM t
        )
        SELECT doc_id, k AS chunk_id,
               CAST(GREATEST(LEAST(32, n - k * 24), 0) AS INT) AS n_tokens,
               md5(array_to_string(
                   list_slice(toks, k * 24 + 1,
                              k * 24 + GREATEST(LEAST(32, n - k * 24), 0)),
                   ' ')) AS chunk_md5
        FROM c, LATERAL (SELECT unnest(generate_series(0, nc - 1)) AS k) g
    """

    # calendar scalar surface: ISO dow, Wednesday-rebased dow, next-
    # business-day snap, closed-form business-day difference from an anchor
    o["calendar_ops"] = """
        WITH base AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts,
                   isodow(ts) AS dow_iso,
                   ((isodow(ts) - 3) % 7 + 7) % 7 AS dow_rebased_wed,
                   ((isodow(ts) - 1) % 7 + 7) % 7 AS dow0,
                   date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days
            FROM events
        )
        SELECT key, ts, dow_iso, dow_rebased_wed,
               CASE WHEN dow0 = 5 THEN ts + INTERVAL 2 DAY
                    WHEN dow0 = 6 THEN ts + INTERVAL 1 DAY
                    ELSE ts END AS next_bday,
               CAST((days // 7) * 5 +
                    (CASE WHEN 0 < ((days % 7) + 7) % 7
                          AND ((0 + 1) % 7) < 5 THEN 1 ELSE 0 END) +
                    (CASE WHEN 1 < ((days % 7) + 7) % 7
                          AND ((1 + 1) % 7) < 5 THEN 1 ELSE 0 END) +
                    (CASE WHEN 2 < ((days % 7) + 7) % 7
                          AND ((2 + 1) % 7) < 5 THEN 1 ELSE 0 END) +
                    (CASE WHEN 3 < ((days % 7) + 7) % 7
                          AND ((3 + 1) % 7) < 5 THEN 1 ELSE 0 END) +
                    (CASE WHEN 4 < ((days % 7) + 7) % 7
                          AND ((4 + 1) % 7) < 5 THEN 1 ELSE 0 END) +
                    (CASE WHEN 5 < ((days % 7) + 7) % 7
                          AND ((5 + 1) % 7) < 5 THEN 1 ELSE 0 END)
                    AS BIGINT) AS bdays_from_anchor
        FROM base
    """

    # parquet+sidecar roundtrip must reproduce the daily grid exactly
    o["serde_roundtrip"] = (
        _DAILY_GRID_SQL + "SELECT key, loc, ts, value FROM grid"
    )
    # squared row norms through the MLlib matrix bridge ≡ Σ value² per loc
    o["row_matrix_norms"] = _DAILY_GRID_SQL + f"""
        SELECT loc,
               {_sr_sql("SUM(COALESCE(value, 0) * COALESCE(value, 0))", 4)}
                   AS norm2
        FROM grid GROUP BY 1
    """

    # composed oracle: ANN recall@5 evaluation — exact and approximate top-k
    # replays joined (DuckDB allows CTE-bearing subqueries in FROM)
    o["lsh_recall"] = f"""
        SELECT k.qid,
               ROUND(COALESCE(h.hits, 0) / CAST(k.k AS DOUBLE), 4) AS recall
        FROM (SELECT qid, COUNT(*) AS k
              FROM ({o['knn_cosine']}) GROUP BY 1) k
        LEFT JOIN (
            SELECT e.qid, COUNT(*) AS hits
            FROM ({o['knn_cosine']}) e
            JOIN ({o['lsh_topk']}) a
              ON a.qid = e.qid AND a.vec_id = e.vec_id
            GROUP BY 1
        ) h ON h.qid = k.qid
    """

    # CCNet-style bigram-LM scoring: train on lang='en', add-1 smoothing,
    # per-doc mean NLL — the token split mirrors pipeline/text.py::tokens
    # (trim+lower+\s+ with empties dropped)
    o["lm_perplexity"] = f"""
        WITH ref_toks AS (
            SELECT list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS ts
            FROM documents WHERE lang = 'en'
        ),
        c2 AS (
            SELECT ts[i] AS ctx, ts[i + 1] AS w, COUNT(*) AS c2
            FROM ref_toks, unnest(range(1, len(ts))) AS r(i)
            GROUP BY 1, 2
        ),
        c1 AS (SELECT ctx, SUM(c2) AS c1 FROM c2 GROUP BY 1),
        v AS (
            SELECT COUNT(DISTINCT t) AS v
            FROM ref_toks, unnest(ts) AS u(t)
        ),
        doc_toks AS (
            SELECT doc_id,
                   list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS ts
            FROM documents
        ),
        doc_pairs AS (
            SELECT doc_id, ts[i] AS ctx, ts[i + 1] AS w
            FROM doc_toks, unnest(range(1, len(ts))) AS r(i)
        ),
        nlls AS (
            SELECT p.doc_id,
                   -ln((COALESCE(c2.c2, 0) + 1.0)
                       / (COALESCE(c1.c1, 0) + (SELECT v FROM v))) AS nll
            FROM doc_pairs p
            LEFT JOIN c2 ON c2.ctx = p.ctx AND c2.w = p.w
            LEFT JOIN c1 ON c1.ctx = p.ctx
        )
        SELECT doc_id, COUNT(*) AS n_bigrams,
               {_sr_sql("AVG(nll)", 6)} AS cross_entropy
        FROM nlls GROUP BY 1
    """

    # Okapi BM25 replay: Lucene idf, k1=1.2 b=0.75, rank on the 6-digit
    # quantized score (same boundary nudge as the Spark side)
    qvals = ", ".join(
        f"('{qid}', '{t}')"
        for qid, qs in sorted(_BM25_QUERIES.items())
        for t in sorted(set(qs.lower().split()))
    )
    o["bm25_search"] = f"""
        WITH q(query_id, term) AS (VALUES {qvals}),
        toks AS (
            SELECT doc_id,
                   list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS ts
            FROM documents
        ),
        terms AS (
            SELECT doc_id, len(ts) AS dl, t AS term, COUNT(*) AS tf
            FROM toks, unnest(ts) AS u(t)
            GROUP BY 1, 2, 3
        ),
        stats AS (SELECT COUNT(*) AS n, AVG(len(ts)) AS avgdl FROM toks),
        hits AS (
            SELECT * FROM terms WHERE term IN (SELECT DISTINCT term FROM q)
        ),
        dfreq AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY 1
        ),
        scored AS (
            SELECT q.query_id, h.doc_id,
                   SUM(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                       * (h.tf * 2.2)
                       / (h.tf + 1.2 * (0.25 + 0.75 * h.dl / s.avgdl))
                   ) AS score
            FROM hits h
            JOIN q ON q.term = h.term
            JOIN dfreq d ON d.term = h.term, stats s
            GROUP BY 1, 2
        ),
        r AS (
            SELECT query_id, doc_id, {_sr_sql("score", 6)} AS score
            FROM scored
        )
        SELECT query_id, doc_id,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, doc_id)
                    AS INT) AS rank,
               score
        FROM r
        QUALIFY rank <= 10
    """

    # duplicated-substring coverage: positioned 8-gram md5_60 hashes,
    # cross-doc hash groups, interval union via COUNT(DISTINCT position)
    o["dup_spans"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS ts
            FROM documents
        ),
        grams AS (
            SELECT doc_id, i AS start,
                   {_h60("array_to_string(ts[i:i+7], ' ')")} AS gh
            FROM toks, unnest(range(1, len(ts) - 6)) AS r(i)
            WHERE len(ts) >= 8
        ),
        dup AS (
            SELECT gh FROM grams GROUP BY gh
            HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        cov AS (
            SELECT doc_id,
                   SUM(GREATEST(0, (start + 7)
                       - GREATEST(COALESCE(pmax, 0), start - 1))) AS dup_tokens
            FROM (
                SELECT g.doc_id, g.start,
                       MAX(g.start + 7) OVER (
                           PARTITION BY g.doc_id ORDER BY g.start
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ) AS pmax
                FROM grams g JOIN dup USING (gh)
            ) GROUP BY 1
        )
        SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
               CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               CAST(CASE WHEN len(t.ts) = 0 THEN 0
                    ELSE (CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) * 1000000)
                         // CAST(len(t.ts) AS BIGINT)
               END AS BIGINT) AS dup_micros
        FROM toks t LEFT JOIN cov c USING (doc_id)
    """

    # remove_dup_spans: same positioned-8-gram pipeline as dup_spans, plus
    # canonical-occurrence exemption, interval merge (running-max groups),
    # gap/tail keep-segments, and list-slice text rebuild. The gram hash
    # runs over the LOWERCASED tokens, the rebuild over the ORIGINAL-case
    # tokens — positions align because lowercasing preserves whitespace.
    o["remove_dup_spans"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> x <> '') AS ts_o,
                   list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS ts
            FROM documents
        ),
        grams AS (
            SELECT doc_id, i AS start,
                   {_h60("array_to_string(ts[i:i+7], ' ')")} AS gh
            FROM toks, unnest(range(1, len(ts) - 6)) AS r(i)
            WHERE len(ts) >= 8
        ),
        dup AS (
            SELECT gh, MIN(doc_id) AS canon FROM grams GROUP BY gh
            HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        occ AS (
            SELECT g.doc_id, g.start, g.start + 7 AS e
            FROM grams g JOIN dup USING (gh)
            WHERE g.doc_id <> dup.canon
        ),
        grp AS (
            SELECT doc_id, start, e,
                   SUM(CASE WHEN start > COALESCE(pmax, 0) + 1
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY start
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS g
            FROM (
                SELECT doc_id, start, e,
                       MAX(e) OVER (PARTITION BY doc_id ORDER BY start
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING) AS pmax
                FROM occ)
        ),
        merged AS (
            SELECT doc_id, g, MIN(start) AS a, MAX(e) AS b
            FROM grp GROUP BY 1, 2
        ),
        gaps AS (
            SELECT doc_id, s, e FROM (
                SELECT doc_id,
                       COALESCE(lag(b) OVER (PARTITION BY doc_id ORDER BY a)
                                + 1, 1) AS s,
                       a - 1 AS e
                FROM merged)
            WHERE s <= e
        ),
        tailseg AS (
            SELECT m.doc_id, MAX(m.b) + 1 AS s, ANY_VALUE(len(k.ts)) AS e
            FROM merged m JOIN toks k USING (doc_id)
            GROUP BY 1 HAVING MAX(m.b) + 1 <= ANY_VALUE(len(k.ts))
        ),
        allsegs AS (
            SELECT * FROM gaps UNION ALL SELECT * FROM tailseg
        ),
        reb AS (
            SELECT g.doc_id,
                   flatten(list(k.ts_o[g.s:g.e] ORDER BY g.s)) AS kept
            FROM allsegs g JOIN toks k USING (doc_id)
            GROUP BY 1
        )
        SELECT t.doc_id,
               md5(CASE WHEN d.doc_id IS NULL
                        THEN array_to_string(t.ts_o, ' ')
                        ELSE COALESCE(array_to_string(r.kept, ' '), '')
                   END) AS clean_md5,
               len(t.ts_o) AS n_tokens,
               CASE WHEN d.doc_id IS NULL THEN 0
                    ELSE len(t.ts_o) - COALESCE(len(r.kept), 0)
               END AS removed_tokens
        FROM toks t
        LEFT JOIN (SELECT DISTINCT doc_id FROM merged) d USING (doc_id)
        LEFT JOIN reb r USING (doc_id)
    """

    # the persisted-index probe must return exactly what the inline IVF
    # returns — one oracle proves both paths
    o["ivf_persist"] = o["ivf_topk"]

    # product quantization: per-subspace Lloyd chains (same CTE shapes the
    # kmeans_assign oracle proved), then codes = final assignments, ADC =
    # LUT joins summed in subspace order (matching the Spark-side sum)
    def _pq_sql(
        m: int,
        k: int,
        iters: int,
        dim: int,
        nq: int,
        topk: int,
        coarse: int = 0,
        nprobe: int = 0,
    ) -> str:
        sub = dim // m
        parts = ["""
        WITH fv AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS f FROM embeddings
        )"""]
        for s in range(m):
            lo, hi = s * sub + 1, (s + 1) * sub
            parts.append(f""",
        vs{s} AS (SELECT vec_id, f[{lo}:{hi}] AS v FROM fv),
        s{s}c0 AS (
            SELECT CAST(rn - 1 AS INT) AS cid, v AS cv
            FROM (SELECT v, row_number() OVER (ORDER BY vec_id) AS rn
                  FROM vs{s})
            WHERE rn <= {k}
        )""")
            for t in range(1, iters + 2):
                prev = f"s{s}c{t - 1}"
                parts.append(f""",
        s{s}d{t} AS (
            SELECT v.vec_id, v.v, c.cid,
                   list_sum(list_transform(range(1, len(v.v) + 1),
                       i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i]))) AS dist
            FROM vs{s} v, {prev} c
        ),
        s{s}a{t} AS (
            SELECT vec_id, v, cid, dist FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY dist, cid) AS rk
                FROM s{s}d{t})
            WHERE rk = 1
        )""")
                if t <= iters:
                    parts.append(f""",
        s{s}n{t} AS (
            SELECT cid, list(mm ORDER BY i) AS mm FROM (
                SELECT cid, i, AVG(v[i]) AS mm
                FROM s{s}a{t}, unnest(range(1, len(v) + 1)) AS r(i)
                GROUP BY 1, 2)
            GROUP BY 1
        ),
        s{s}c{t} AS (
            SELECT c.cid, COALESCE(n.mm, c.cv) AS cv
            FROM {prev} c LEFT JOIN s{s}n{t} n USING (cid)
        )""")
        fin = iters + 1
        code_cols = ", ".join(
            f"a{s}.cid AS c{s}" for s in range(m)
        )
        code_joins = " ".join(
            f"JOIN s{s}a{fin} a{s} USING (vec_id)" for s in range(1, m)
        )
        parts.append(f""",
        codes AS (
            SELECT a0.vec_id, {code_cols}
            FROM s0a{fin} a0 {code_joins}
        )""")
        for s in range(m):
            parts.append(f""",
        lut{s} AS (
            SELECT q.vec_id AS qid, c.cid,
                   list_sum(list_transform(range(1, len(q.v) + 1),
                       i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))) AS d
            FROM (SELECT * FROM vs{s} WHERE vec_id < {nq}) q, s{s}c{iters} c
        )""")
        adist = " + ".join(f"l{s}.d" for s in range(m))
        lut_joins = " ".join(
            f"JOIN lut{s} l{s} ON l{s}.cid = codes.c{s} AND l{s}.qid = l0.qid"
            for s in range(1, m)
        )
        if coarse:
            # IVF layer: md5_60-sampled coarse centroids (the exact
            # _sampled_centroids scheme the ivf_topk oracle proved),
            # squared-L2 nearest-1 corpus assignment, nprobe-list query
            # probe; candidates flow through the probe join before ADC
            sqd = ("list_sum(list_transform(range(1, len({a}) + 1),"
                   " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))")
            parts.append(f""",
        ccents AS (
            SELECT CAST(row_number() OVER (
                       ORDER BY {_h60('CAST(vec_id AS VARCHAR)')}
                   ) AS INT) AS ccid, f AS ccv
            FROM fv QUALIFY ccid <= {coarse}
        ),
        cassign AS (
            SELECT vec_id, ccid FROM (
                SELECT e.vec_id, c.ccid,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY {sqd.format(a='e.f', b='c.ccv')}, c.ccid
                       ) AS rk
                FROM fv e CROSS JOIN ccents c
            ) WHERE rk = 1
        ),
        qprobe AS (
            SELECT qid, ccid FROM (
                SELECT q.vec_id AS qid, c.ccid,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY {sqd.format(a='q.f', b='c.ccv')}, c.ccid
                       ) AS rk
                FROM (SELECT * FROM fv WHERE vec_id < {nq}) q
                CROSS JOIN ccents c
            ) WHERE rk <= {nprobe}
        ),
        scored AS (
            SELECT l0.qid, codes.vec_id, {adist} AS adist
            FROM qprobe
            JOIN cassign USING (ccid)
            JOIN codes ON codes.vec_id = cassign.vec_id
            JOIN lut0 l0 ON l0.cid = codes.c0 AND l0.qid = qprobe.qid
            {lut_joins}
            WHERE l0.qid <> codes.vec_id
        )""")
        else:
            parts.append(f""",
        scored AS (
            SELECT l0.qid, codes.vec_id, {adist} AS adist
            FROM codes JOIN lut0 l0 ON l0.cid = codes.c0 {lut_joins}
            WHERE l0.qid <> codes.vec_id
        )""")
        parts.append(""",
        ranked AS (
            SELECT qid, vec_id, adist,
                   CAST(row_number() OVER (PARTITION BY qid
                            ORDER BY adist, vec_id) AS INT) AS rank
            FROM scored
        )""")
        return "".join(parts)

    _pq_args = dict(m=2, k=4, iters=2, dim=64, nq=5, topk=5)
    o["pq_adc"] = _pq_sql(**_pq_args) + f"""
        SELECT qid, vec_id, {_sr_sql("adist", 6)} AS adist, rank
        FROM ranked WHERE rank <= 5"""

    # ivfpq_topk: the same PQ model + the ivf_topk coarse-sampling scheme,
    # composed — candidates restricted to the query's 4 probed lists
    o["ivfpq_topk"] = _pq_sql(**_pq_args, coarse=16, nprobe=4) + f"""
        SELECT qid, vec_id, {_sr_sql("adist", 6)} AS adist, rank
        FROM ranked WHERE rank <= 5"""

    # pq_recall: ADC-ranked top-5 vs the EXACT full-dimension L2 top-5
    # (same metric ADC approximates); recall = |intersection| / 5
    o["pq_recall"] = _pq_sql(**_pq_args) + """,
        brute AS (
            SELECT qid, vec_id FROM (
                SELECT q.vec_id AS qid, x.vec_id,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                           list_sum(list_transform(range(1, len(x.f) + 1),
                               i -> (x.f[i] - q.f[i]) * (x.f[i] - q.f[i]))),
                           x.vec_id) AS rk
                FROM (SELECT * FROM fv WHERE vec_id < 5) q, fv x
                WHERE x.vec_id <> q.vec_id)
            WHERE rk <= 5
        )
        SELECT r.qid,
               CAST(COUNT(b.vec_id) AS DOUBLE) / 5 AS recall
        FROM ranked r LEFT JOIN brute b
          ON r.qid = b.qid AND r.vec_id = b.vec_id
        WHERE r.rank <= 5
        GROUP BY 1"""

    # blocklist / URL hygiene: the Spark side compiles the same regexes
    # (RE2-compatible core: inline (?i), \b, literal alternation)
    from spark_timeseries_spark.pipeline.text import _blocklist_pattern

    _bl_pat = _blocklist_pattern(_BLOCK_PHRASES)
    o["blocklist_flag"] = f"""
        WITH s AS (
            SELECT doc_id,
                   text || CASE WHEN doc_id % 3 = 0
                                THEN ' has a BadPhrase inside'
                                ELSE ' superbadphrased is no hit'
                           END AS t
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{_bl_pat}')) AS INT)
                   AS n_blocked,
               len(regexp_extract_all(t, '{_bl_pat}')) > 0 AS blocked
        FROM s
    """
    o["dedup_paragraphs"] = r"""
        WITH s AS (
            SELECT doc_id,
                   text || chr(10) || chr(10) || 'shared footer paragraph'
                        || chr(10) || chr(10) || 'unique paragraph '
                        || CAST(doc_id AS VARCHAR) AS t
            FROM documents
        ),
        lst AS (
            SELECT doc_id,
                   list_filter(
                       list_transform(regexp_split_to_array(t, '\n{2,}'),
                                      x -> trim(x)),
                       x -> x <> '') AS ps
            FROM s
        ),
        paras AS (
            SELECT doc_id, i - 1 AS idx, ps[i] AS para
            FROM lst, unnest(range(1, len(ps) + 1)) AS r(i)
        ),
        kept AS (
            SELECT doc_id, idx, para FROM (
                SELECT *, row_number() OVER (PARTITION BY para
                                             ORDER BY doc_id, idx) AS rn
                FROM paras)
            WHERE rn = 1
        ),
        reb AS (
            SELECT doc_id,
                   string_agg(para, chr(10) || chr(10) ORDER BY idx) AS text,
                   COUNT(*) AS k
            FROM kept GROUP BY 1
        )
        SELECT l.doc_id,
               md5(COALESCE(reb.text, '')) AS clean_md5,
               CAST(len(l.ps) AS BIGINT) AS n_paras,
               CAST(len(l.ps) - COALESCE(reb.k, 0) AS BIGINT)
                   AS removed_paras
        FROM lst l LEFT JOIN reb USING (doc_id)
    """
    o["url_stats"] = r"""
        WITH s AS (
            SELECT doc_id,
                   text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
                        || '.example.com/page and http://Dup.ORG/x?q=1 plus'
                        || ' https://site' || CAST(doc_id % 7 AS VARCHAR)
                        || '.example.com/other' AS t
            FROM documents
        ),
        u AS (
            SELECT doc_id, regexp_extract_all(t, 'https?://[^\s]+') AS urls
            FROM s
        )
        SELECT doc_id,
               CAST(len(urls) AS INT) AS n_urls,
               array_to_string(
                   list_sort(list_distinct(list_transform(urls,
                       x -> lower(regexp_extract(x, 'https?://([^/\s:]+)', 1))
                   ))), ',') AS domain_list
        FROM u
    """

    # line dedup: same content-grouped replay shape as dedup_paragraphs,
    # single-\n split, plus the min_docs threshold (sub-threshold lines
    # keep every occurrence, including intra-document repeats)
    o["dedup_lines"] = r"""
        WITH s AS (
            SELECT doc_id,
                   text || chr(10) || 'shared footer line'
                        || chr(10) || 'unique line '
                        || CAST(doc_id AS VARCHAR) AS t
            FROM documents
        ),
        lst AS (
            SELECT doc_id,
                   list_filter(
                       list_transform(regexp_split_to_array(t, '\n'),
                                      x -> trim(x)),
                       x -> x <> '') AS ls
            FROM s
        ),
        lines AS (
            SELECT doc_id, i - 1 AS idx, ls[i] AS line
            FROM lst, unnest(range(1, len(ls) + 1)) AS r(i)
        ),
        st AS (
            SELECT line, COUNT(DISTINCT doc_id) AS nd FROM lines GROUP BY 1
        ),
        firsts AS (
            SELECT line, doc_id AS fi, idx AS fx FROM (
                SELECT line, doc_id, idx,
                       row_number() OVER (PARTITION BY line
                                          ORDER BY doc_id, idx) AS rn
                FROM lines)
            WHERE rn = 1
        ),
        kept AS (
            SELECT l.doc_id, l.idx, l.line
            FROM lines l
            JOIN st ON st.line = l.line
            JOIN firsts f ON f.line = l.line
            WHERE st.nd < 2 OR (l.doc_id = f.fi AND l.idx = f.fx)
        ),
        reb AS (
            SELECT doc_id,
                   string_agg(line, chr(10) ORDER BY idx) AS text,
                   COUNT(*) AS k
            FROM kept GROUP BY 1
        )
        SELECT l.doc_id,
               md5(COALESCE(reb.text, '')) AS clean_md5,
               CAST(len(l.ls) AS BIGINT) AS n_lines,
               CAST(len(l.ls) - COALESCE(reb.k, 0) AS BIGINT)
                   AS removed_lines
        FROM lst l LEFT JOIN reb USING (doc_id)
    """

    # containment: salted subset pairs + shingle-inverted-index candidates
    # + exact set algebra (DISTINCT 3-gram shingles, same as the Spark
    # shingles() kernel: docs under 3 tokens have an empty set)
    o["containment_pairs"] = f"""
        WITH pred AS (
            SELECT doc_id + 1 AS doc_id, text AS pt FROM documents
        ),
        s AS (
            SELECT d.doc_id,
                   CASE WHEN d.doc_id % 50 = 1 AND p.pt IS NOT NULL
                        THEN d.text || ' ' || p.pt
                        ELSE d.text END AS text
            FROM documents d LEFT JOIN pred p USING (doc_id)
        ),
        words AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM s
        ),
        sh AS (
            SELECT DISTINCT doc_id, sh FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, len(w) - 2),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                       )) AS sh
                FROM words
            )
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
            FROM sh a JOIN sh b USING (sh)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        ),
        scored AS (
            SELECT id_a, id_b,
                   CAST(inter AS DOUBLE) / sa.n AS ca,
                   CAST(inter AS DOUBLE) / sb.n AS cb,
                   CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS j
            FROM pairs
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
        )
        SELECT id_a, id_b,
               {_sr_sql("ca", 6)} AS containment_a,
               {_sr_sql("cb", 6)} AS containment_b,
               {_sr_sql("j", 6)} AS jaccard
        FROM scored
        WHERE ca >= 0.9 OR cb >= 0.9
    """

    # incremental exact dedup: digest anti-join vs the old half + in-batch
    # keep-first; digests use the same whitespace/case normalization as
    # the dedup_exact oracle
    o["incremental_dedup"] = r"""
        WITH old AS (
            SELECT doc_id, text,
                   md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS dig
            FROM documents WHERE doc_id < 250
        ),
        dup_src AS (SELECT doc_id + 250 AS doc_id, text AS ot FROM old),
        newb AS (
            SELECT n.doc_id,
                   CASE WHEN n.doc_id % 5 = 0 AND o.ot IS NOT NULL
                        THEN o.ot ELSE n.text END AS text
            FROM documents n LEFT JOIN dup_src o USING (doc_id)
            WHERE n.doc_id >= 250
        ),
        newd AS (
            SELECT doc_id, text,
                   md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS dig
            FROM newb
        ),
        fresh AS (
            SELECT * FROM newd
            WHERE dig NOT IN (SELECT dig FROM old)
        ),
        firsts AS (SELECT dig, MIN(doc_id) AS doc_id FROM fresh GROUP BY 1)
        SELECT f.doc_id, md5(f.text) AS md5
        FROM fresh f JOIN firsts USING (dig, doc_id)
    """

    # Zipf diagnostic: deterministic (cnt DESC, token) ranking + closed
    # covariance algebra, natural logs both engines
    o["zipf_slope"] = f"""
        WITH toks AS (
            SELECT source, t AS token
            FROM documents,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS u(t)
            WHERE t != ''
        ),
        c AS (
            SELECT source, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
        ),
        r AS (
            SELECT source, ln(CAST(rank AS DOUBLE)) AS x,
                   ln(CAST(cnt AS DOUBLE)) AS y
            FROM (
                SELECT source, cnt,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY cnt DESC, token ASC)
                           AS rank
                FROM c)
            WHERE rank <= 50
        ),
        m AS (
            SELECT source, COUNT(*) AS n_ranks,
                   covar_pop(x, y) AS sxy, var_pop(x) AS sxx,
                   var_pop(y) AS syy, AVG(x) AS mx, AVG(y) AS my
            FROM r GROUP BY 1
        )
        SELECT source,
               CASE WHEN sxx = 0 THEN NULL
                    ELSE {_sr_sql("sxy / sxx", 6)} END AS slope,
               CASE WHEN sxx = 0 THEN NULL
                    ELSE {_sr_sql("my - (sxy / sxx) * mx", 6)} END
                   AS intercept,
               CASE WHEN sxx = 0 OR syy = 0 THEN NULL
                    ELSE {_sr_sql("sxy * sxy / (sxx * syy)", 6)}
               END AS r2,
               CAST(n_ranks AS BIGINT) AS n_ranks
        FROM m
    """

    # rolling sample std over the daily grid — same guard shape as the
    # roll_mean oracle (incomplete windows trimmed, missing cell → NULL)
    o["roll_std"] = _DAILY_GRID_SQL + f"""
        , rolled AS (
            SELECT key, loc, ts,
                   count(*) OVER w AS nrows, count(value) OVER w AS nvals,
                   stddev(value) OVER w AS s
            FROM grid
            WINDOW w AS (PARTITION BY key ORDER BY loc
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        )
        SELECT key, loc, ts,
               CASE WHEN nvals = 5 THEN {_sr_sql("s", 6)} END AS value
        FROM rolled WHERE nrows = 5
    """

    # cross-correlation: per-overlap Pearson of (a_t, b_{t-lag})
    _cc_rows = " UNION ALL ".join(
        f"SELECT {k} AS lag, c{k} AS ccf FROM m" for k in range(8)
    )
    o["crosscorr"] = _DAILY_GRID_SQL + f"""
        , a AS (SELECT loc, value FROM grid WHERE key = '1'),
        b AS (SELECT loc, value FROM grid WHERE key = '2'),
        j AS (
            SELECT a.loc, a.value AS av, b.value AS bv
            FROM a JOIN b USING (loc)
        ),
        lagged AS (
            SELECT loc, av, bv,
                   {", ".join(f"lag(bv, {k}) OVER (ORDER BY loc) AS bv{k}"
                              for k in range(1, 8))}
            FROM j
        ),
        m AS (
            SELECT corr(av, bv) AS c0,
                   {", ".join(f"corr(av, bv{k}) AS c{k}"
                              for k in range(1, 8))}
            FROM lagged
        )
        SELECT CAST(lag AS INT) AS lag, {_sr_sql("ccf", 6)} AS ccf
        FROM ({_cc_rows})
    """

    # interpolated trigram LM: three count layers from the lang='en'
    # reference slice + the Jelinek-Mercer algebra, λ = (0.6, 0.3, 0.1)
    o["lm3_perplexity"] = f"""
        WITH ref_toks AS (
            SELECT list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS ts
            FROM documents WHERE lang = 'en'
        ),
        t3 AS (
            SELECT ts[i] AS c2, ts[i+1] AS c1, ts[i+2] AS w,
                   COUNT(*) AS t3
            FROM ref_toks, unnest(range(1, len(ts) - 1)) AS r(i)
            GROUP BY 1, 2, 3
        ),
        t2 AS (SELECT c2, c1, SUM(t3) AS t2 FROM t3 GROUP BY 1, 2),
        b2 AS (
            SELECT ts[i] AS c1, ts[i+1] AS w, COUNT(*) AS b2
            FROM ref_toks, unnest(range(1, len(ts))) AS r(i)
            GROUP BY 1, 2
        ),
        b1 AS (SELECT c1, SUM(b2) AS b1 FROM b2 GROUP BY 1),
        u1 AS (
            SELECT t AS w, COUNT(*) AS u1
            FROM ref_toks, unnest(ts) AS u(t) GROUP BY 1
        ),
        sc AS (
            SELECT SUM(u1) AS n, COUNT(*) AS v FROM u1
        ),
        doc_trip AS (
            SELECT doc_id, ts[i] AS c2, ts[i+1] AS c1, ts[i+2] AS w
            FROM (
                SELECT doc_id,
                       list_filter(
                           regexp_split_to_array(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS ts
                FROM documents),
                unnest(range(1, len(ts) - 1)) AS r(i)
        ),
        nlls AS (
            SELECT d.doc_id,
                   -ln(0.6 * (COALESCE(t3.t3, 0) + 1.0)
                           / (COALESCE(t2.t2, 0) + sc.v)
                       + 0.3 * (COALESCE(b2.b2, 0) + 1.0)
                           / (COALESCE(b1.b1, 0) + sc.v)
                       + 0.1 * (COALESCE(u1.u1, 0) + 1.0)
                           / (sc.n + sc.v)) AS nll
            FROM doc_trip d
            LEFT JOIN t3 ON t3.c2 = d.c2 AND t3.c1 = d.c1 AND t3.w = d.w
            LEFT JOIN t2 ON t2.c2 = d.c2 AND t2.c1 = d.c1
            LEFT JOIN b2 ON b2.c1 = d.c1 AND b2.w = d.w
            LEFT JOIN b1 ON b1.c1 = d.c1
            LEFT JOIN u1 ON u1.w = d.w, sc
        )
        SELECT doc_id, COUNT(*) AS n_trigrams,
               {_sr_sql("AVG(nll)", 6)} AS cross_entropy
        FROM nlls GROUP BY 1
    """

    # per-source corpus profile — exact distinct mode
    o["corpus_stats"] = f"""
        WITH toks AS (
            SELECT source, t AS token
            FROM documents,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS u(t)
            WHERE t != ''
        ),
        tk AS (
            SELECT source, COUNT(*) AS n_tokens,
                   COUNT(DISTINCT token) AS distinct_tokens
            FROM toks GROUP BY 1
        ),
        dc AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
        SELECT dc.source, dc.n_docs,
               CAST(COALESCE(tk.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(tk.distinct_tokens, 0) AS BIGINT)
                   AS distinct_tokens,
               {_sr_sql("COALESCE(tk.n_tokens, 0) / CAST(dc.n_docs AS DOUBLE)",
                        6)} AS avg_doc_tokens
        FROM dc LEFT JOIN tk USING (source)
    """

    # corpus drift: smoothed KL/JS over the union vocabulary
    o["token_divergence"] = f"""
        WITH ta AS (
            SELECT t AS token, COUNT(*) AS c
            FROM documents,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS u(t)
            WHERE doc_id < 250 AND t != ''
            GROUP BY 1
        ),
        tb AS (
            SELECT t AS token, COUNT(*) AS c
            FROM documents,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS u(t)
            WHERE doc_id >= 250 AND t != ''
            GROUP BY 1
        ),
        j AS (
            SELECT COALESCE(ta.c, 0) AS ca, COALESCE(tb.c, 0) AS cb
            FROM ta FULL OUTER JOIN tb USING (token)
        ),
        tot AS (
            SELECT SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS v FROM j
        ),
        pq AS (
            SELECT (ca + 0.5) / (tot.na + 0.5 * tot.v) AS p,
                   (cb + 0.5) / (tot.nb + 0.5 * tot.v) AS q
            FROM j, tot
        )
        SELECT {_sr_sql("SUM(p * ln(p / q))", 6)} AS kl_ab,
               {_sr_sql("SUM(q * ln(q / p))", 6)} AS kl_ba,
               {_sr_sql(
                   "0.5 * SUM(p * ln(p / ((p + q) / 2)))"
                   " + 0.5 * SUM(q * ln(q / ((p + q) / 2)))", 6)} AS js,
               (SELECT CAST(v AS BIGINT) FROM tot) AS vocab_union,
               (SELECT CAST(na AS BIGINT) FROM tot) AS n_a,
               (SELECT CAST(nb AS BIGINT) FROM tot) AS n_b
        FROM pq
    """

    # Theil-Sen: median of pairwise slopes, median intercept
    o["theil_sen"] = _DAILY_GRID_SQL + f"""
        , pts AS (
            SELECT key, loc, value FROM grid WHERE value IS NOT NULL
        ),
        sl AS (
            SELECT a.key,
                   (b.value - a.value) / (b.loc - a.loc) AS s
            FROM pts a JOIN pts b
              ON a.key = b.key AND a.loc < b.loc
        ),
        sm AS (
            SELECT key, median(s) AS slope,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM sl GROUP BY 1
        ),
        ic AS (
            SELECT p.key, median(p.value - sm.slope * p.loc) AS icpt
            FROM pts p JOIN sm USING (key) GROUP BY 1
        ),
        ks AS (SELECT DISTINCT key FROM grid)
        SELECT ks.key,
               {_sr_sql("sm.slope", 6)} AS slope,
               {_sr_sql("ic.icpt", 6)} AS intercept,
               COALESCE(sm.n_pairs, 0) AS n_pairs
        FROM ks
        LEFT JOIN sm USING (key)
        LEFT JOIN ic USING (key)
    """

    # per-doc entropy/hapax profile over the doc's own token frequencies
    o["token_entropy"] = f"""
        WITH toks AS (
            SELECT doc_id, t AS token
            FROM documents,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS u(t)
            WHERE t != ''
        ),
        c AS (
            SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY 1, 2
        ),
        per AS (
            SELECT doc_id, SUM(c) AS n, COUNT(*) AS d
            FROM c GROUP BY 1
        ),
        ent AS (
            SELECT c.doc_id,
                   -SUM((c.c / CAST(p.n AS DOUBLE))
                        * ln(c.c / CAST(p.n AS DOUBLE))) AS entropy,
                   SUM(CASE WHEN c.c = 1 THEN 1 ELSE 0 END)
                       / CAST(COUNT(*) AS DOUBLE) AS hapax
            FROM c JOIN per p USING (doc_id)
            GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n, 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(p.d, 0) AS BIGINT) AS distinct_tokens,
               {_sr_sql("e.entropy", 6)} AS entropy,
               {_sr_sql("e.hapax", 6)} AS hapax_ratio
        FROM documents d
        LEFT JOIN per p USING (doc_id)
        LEFT JOIN ent e USING (doc_id)
    """

    # CUSUM closed form: running sum minus running min (floored by the
    # virtual s_0 = 0), both directions, then the per-series summary
    o["cusum"] = _DAILY_GRID_SQL + f"""
        , pts AS (
            SELECT key, loc, value FROM grid WHERE value IS NOT NULL
        ),
        st AS (
            SELECT key, AVG(value) AS m, stddev(value) AS s
            FROM pts GROUP BY 1
        ),
        zz AS (
            SELECT p.key, p.loc,
                   CASE WHEN st.s IS NULL OR st.s = 0 THEN NULL
                        ELSE (p.value - st.m) / st.s END AS z
            FROM pts p JOIN st USING (key)
        ),
        cs AS (
            SELECT key, loc,
                   SUM(z - 0.25) OVER w AS sp,
                   SUM(-z - 0.25) OVER w AS sn
            FROM zz
            WINDOW w AS (PARTITION BY key ORDER BY loc
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        g AS (
            SELECT key, loc,
                   sp - LEAST(MIN(sp) OVER w, 0) AS gp,
                   sn - LEAST(MIN(sn) OVER w, 0) AS gn
            FROM cs
            WINDOW w AS (PARTITION BY key ORDER BY loc
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT key,
               {_sr_sql("GREATEST(MAX(gp), MAX(gn))", 6)} AS max_stat,
               MIN(CASE WHEN gp > 3.0 OR gn > 3.0 THEN loc END) AS alarm_loc,
               CASE WHEN MAX(gp) IS NULL OR MAX(gn) IS NULL THEN NULL
                    WHEN MAX(gp) >= MAX(gn) THEN 'up' ELSE 'down' END
                   AS direction
        FROM g GROUP BY 1
    """

    # z-score outliers over the daily grid; zero-spread -> NULL score
    o["outliers"] = _DAILY_GRID_SQL + f"""
        , st AS (
            SELECT key, AVG(value) AS c, stddev(value) AS s
            FROM grid GROUP BY 1
        ),
        sc AS (
            SELECT g.key, g.loc, g.ts, g.value,
                   CASE WHEN st.s IS NULL OR st.s = 0 THEN NULL
                        ELSE (g.value - st.c) / st.s END AS score
            FROM grid g JOIN st USING (key)
        )
        SELECT key, loc, ts, value,
               {_sr_sql("score", 6)} AS score,
               CASE WHEN score IS NULL THEN NULL
                    ELSE abs(score) > 2.0 END AS is_outlier
        FROM sc
    """

    # PMI: bigram counts + slot marginals + the ln formula (bigrams use
    # the SAME lowercased tokenization as the LM oracles)
    o["pmi_pairs"] = f"""
        WITH dt AS (
            SELECT list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS ts
            FROM documents
        ),
        bg AS (
            SELECT ts[i] AS l, ts[i+1] AS r, COUNT(*) AS cnt
            FROM dt, unnest(range(1, len(ts))) AS u(i)
            GROUP BY 1, 2
        ),
        tot AS (SELECT SUM(cnt) AS n FROM bg),
        la AS (SELECT l, SUM(cnt) AS la FROM bg GROUP BY 1),
        rb AS (SELECT r, SUM(cnt) AS rb FROM bg GROUP BY 1)
        SELECT bg.l AS left, bg.r AS right, CAST(bg.cnt AS BIGINT) AS cnt,
               {_sr_sql("ln(CAST(bg.cnt AS DOUBLE) * tot.n / (la.la * rb.rb))", 6)} AS pmi
        FROM bg
        JOIN la ON la.l = bg.l
        JOIN rb ON rb.r = bg.r, tot
        WHERE bg.cnt >= 5
    """

    # classical decomposition: centered MA trend + per-position seasonal
    o["seasonal_decompose"] = _DAILY_GRID_SQL + f"""
        , t AS (
            SELECT key, loc, ts, value,
                   CASE WHEN count(*) OVER wf = 7
                             AND count(value) OVER wf = 7
                        THEN avg(value) OVER wf END AS trend,
                   loc % 7 AS pos
            FROM grid
            WINDOW wf AS (PARTITION BY key ORDER BY loc
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        sm AS (
            SELECT key, pos, AVG(value - trend) AS sm
            FROM t GROUP BY 1, 2
        ),
        sc AS (
            SELECT key, pos,
                   CASE WHEN COUNT(sm) OVER (PARTITION BY key) = 7
                        THEN sm - AVG(sm) OVER (PARTITION BY key)
                   END AS seasonal
            FROM sm
        )
        SELECT t.key, t.loc, t.ts, t.value,
               {_sr_sql("t.trend", 6)} AS trend,
               {_sr_sql("sc.seasonal", 6)} AS seasonal,
               {_sr_sql("t.value - t.trend - sc.seasonal", 6)} AS resid
        FROM t LEFT JOIN sc ON sc.key = t.key AND sc.pos = t.pos
    """

    o["baseline_forecast"] = _DAILY_GRID_SQL + f"""
        , ob AS (SELECT key, loc, value FROM grid WHERE value IS NOT NULL),
        st AS (
            SELECT key, max(loc) AS T, min(loc) AS t0,
                   arg_max(value, loc) AS lastv, arg_min(value, loc) AS firstv
            FROM ob GROUP BY key
        ),
        steps AS (
            SELECT st.*, s.step
            FROM st CROSS JOIN (
                SELECT CAST(unnest(range(1, 4)) AS INT) AS step) s
        )
        SELECT steps.key, step,
               lastv AS naive,
               g.value AS snaive,
               {_sr_sql(
                   "lastv + step * CASE WHEN T > t0 THEN"
                   " (lastv - firstv) / CAST(T - t0 AS DOUBLE) END", 6)}
                   AS drift
        FROM steps LEFT JOIN grid g
          ON g.key = steps.key
         AND g.loc = T + step - 7 * CAST(CEIL(step / 7.0) AS BIGINT)
    """

    _seas_lags = range(2, 11)
    o["detect_seasonality"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , l AS (
            SELECT key, loc, value,
                   {", ".join(f"lag(value, {k}) OVER w AS l{k}"
                              for k in _seas_lags)}
            FROM filled
            WINDOW w AS (PARTITION BY key ORDER BY loc)
        ),
        a AS (
            SELECT key,
                   {", ".join(f"corr(value, l{k}) AS c{k}"
                              for k in _seas_lags)}
            FROM l GROUP BY key
        ),
        cand AS (
            {" UNION ALL ".join(f"SELECT key, {k} AS lag, c{k} AS acf FROM a"
                                for k in _seas_lags)}
        ),
        cn AS (
            SELECT key, lag, acf, ROUND(acf, 6) AS r FROM cand
            WHERE acf IS NOT NULL
        ),
        b AS (SELECT key, max(r) AS br FROM cn GROUP BY key),
        pick AS (
            SELECT cn.key, cn.lag, cn.acf,
                   row_number() OVER (PARTITION BY cn.key
                                      ORDER BY cn.lag) AS rn
            FROM cn JOIN b ON b.key = cn.key AND cn.r >= b.br - 0.05
        )
        SELECT a.key,
               CASE WHEN p.acf >= 0.1 THEN p.lag END AS period,
               CASE WHEN p.acf >= 0.1
                    THEN {_sr_sql('p.acf', 6)} END AS acf
        FROM a LEFT JOIN pick p ON p.key = a.key AND p.rn = 1
    """

    o["decomp_strength"] = _DAILY_GRID_SQL + f"""
        , t AS (
            SELECT key, loc, ts, value,
                   CASE WHEN count(*) OVER wf = 7
                             AND count(value) OVER wf = 7
                        THEN avg(value) OVER wf END AS trend,
                   loc % 7 AS pos
            FROM grid
            WINDOW wf AS (PARTITION BY key ORDER BY loc
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        sm AS (
            SELECT key, pos, AVG(value - trend) AS sm
            FROM t GROUP BY 1, 2
        ),
        sc AS (
            SELECT key, pos,
                   CASE WHEN COUNT(sm) OVER (PARTITION BY key) = 7
                        THEN sm - AVG(sm) OVER (PARTITION BY key)
                   END AS seasonal
            FROM sm
        ),
        parts AS (
            SELECT t.key, t.trend, sc.seasonal,
                   t.value - t.trend - sc.seasonal AS resid
            FROM t LEFT JOIN sc ON sc.key = t.key AND sc.pos = t.pos
            WHERE t.value - t.trend - sc.seasonal IS NOT NULL
        )
        SELECT key, count(resid) AS n,
               {_sr_sql(
                   "CASE WHEN var_samp(trend + resid) > 0.0 THEN "
                   "GREATEST(0.0, 1.0 - var_samp(resid)"
                   " / var_samp(trend + resid)) END", 6)}
                   AS trend_strength,
               {_sr_sql(
                   "CASE WHEN var_samp(seasonal + resid) > 0.0 THEN "
                   "GREATEST(0.0, 1.0 - var_samp(resid)"
                   " / var_samp(seasonal + resid)) END", 6)}
                   AS seasonal_strength
        FROM parts GROUP BY key
    """

    # embedding covariance: covar_samp over exploded coordinate pairs —
    # the dim²-per-row explode is fine for the ORACLE at sf0.01; the
    # Spark side uses MLlib's one-pass moment aggregation
    o["embedding_covariance"] = f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        x AS (
            SELECT vec_id, CAST(i - 1 AS INT) AS i, v[i] AS xi
            FROM e, unnest(range(1, len(v) + 1)) AS r(i)
        )
        SELECT a.i, CAST(b.i AS INT) AS j,
               {_sr_sql("covar_samp(a.xi, b.xi)", 6)} AS cov
        FROM x a JOIN x b USING (vec_id)
        GROUP BY 1, 2
    """

    # BPE training replay: per merge, pair counting over the word-type
    # table, deterministic argmax, and the identical leftmost-first fold
    # (list_reduce folds from the first element exactly like the Spark
    # F.aggregate(slice(syms,2,...), syms[0], step) expression)
    def _bpe_sql(n: int) -> str:
        parts = [r"""
        WITH w0 AS (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
                   list_filter(string_split(word, ''),
                               x -> x <> '' AND x <> chr(31))
                       || ['</w>'] AS syms
            FROM (SELECT unnest(string_split_regex(trim(lower(text)),
                                                   '\s+')) AS word
                  FROM documents)
            WHERE word <> ''
            GROUP BY 1
        )"""]
        for k in range(1, n + 1):
            prev = f"w{k - 1}"
            parts.append(f""",
        p{k} AS (
            SELECT syms[i] AS l, syms[i+1] AS r, SUM(cnt) AS pcnt
            FROM {prev}, unnest(range(1, len(syms))) AS u(i)
            GROUP BY 1, 2
        ),
        m{k} AS (
            SELECT l, r, CAST(pcnt AS BIGINT) AS pcnt
            FROM p{k} ORDER BY pcnt DESC, l ASC, r ASC LIMIT 1
        ),
        w{k} AS (
            SELECT word, cnt,
                   CASE WHEN len(syms) < 2 THEN syms
                        ELSE string_split(
                            list_reduce(syms, (acc, x) -> CASE
                                WHEN acc = m.l AND x = m.r THEN m.l || m.r
                                WHEN ends_with(acc, chr(31) || m.l)
                                     AND x = m.r
                                    THEN substr(acc, 1,
                                         length(acc) - length(m.l) - 1)
                                         || chr(31) || m.l || m.r
                                ELSE acc || chr(31) || x END),
                            chr(31))
                   END AS syms
            FROM {prev}, m{k} m
        )""")
        return "".join(parts)

    _BPE_N = 8
    _bpe_ranks = " UNION ALL ".join(
        f"SELECT {k} AS rank, l AS left_sym, r AS right_sym, "
        f"pcnt AS pair_count FROM m{k}"
        for k in range(1, _BPE_N + 1)
    )
    o["bpe_merges"] = _bpe_sql(_BPE_N) + f"""
        SELECT CAST(rank AS INT) AS rank, left_sym, right_sym, pair_count
        FROM ({_bpe_ranks}) ORDER BY rank
    """
    o["bpe_segment"] = _bpe_sql(_BPE_N) + f""",
        docw AS (
            SELECT doc_id, word FROM (
                SELECT doc_id,
                       unnest(string_split_regex(trim(lower(text)),
                                                 '\\s+')) AS word
                FROM documents)
            WHERE word <> ''
        ),
        per AS (
            SELECT d.doc_id, SUM(len(w.syms)) AS n
            FROM docw d JOIN w{_BPE_N} w USING (word)
            GROUP BY 1
        )
        SELECT doc.doc_id, CAST(COALESCE(per.n, 0) AS INT) AS n_tokens
        FROM documents doc LEFT JOIN per ON per.doc_id = doc.doc_id
    """

    # k-means replay: Lloyd's iterations unrolled as CTE chains — c0 is the
    # deterministic lowest-id init, each round is argmin-assign (ties to the
    # smaller cid, same as the Spark window) then per-dimension AVG with the
    # empty-cluster COALESCE; the final assignment is what the query returns
    def _kmeans_sql(k: int, iters: int) -> str:
        parts = [f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        c0 AS (
            SELECT CAST(rn - 1 AS INT) AS cid, v AS cv
            FROM (SELECT v, row_number() OVER (ORDER BY vec_id) AS rn FROM v)
            WHERE rn <= {k}
        )"""]
        for t in range(1, iters + 2):
            prev = f"c{t - 1}"
            parts.append(f""",
        d{t} AS (
            SELECT v.vec_id, v.v, c.cid,
                   list_sum(list_transform(range(1, len(v.v) + 1),
                       i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i]))) AS dist
            FROM v, {prev} c
        ),
        a{t} AS (
            SELECT vec_id, v, cid, dist FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY dist, cid) AS rk
                FROM d{t})
            WHERE rk = 1
        )""")
            if t <= iters:  # the last assignment needs no update step
                parts.append(f""",
        n{t} AS (
            SELECT cid, list(m ORDER BY i) AS m FROM (
                SELECT cid, i, AVG(v[i]) AS m
                FROM a{t}, unnest(range(1, len(v) + 1)) AS r(i)
                GROUP BY 1, 2)
            GROUP BY 1
        ),
        c{t} AS (
            SELECT c.cid, COALESCE(n.m, c.cv) AS cv
            FROM {prev} c LEFT JOIN n{t} n USING (cid)
        )""")
        return "".join(parts), f"a{iters + 1}"

    _km_ctes, _km_final = _kmeans_sql(8, 2)
    o["kmeans_assign"] = f"""{_km_ctes}
        SELECT vec_id, cid, {_sr_sql("dist", 6)} AS dist FROM {_km_final}
    """
    o["semantic_dedup"] = f"""{_km_ctes}
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cid,
               {_sr_sql(_cos_sql("a.v", "b.v"), 4)} AS sim
        FROM {_km_final} a JOIN {_km_final} b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE {_cos_sql("a.v", "b.v")} >= 0.35
    """

    # mixture_epochs: CASE chains generated from the same weight dict the
    # Spark query uses, with thresholds pre-quantized to integer literals —
    # both engines compare integers, zero float parity risk.
    def _mix_parts(w):
        base = int(w)
        return base, int(round((w - base) * 1_000_000))

    _mix_base = " ".join(
        f"WHEN '{s}' THEN {_mix_parts(w)[0]}"
        for s, w in sorted(_MIXTURE_WEIGHTS.items())
    )
    _mix_thr = " ".join(
        f"WHEN '{s}' THEN {_mix_parts(w)[1]}"
        for s, w in sorted(_MIXTURE_WEIGHTS.items())
    )
    # the epoch coin is NAMESPACED (id || chr(2) || 'epoch') so it is
    # independent of the samplers' keep/drop hash at equal seeds
    _mix_bucket = (
        _h60("CAST(doc_id AS VARCHAR) || chr(2) || 'epoch' || chr(1) || '7'")
        + " % 1000000"
    )
    o["mixture_epochs"] = f"""
        WITH n AS (
            SELECT doc_id, source,
                   (CASE source {_mix_base} ELSE 1 END
                    + CASE WHEN ({_mix_bucket})
                             < CASE source {_mix_thr} ELSE 0 END
                           THEN 1 ELSE 0 END) AS n_copies
            FROM documents
        )
        SELECT doc_id, source, CAST(g.epoch AS INT) AS epoch
        FROM n, unnest(generate_series(0, n_copies - 1)) AS g(epoch)
        WHERE n_copies > 0
    """

    # shared lowercase-whitespace token stream over documents
    _TOKS_SQL = r"""
        toks AS (
            SELECT doc_id, t AS token
            FROM documents,
                 unnest(string_split_regex(trim(lower(text)), '\s+')) AS u(t)
            WHERE t != ''
        )
    """
    o["vocab_topk"] = f"""
        WITH {_TOKS_SQL},
        c AS (
            SELECT token, COUNT(*) AS cnt FROM toks
            GROUP BY 1 HAVING COUNT(*) >= 3
        )
        SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) - 1
                    AS INT) AS token_id,
               token, cnt
        FROM c ORDER BY cnt DESC, token ASC LIMIT 25
    """
    o["oov_rate"] = f"""
        WITH {_TOKS_SQL},
        vc AS (
            SELECT token FROM (
                SELECT token, COUNT(*) AS cnt FROM toks
                GROUP BY 1 HAVING COUNT(*) >= 2
                ORDER BY cnt DESC, token ASC LIMIT 16
            )
        ),
        per AS (
            SELECT t.doc_id, COUNT(*) AS n_tokens,
                   COUNT(*) - COUNT(v.token) AS n_oov
            FROM toks t LEFT JOIN vc v ON t.token = v.token
            GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(n_oov, 0) AS BIGINT) AS n_oov,
               CASE WHEN n_tokens IS NULL THEN NULL
                    ELSE {_sr_sql("n_oov / CAST(n_tokens AS DOUBLE)", 6)}
               END AS oov_rate
        FROM documents d LEFT JOIN per USING (doc_id)
    """

    _lex_values = ", ".join(
        f"('{t}', {repr(float(w))})"
        for t, w in sorted(_QUALITY_LEXICON.items())
    )
    _ls_margin = "COALESCE(dot, 0.0) + (-0.1)"
    _ls_score = f"1.0 / (1.0 + exp(-({_ls_margin})))"
    o["linear_score"] = f"""
        WITH lex(token, w) AS (VALUES {_lex_values}),
        {_TOKS_SQL},
        tf AS (
            SELECT doc_id, token,
                   COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS tf
            FROM toks GROUP BY 1, 2
        ),
        m AS (
            SELECT doc_id, SUM(tf * w) AS dot
            FROM tf JOIN lex USING (token) GROUP BY 1
        )
        SELECT d.doc_id,
               {_sr_sql(_ls_margin, 6)} AS margin,
               {_sr_sql(_ls_score, 6)} AS score,
               ({_ls_score}) >= 0.5 AS keep
        FROM documents d LEFT JOIN m USING (doc_id)
    """

    # -- round-8 additions ---------------------------------------------------
    o["bollinger"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , b AS (
            SELECT key, loc, value,
                   CASE WHEN count(value) OVER w = 7
                        THEN avg(value) OVER w END AS mid,
                   CASE WHEN count(value) OVER w = 7
                        THEN stddev_samp(value) OVER w END AS sd
            FROM filled
            WINDOW w AS (PARTITION BY key ORDER BY loc
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT key, loc,
               {_sr_sql("mid", 6)} AS mid,
               {_sr_sql("mid + 2.0 * sd", 6)} AS upper,
               {_sr_sql("mid - 2.0 * sd", 6)} AS lower,
               {_sr_sql(
                   "CASE WHEN (mid + 2.0 * sd) - (mid - 2.0 * sd) <> 0 "
                   "THEN (value - (mid - 2.0 * sd)) / "
                   "((mid + 2.0 * sd) - (mid - 2.0 * sd)) END", 6)} AS pct_b
        FROM b
    """

    _rq = repr(1.0 - 1.0 / 14)   # Wilder q, exactly the operator's literal
    _ra = repr(1.0 / 14)
    o["rsi"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , dif AS (
            SELECT key, loc,
                   value - lag(value) OVER (PARTITION BY key ORDER BY loc)
                       AS d
            FROM filled
        ),
        gl AS (
            SELECT key, loc,
                   CAST(row_number() OVER (PARTITION BY key ORDER BY loc) - 1
                        AS BIGINT) AS j,
                   greatest(d, 0) AS g, greatest(-d, 0) AS l
            FROM dif WHERE d IS NOT NULL
        ),
        pre AS (
            SELECT key, loc, j,
                   first_value(g) OVER wk AS g0,
                   first_value(l) OVER wk AS l0,
                   SUM(CASE WHEN j >= 1 THEN g / power({_rq}, j) END)
                       OVER wp AS sg,
                   SUM(CASE WHEN j >= 1 THEN l / power({_rq}, j) END)
                       OVER wp AS sl
            FROM gl
            WINDOW wk AS (PARTITION BY key ORDER BY j),
                   wp AS (PARTITION BY key ORDER BY j
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        ema AS (
            SELECT key, loc,
                   power({_rq}, j) * (g0 + {_ra} * coalesce(sg, 0.0)) AS ag,
                   power({_rq}, j) * (l0 + {_ra} * coalesce(sl, 0.0)) AS al
            FROM pre
        )
        SELECT key, loc,
               {_sr_sql("ag", 6)} AS avg_gain,
               {_sr_sql("al", 6)} AS avg_loss,
               {_sr_sql(
                   "CASE WHEN ag + al <> 0 THEN 100.0 * ag / (ag + al) END",
                   6)} AS rsi
        FROM ema
    """

    _qf, _af = repr(1.0 - 2.0 / 13), repr(2.0 / 13)
    _qs, _as = repr(1.0 - 2.0 / 27), repr(2.0 / 27)
    _qg, _ag = repr(1.0 - 2.0 / 10), repr(2.0 / 10)
    o["macd"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , base AS (
            SELECT key, loc, value,
                   CAST(row_number() OVER (PARTITION BY key ORDER BY loc) - 1
                        AS BIGINT) AS j
            FROM filled
        ),
        pre1 AS (
            SELECT key, loc, j,
                   first_value(value) OVER wk AS v0,
                   SUM(CASE WHEN j >= 1 THEN value / power({_qf}, j) END)
                       OVER wp AS sf,
                   SUM(CASE WHEN j >= 1 THEN value / power({_qs}, j) END)
                       OVER wp AS ss
            FROM base
            WINDOW wk AS (PARTITION BY key ORDER BY j),
                   wp AS (PARTITION BY key ORDER BY j
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        line AS (
            SELECT key, loc, j,
                   power({_qf}, j) * (v0 + {_af} * coalesce(sf, 0.0))
                   - power({_qs}, j) * (v0 + {_as} * coalesce(ss, 0.0))
                       AS macd
            FROM pre1
        ),
        pre2 AS (
            SELECT key, loc, j, macd,
                   first_value(macd) OVER wk AS m0,
                   SUM(CASE WHEN j >= 1 THEN macd / power({_qg}, j) END)
                       OVER wp AS sm
            FROM line
            WINDOW wk AS (PARTITION BY key ORDER BY j),
                   wp AS (PARTITION BY key ORDER BY j
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        sig AS (
            SELECT key, loc, macd,
                   power({_qg}, j) * (m0 + {_ag} * coalesce(sm, 0.0)) AS s
            FROM pre2
        )
        SELECT key, loc,
               {_sr_sql("macd", 6)} AS macd,
               {_sr_sql("s", 6)} AS signal,
               {_sr_sql("macd - s", 6)} AS histogram
        FROM sig
    """

    o["ohlc_bars"] = """
        SELECT CAST(user_id AS VARCHAR) AS key,
               date_trunc('day', ts) AS bar_ts,
               first(value ORDER BY ts, value) AS open,
               max(value) AS high, min(value) AS low,
               last(value ORDER BY ts, value) AS close,
               CAST(count(value) AS BIGINT) AS n
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    """

    o["sample_entropy"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , pts AS (
            SELECT key, loc, value,
                   row_number() OVER w AS i,
                   lead(value, 1) OVER w AS v1,
                   lead(value, 2) OVER w AS v2,
                   0.2 * stddev_samp(value) OVER (PARTITION BY key) AS r,
                   count(*) OVER (PARTITION BY key) AS n
            FROM filled WHERE value IS NOT NULL
            WINDOW w AS (PARTITION BY key ORDER BY loc)
        ),
        tmpl AS (SELECT * FROM pts WHERE v1 IS NOT NULL),
        res8 AS (
            SELECT a.key,
                   CAST(coalesce(SUM(CASE WHEN abs(a.value - b.value) <= a.r
                                 AND abs(a.v1 - b.v1) <= a.r
                                THEN 1 END), 0) AS BIGINT) AS b,
                   CAST(coalesce(SUM(CASE WHEN abs(a.value - b.value) <= a.r
                                 AND abs(a.v1 - b.v1) <= a.r
                                 AND a.v2 IS NOT NULL AND b.v2 IS NOT NULL
                                 AND abs(a.v2 - b.v2) <= a.r
                                THEN 1 END), 0) AS BIGINT) AS a
            FROM tmpl a JOIN tmpl b ON a.key = b.key AND a.i < b.i
            GROUP BY a.key
        ),
        -- anchor on every series with >=1 valid point (mirrors the
        -- Spark-side theil_sen anchor: row presence must not depend on
        -- template-count or plan routing)
        anch8 AS (
            SELECT key, CAST(count(*) AS BIGINT) AS n
            FROM pts GROUP BY key
        )
        SELECT anch8.key, anch8.n,
               coalesce(res8.b, 0) AS b,
               coalesce(res8.a, 0) AS a,
               {_sr_sql(
                   "CASE WHEN res8.a > 0 AND res8.b > 0 "
                   "THEN -ln(CAST(res8.a AS DOUBLE) / CAST(res8.b AS DOUBLE)) END",
                   6)} AS sampen
        FROM anch8 LEFT JOIN res8 ON anch8.key = res8.key
    """

    o["turning_points"] = _DAILY_GRID_SQL + f"""
        , pts AS (
            SELECT key, loc, value FROM grid WHERE value IS NOT NULL
        ),
        t AS (
            SELECT key, value,
                   CASE WHEN (value - lag(value) OVER w)
                             * (lead(value) OVER w - value) < 0
                        THEN 1 END AS turn
            FROM pts WINDOW w AS (PARTITION BY key ORDER BY loc)
        ),
        res8 AS (
            SELECT key, CAST(count(value) AS BIGINT) AS n,
                   CAST(coalesce(SUM(turn), 0) AS BIGINT) AS tp
            FROM t GROUP BY key
        )
        SELECT key, n, tp,
               {_sr_sql(
                   "CASE WHEN n >= 3 THEN 2.0 * (CAST(n AS DOUBLE) - 2.0) "
                   "/ 3.0 END", 6)} AS expected,
               {_sr_sql(
                   "CASE WHEN n >= 3 THEN (CAST(tp AS DOUBLE) "
                   "- 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0) "
                   "/ sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0) END",
                   6)} AS z
        FROM res8
    """

    o["page_hinkley"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , rm AS (
            SELECT key, loc, value,
                   avg(value) OVER wp AS m
            FROM filled WHERE value IS NOT NULL
            WINDOW wp AS (PARTITION BY key ORDER BY loc
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        dev AS (
            SELECT key, loc,
                   SUM(value - m - 0.1) OVER wp AS mp,
                   SUM(value - m + 0.1) OVER wp AS mn
            FROM rm
            WINDOW wp AS (PARTITION BY key ORDER BY loc
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        ph AS (
            SELECT key, loc,
                   mp - least(min(mp) OVER wp, 0.0) AS ph_pos,
                   greatest(max(mn) OVER wp, 0.0) - mn AS ph_neg
            FROM dev
            WINDOW wp AS (PARTITION BY key ORDER BY loc
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT key, loc,
               {_sr_sql("ph_pos", 6)} AS ph_pos,
               {_sr_sql("ph_neg", 6)} AS ph_neg
        FROM ph
    """

    o["runs_test"] = _DAILY_GRID_SQL + f"""
        , pts AS (
            SELECT key, loc, value FROM grid WHERE value IS NOT NULL
        ),
        med AS (
            SELECT key, quantile_cont(value, 0.5) AS med
            FROM pts GROUP BY key
        ),
        kept AS (
            SELECT p.key, loc,
                   CASE WHEN value > med THEN 1 ELSE 0 END AS up
            FROM pts p JOIN med USING (key) WHERE value <> med
        ),
        chg AS (
            SELECT key, up,
                   CASE WHEN up <> lag(up) OVER (PARTITION BY key
                                                 ORDER BY loc)
                        THEN 1 ELSE 0 END AS c
            FROM kept
        ),
        res8 AS (
            SELECT key, CAST(SUM(up) AS BIGINT) AS n1,
                   CAST(SUM(1 - up) AS BIGINT) AS n2,
                   CAST(SUM(c) + 1 AS BIGINT) AS runs
            FROM chg GROUP BY key
        ),
        anch AS (
            SELECT k.key,
                   CAST(coalesce(n1, 0) AS BIGINT) AS n1,
                   CAST(coalesce(n2, 0) AS BIGINT) AS n2,
                   CAST(coalesce(runs, 0) AS BIGINT) AS runs
            FROM (SELECT DISTINCT key FROM pts) k LEFT JOIN res8 USING (key)
        )
        SELECT key, n1, n2, runs,
               {_sr_sql(
                   "CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 >= 2 AND "
                   "2.0*n1*n2 * (2.0*n1*n2 - (n1+n2)) "
                   "/ (CAST(n1+n2 AS DOUBLE)*(n1+n2)*((n1+n2) - 1.0)) > 0 "
                   "THEN (CAST(runs AS DOUBLE) "
                   "- (1.0 + 2.0 * n1 * n2 / (CAST(n1 AS DOUBLE) + n2))) "
                   "/ sqrt(2.0*n1*n2 * (2.0*n1*n2 - (n1+n2)) "
                   "/ (CAST(n1+n2 AS DOUBLE)*(n1+n2)*((n1+n2) - 1.0))) END",
                   6)} AS z
        FROM anch
    """

    o["variance_ratio"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , pts AS (
            SELECT key, loc, value FROM filled WHERE value IS NOT NULL
        ),
        d AS (
            SELECT key, loc, value,
                   value - lag(value, 1) OVER w AS d1,
                   value - lag(value, 4) OVER w AS dq,
                   first_value(value) OVER w AS f,
                   last_value(value) OVER (PARTITION BY key ORDER BY loc
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING) AS lst,
                   count(value) OVER (PARTITION BY key) AS cnt
            FROM pts WINDOW w AS (PARTITION BY key ORDER BY loc)
        ),
        m AS (
            SELECT key, loc, d1, dq, cnt,
                   (lst - f) / CAST(cnt - 1 AS DOUBLE) AS mu
            FROM d
        ),
        res8 AS (
            SELECT key, CAST(max(cnt) - 1 AS BIGINT) AS n,
                   SUM((d1 - mu) * (d1 - mu)) AS s1,
                   SUM((dq - 4 * mu) * (dq - 4 * mu)) AS sq
            FROM m GROUP BY key
        ),
        vr AS (
            SELECT key, n, s1, sq, CAST(n AS DOUBLE) AS nd,
                   s1 / (CAST(n AS DOUBLE) - 1.0) AS var1,
                   sq / (4 * (CAST(n AS DOUBLE) - 4 + 1.0)
                         * (1.0 - 4 / CAST(n AS DOUBLE))) AS varq
            FROM res8
        )
        SELECT key, n,
               {_sr_sql(
                   "CASE WHEN n > 4 AND var1 <> 0 THEN varq / var1 END",
                   6)} AS vr,
               {_sr_sql(
                   "CASE WHEN n > 4 AND var1 <> 0 THEN "
                   "(varq / var1 - 1.0) "
                   "/ sqrt(2.0 * (2.0 * 4 - 1.0) * (4 - 1.0) "
                   "/ (3.0 * 4 * nd)) END", 6)} AS z
        FROM vr
    """

    o["embedding_dim_stats"] = f"""
        WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        idx AS (SELECT CAST(range AS INT) AS dim FROM range(0, 8192)),
        x AS (
            SELECT dim, v[dim + 1] AS x FROM e JOIN idx ON dim < len(v)
        )
        SELECT dim, CAST(count(x) AS BIGINT) AS n,
               {_sr_sql("avg(x)", 6)} AS mean,
               {_sr_sql("stddev_samp(x)", 6)} AS std,
               {_sr_sql("quantile_cont(x, 0.05)", 6)} AS q_05,
               {_sr_sql("quantile_cont(x, 0.5)", 6)} AS q_50,
               {_sr_sql("quantile_cont(x, 0.95)", 6)} AS q_95
        FROM x GROUP BY dim
    """

    # two-round mix mirrors srp_lsh: h = i*2654435761 + (p+1)*40503;
    # bit = ((xor(h, h>>13) % 2^30) * 3266489917 >> 29) % 2
    _srp_projs = ", ".join(
        "list_reduce(list_transform(range(1, len(v) + 1), "
        f"i -> v[i] * CAST(1 - 2 * ((("
        f"xor(i * 2654435761 + {(p + 1) * 40503}, "
        f"(i * 2654435761 + {(p + 1) * 40503}) >> 13) % 1073741824) "
        "* 3266489917 >> 29) % 2) AS DOUBLE)), (acc, x) -> acc + x) "
        f"AS pr{p}"
        for p in range(8)
    )
    _srp_bucket = " + ".join(
        f"(CASE WHEN pr{p} >= 0 THEN {1 << p} ELSE 0 END)" for p in range(8)
    )
    o["srp_buckets"] = f"""
        WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pr AS (SELECT {_srp_projs} FROM e),
        b AS (SELECT CAST({_srp_bucket} AS BIGINT) AS bucket FROM pr)
        SELECT bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM b GROUP BY bucket
    """

    o["ngram_novelty"] = """
        WITH words AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id, sh FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, len(w) - 2),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                       )) AS sh
                FROM words
            )
        ),
        ref AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 2 = 0),
        new_sh AS (SELECT doc_id, sh FROM sh WHERE doc_id % 2 = 1),
        cnt AS (
            SELECT n.doc_id, CAST(count(*) AS BIGINT) AS ns,
                   CAST(SUM(CASE WHEN r.sh IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS nv
            FROM new_sh n LEFT JOIN ref r USING (sh) GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(coalesce(ns, 0) AS BIGINT) AS n_shingles,
               CAST(coalesce(nv, 0) AS BIGINT) AS n_novel,
               FLOOR((CASE WHEN coalesce(ns, 0) > 0
                      THEN CAST(nv AS DOUBLE) / ns END) * 1000000
                     + 0.500001) / 1000000 AS novelty
        FROM documents d LEFT JOIN cnt USING (doc_id)
        WHERE d.doc_id % 2 = 1
    """

    o["realized_vol"] = f"""
        WITH pts AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   date_trunc('day', ts) AS bar, ts, value
            FROM events WHERE value IS NOT NULL AND value > 0
        ),
        l AS (
            SELECT key, bar, value,
                   lag(value) OVER (PARTITION BY key, bar
                                    ORDER BY ts, value) AS pv
            FROM pts
        ),
        r2s AS (
            SELECT key, bar,
                   CASE WHEN pv IS NOT NULL
                        THEN pow(ln(value / pv), 2) END AS r2
            FROM l
        )
        SELECT key, bar AS bar_ts,
               CAST(count(r2) AS BIGINT) AS n_ret,
               {_sr_sql("coalesce(sum(r2), 0.0)", 6)} AS rv,
               {_sr_sql("sqrt(coalesce(sum(r2), 0.0))", 6)} AS realized_vol
        FROM r2s GROUP BY key, bar
    """

    o["parkinson_vol"] = f"""
        WITH pts AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   date_trunc('day', ts) AS bar, value
            FROM events WHERE value IS NOT NULL
        ),
        b AS (
            SELECT key, bar, max(value) AS h, min(value) AS l
            FROM pts GROUP BY 1, 2
        ),
        u AS (
            SELECT key,
                   CASE WHEN l > 0 AND h >= l
                        THEN pow(ln(h / l), 2) END AS r2
            FROM b
        )
        SELECT key, CAST(count(r2) AS BIGINT) AS n_bars,
               {_sr_sql("avg(r2) / (4 * ln(2))", 6)} AS parkinson_var,
               {_sr_sql("sqrt(avg(r2) / (4 * ln(2)))", 6)} AS parkinson_vol
        FROM u GROUP BY key
    """

    o["coherence"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , xa AS (SELECT loc, value AS x FROM filled
                 WHERE key = '1' AND value IS NOT NULL),
        xb AS (SELECT loc, value AS y FROM filled
               WHERE key = '2' AND value IS NOT NULL),
        jv AS (SELECT xa.loc, x, y FROM xa JOIN xb USING (loc)),
        st9 AS (SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my FROM jv),
        tt AS (SELECT row_number() OVER (ORDER BY loc) - 1 AS t, x, y
               FROM jv),
        pk AS (
            SELECT t, x, y, n, mx, my,
                   unnest(generate_series(1, CAST(n // 2 AS INT))) AS k
            FROM tt CROSS JOIN st9
        ),
        ag AS (
            SELECT k,
                   SUM((x - mx) * cos(2 * pi() * k * t / n)) AS ax,
                   SUM((x - mx) * sin(2 * pi() * k * t / n)) AS bx,
                   SUM((y - my) * cos(2 * pi() * k * t / n)) AS ay,
                   SUM((y - my) * sin(2 * pi() * k * t / n)) AS by_,
                   MAX(n) AS n
            FROM pk GROUP BY k
        ),
        sp AS (
            SELECT k, n,
                   (ax * ax + bx * bx) / n AS pxx,
                   (ay * ay + by_ * by_) / n AS pyy,
                   (ax * ay + bx * by_) / n AS c,
                   (bx * ay - ax * by_) / n AS q
            FROM ag
        ),
        sm AS (
            SELECT k, n,
                   avg(pxx) OVER wd AS sxx, avg(pyy) OVER wd AS syy,
                   avg(c) OVER wd AS sc, avg(q) OVER wd AS sq
            FROM sp
            WINDOW wd AS (ORDER BY k
                          ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
        )
        SELECT CAST(k AS INT) AS k,
               {_sr_sql("CAST(k AS DOUBLE) / n", 6)} AS freq,
               {_sr_sql("sxx", 4)} AS sxx,
               {_sr_sql("syy", 4)} AS syy,
               {_sr_sql(
                   "CASE WHEN sxx * syy != 0 "
                   "THEN (sc * sc + sq * sq) / (sxx * syy) END", 6)} AS coh,
               {_sr_sql("atan2(sq, sc)", 6)} AS phase
        FROM sm
    """

    o["intervention"] = _DAILY_GRID_SQL + f"""
        , pts AS (
            SELECT key, CAST(loc AS DOUBLE) AS t, value
            FROM grid WHERE value IS NOT NULL
        ),
        agg9 AS (
            SELECT key,
                   count(CASE WHEN t < 15 THEN value END) AS np,
                   sum(CASE WHEN t < 15 THEN t END) AS stp,
                   sum(CASE WHEN t < 15 THEN t * t END) AS st2p,
                   sum(CASE WHEN t < 15 THEN value END) AS syp,
                   sum(CASE WHEN t < 15 THEN t * value END) AS styp,
                   count(CASE WHEN t >= 15 THEN value END) AS nq,
                   sum(CASE WHEN t >= 15 THEN t END) AS stq,
                   sum(CASE WHEN t >= 15 THEN t * t END) AS st2q,
                   sum(CASE WHEN t >= 15 THEN value END) AS syq,
                   sum(CASE WHEN t >= 15 THEN t * value END) AS styq
            FROM pts GROUP BY key
        ),
        fit AS (
            SELECT key, np, nq,
                   CASE WHEN np * st2p - stp * stp != 0
                        THEN (np * styp - stp * syp)
                             / (np * st2p - stp * stp) END AS bp,
                   CASE WHEN nq * st2q - stq * stq != 0
                        THEN (nq * styq - stq * syq)
                             / (nq * st2q - stq * stq) END AS bq,
                   stp, syp, stq, syq
            FROM agg9
        ),
        eff AS (
            SELECT key, np, nq, bp, bq,
                   CASE WHEN np != 0
                        THEN (syp - bp * stp) / np END AS ap,
                   CASE WHEN nq != 0
                        THEN (syq - bq * stq) / nq END AS aq
            FROM fit
        )
        SELECT key,
               CAST(np AS BIGINT) AS n_pre, CAST(nq AS BIGINT) AS n_post,
               {_sr_sql("bp", 6)} AS slope_pre,
               {_sr_sql("bq", 6)} AS slope_post,
               {_sr_sql("bq - bp", 6)} AS slope_change,
               {_sr_sql("(aq + bq * 15) - (ap + bp * 15)", 6)}
                   AS level_change
        FROM eff
    """

    o["demand_class"] = f"""
        WITH keys AS (
            SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events
        ),
        cal AS (
            SELECT CAST(r.range AS BIGINT) AS loc FROM range(31) r
        ),
        cnt AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   CAST(date_diff('day', TIMESTAMP '2024-01-01',
                        date_trunc('day', ts)) AS BIGINT) AS loc,
                   count(*) AS c
            FROM events WHERE event_type = 'error' GROUP BY 1, 2
        ),
        g AS (
            SELECT keys.key, cal.loc,
                   CAST(coalesce(cnt.c, 0) AS DOUBLE) AS v
            FROM keys CROSS JOIN cal
            LEFT JOIN cnt ON cnt.key = keys.key AND cnt.loc = cal.loc
        ),
        a AS (
            SELECT key, CAST(count(v) AS BIGINT) AS n,
                   CAST(count(CASE WHEN v != 0 THEN v END) AS BIGINT)
                       AS n_demands,
                   min(loc) AS l0, max(loc) AS l1,
                   avg(CASE WHEN v != 0 THEN v END) AS mu,
                   stddev_samp(CASE WHEN v != 0 THEN v END) AS sd
            FROM g GROUP BY key
        ),
        m AS (
            SELECT key, n, n_demands,
                   CASE WHEN n_demands != 0 THEN
                       CAST(l1 - l0 + 1 AS DOUBLE) / n_demands END AS adi,
                   CASE WHEN mu != 0 THEN pow(sd / mu, 2) END AS cv2
            FROM a
        )
        SELECT key, n, n_demands,
               {_sr_sql("adi", 6)} AS adi,
               {_sr_sql("cv2", 6)} AS cv2,
               CASE WHEN cv2 IS NULL OR adi IS NULL THEN NULL
                    WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
                    WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
                    WHEN adi < 1.32 AND cv2 >= 0.49 THEN 'erratic'
                    ELSE 'lumpy' END AS pattern
        FROM m
    """

    o["var_es"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , ptsv AS (
            SELECT key, loc, value FROM filled
            WHERE value IS NOT NULL AND value > 0
        ),
        r0 AS (
            SELECT key, value, lag(value) OVER w AS pv
            FROM ptsv WINDOW w AS (PARTITION BY key ORDER BY loc)
        ),
        rr AS (SELECT key, ln(value / pv) AS r FROM r0 WHERE pv IS NOT NULL),
        q AS (
            SELECT key, CAST(count(*) AS BIGINT) AS n_ret,
                   quantile_cont(r, 0.09999999999999998) AS v
            FROM rr GROUP BY key
        ),
        tl AS (
            SELECT rr.key, avg(r) AS es
            FROM rr JOIN q ON q.key = rr.key AND rr.r <= q.v
            GROUP BY rr.key
        )
        SELECT q.key, n_ret,
               {_sr_sql("CASE WHEN n_ret >= 2 THEN v END", 6)} AS var,
               {_sr_sql("CASE WHEN n_ret >= 2 THEN es END", 6)} AS es
        FROM q LEFT JOIN tl ON tl.key = q.key
    """

    o["fano"] = """
        WITH pts AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   date_trunc('hour', ts) AS b
            FROM events
        ),
        counts AS (SELECT key, b, count(*) AS c FROM pts GROUP BY 1, 2),
        span AS (SELECT key, min(b) AS h0, max(b) AS h1
                 FROM counts GROUP BY key),
        cal AS (
            SELECT key, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS b
            FROM span
        ),
        dense AS (
            SELECT cal.key, coalesce(counts.c, 0) AS c
            FROM cal LEFT JOIN counts
            ON counts.key = cal.key AND counts.b = cal.b
        )
        SELECT key, CAST(count(*) AS BIGINT) AS n_buckets,
               {mr} AS mean_rate,
               {ff} AS fano
        FROM dense GROUP BY key
    """.format(
        mr=_sr_sql("avg(c)", 6),
        ff=_sr_sql("CASE WHEN avg(c) != 0 THEN var_samp(c) / avg(c) END", 6),
    )

    o["fertility"] = f"""
        WITH a AS (
            SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                        END) AS BIGINT) AS words,
                   CAST(SUM(len(regexp_extract_all(text,
                        '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')))
                       AS BIGINT) AS tokens,
                   CAST(SUM(length(text)) AS BIGINT) AS chars
            FROM documents GROUP BY 1
        )
        SELECT stratum, n_docs, words, tokens, chars,
               {_sr_sql(
                   "CASE WHEN words != 0 THEN CAST(tokens AS DOUBLE) "
                   "/ CAST(words AS DOUBLE) END", 6)} AS fertility,
               {_sr_sql(
                   "CASE WHEN tokens != 0 THEN CAST(chars AS DOUBLE) "
                   "/ CAST(tokens AS DOUBLE) END", 6)} AS chars_per_token
        FROM a
    """

    _adx_q = repr(1.0 - 1.0 / 14.0)
    _adx_a = repr(1.0 / 14.0)
    o["adx"] = f"""
        WITH bars AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   date_trunc('day', ts) AS bar_ts,
                   max(value) AS high, min(value) AS low,
                   last(value ORDER BY ts, value) AS close
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2
        ),
        b2 AS (
            SELECT key, bar_ts, high, low, close,
                   lag(high) OVER w AS ph, lag(low) OVER w AS pl,
                   lag(close) OVER w AS pc
            FROM bars WINDOW w AS (PARTITION BY key ORDER BY bar_ts)
        ),
        d AS (
            SELECT key, bar_ts,
                   CASE WHEN (high - ph) > (pl - low) AND (high - ph) > 0
                        THEN high - ph ELSE 0.0 END AS pdm,
                   CASE WHEN (pl - low) > (high - ph) AND (pl - low) > 0
                        THEN pl - low ELSE 0.0 END AS mdm,
                   greatest(high - low, abs(high - pc), abs(low - pc)) AS tr
            FROM b2 WHERE ph IS NOT NULL
        ),
        e AS (
            SELECT *, CAST(row_number() OVER
                (PARTITION BY key ORDER BY bar_ts) - 1 AS BIGINT) AS j
            FROM d
        ),
        p1 AS (
            SELECT key, bar_ts, j, tr,
                   first_value(pdm) OVER wk AS pdm0,
                   first_value(mdm) OVER wk AS mdm0,
                   first_value(tr) OVER wk AS tr0,
                   SUM(CASE WHEN j >= 1 THEN pdm / power({_adx_q}, j) END)
                       OVER wp AS spdm,
                   SUM(CASE WHEN j >= 1 THEN mdm / power({_adx_q}, j) END)
                       OVER wp AS smdm,
                   SUM(CASE WHEN j >= 1 THEN tr / power({_adx_q}, j) END)
                       OVER wp AS strr
            FROM e
            WINDOW wk AS (PARTITION BY key ORDER BY j),
                   wp AS (PARTITION BY key ORDER BY j
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        di AS (
            SELECT key, bar_ts, tr,
                   power({_adx_q}, j) * (pdm0 + {_adx_a} * coalesce(spdm, 0.0))
                       AS espdm,
                   power({_adx_q}, j) * (mdm0 + {_adx_a} * coalesce(smdm, 0.0))
                       AS esmdm,
                   power({_adx_q}, j) * (tr0 + {_adx_a} * coalesce(strr, 0.0))
                       AS estr
            FROM p1
        ),
        dx0 AS (
            SELECT key, bar_ts, tr,
                   CASE WHEN estr != 0 THEN 100 * espdm / estr END AS pdi,
                   CASE WHEN estr != 0 THEN 100 * esmdm / estr END AS mdi
            FROM di
        ),
        dx1 AS (
            SELECT key, bar_ts, tr, pdi, mdi,
                   CASE WHEN pdi + mdi != 0
                        THEN 100 * abs(pdi - mdi) / (pdi + mdi) END AS dx
            FROM dx0
        ),
        dx2 AS (
            SELECT *, CAST(row_number() OVER
                (PARTITION BY key ORDER BY bar_ts) - 1 AS BIGINT) AS j2
            FROM dx1 WHERE dx IS NOT NULL
        ),
        p2 AS (
            SELECT key, bar_ts, tr, pdi, mdi, dx, j2,
                   first_value(dx) OVER wk2 AS dxf,
                   SUM(CASE WHEN j2 >= 1 THEN dx / power({_adx_q}, j2) END)
                       OVER wp2 AS sdx
            FROM dx2
            WINDOW wk2 AS (PARTITION BY key ORDER BY j2),
                   wp2 AS (PARTITION BY key ORDER BY j2
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT key, bar_ts,
               {_sr_sql("tr", 6)} AS tr,
               {_sr_sql("pdi", 6)} AS plus_di,
               {_sr_sql("mdi", 6)} AS minus_di,
               {_sr_sql("dx", 6)} AS dx,
               {_sr_sql(
                   f"power({_adx_q}, j2) * (dxf + {_adx_a} "
                   "* coalesce(sdx, 0.0))", 6)} AS adx
        FROM p2
    """

    o["vwap_bars"] = f"""
        WITH pts AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   date_trunc('day', ts) AS bar_ts, ts, value,
                   TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1)
                        AS BIGINT) AS vol
            FROM events WHERE value IS NOT NULL
        )
        SELECT key, bar_ts,
               {_sr_sql("first(value ORDER BY ts, value)", 6)} AS open,
               {_sr_sql("max(value)", 6)} AS high,
               {_sr_sql("min(value)", 6)} AS low,
               {_sr_sql("last(value ORDER BY ts, value)", 6)} AS close,
               CAST(count(value) AS BIGINT) AS n,
               {_sr_sql(
                   "CASE WHEN sum(vol) != 0 "
                   "THEN sum(value * vol) / sum(vol) END", 6)} AS vwap
        FROM pts GROUP BY 1, 2
    """

    o["hjorth"] = _DAILY_GRID_SQL + f"""
        , pts AS (
            SELECT key, loc, value FROM grid WHERE value IS NOT NULL
        ),
        d0 AS (
            SELECT key, loc, value,
                   value - lag(value) OVER w AS d1
            FROM pts WINDOW w AS (PARTITION BY key ORDER BY loc)
        ),
        d1t AS (
            SELECT key, loc, value, d1,
                   d1 - lag(d1) OVER w AS d2
            FROM d0 WINDOW w AS (PARTITION BY key ORDER BY loc)
        ),
        m AS (
            SELECT key, value, d1, d2,
                   avg(value) OVER wk AS mu,
                   avg(d1) OVER wk AS mu1,
                   avg(d2) OVER wk AS mu2
            FROM d1t WINDOW wk AS (PARTITION BY key)
        ),
        a AS (
            SELECT key, CAST(count(value) AS BIGINT) AS n,
                   avg((value - mu) * (value - mu)) AS v0,
                   avg((d1 - mu1) * (d1 - mu1)) AS v1,
                   avg((d2 - mu2) * (d2 - mu2)) AS v2
            FROM m GROUP BY key
        )
        SELECT key, n,
               {_sr_sql("v0", 6)} AS activity,
               {_sr_sql("CASE WHEN v0 != 0 THEN sqrt(v1 / v0) END", 6)}
                   AS mobility,
               {_sr_sql(
                   "CASE WHEN v0 != 0 AND v1 != 0 "
                   "THEN sqrt(v2 / v1) / sqrt(v1 / v0) END", 6)}
                   AS complexity
        FROM a
    """

    o["nonlinearity"] = _DAILY_GRID_SQL + f"""
        , pts AS (
            SELECT key, loc, value FROM grid WHERE value IS NOT NULL
        ),
        w1 AS (
            SELECT key, value,
                   lead(value, 1) OVER w AS l1,
                   lead(value, 2) OVER w AS l2,
                   lead(value, 1) OVER w AS nx,
                   avg(value) OVER wk AS mu,
                   min(value) OVER wk AS mn,
                   max(value) OVER wk AS mx
            FROM pts
            WINDOW w AS (PARTITION BY key ORDER BY loc),
                   wk AS (PARTITION BY key)
        ),
        base9 AS (
            SELECT key, CAST(count(value) AS BIGINT) AS n,
                   avg(value * l1 * l2) AS c3,
                   sqrt(coalesce(
                       sum((nx - value) * (nx - value)), 0.0)) AS cid_ce,
                   avg(abs(nx - value)) AS mean_abs_change,
                   CAST(coalesce(sum(CASE WHEN nx IS NOT NULL AND
                       (((value - mu) > 0 AND (nx - mu) <= 0) OR
                        ((value - mu) <= 0 AND (nx - mu) > 0))
                       THEN 1 END), 0) AS BIGINT) AS n_crossings
            FROM w1 GROUP BY key
        ),
        binsx AS (
            SELECT key,
                   CASE WHEN mx - mn > 0 THEN least(
                       CAST(floor((value - mn) / (mx - mn) * 10) AS INT), 9)
                   ELSE 0 END AS b
            FROM w1
        ),
        hist AS (SELECT key, b, count(*) AS c FROM binsx GROUP BY 1, 2),
        entx AS (
            SELECT key,
                   -sum((CAST(c AS DOUBLE) / tot)
                        * ln(CAST(c AS DOUBLE) / tot)) AS e
            FROM (SELECT key, c,
                         sum(c) OVER (PARTITION BY key) AS tot
                  FROM hist)
            GROUP BY key
        )
        SELECT base9.key, n,
               {_sr_sql("c3", 4)} AS c3,
               {_sr_sql("cid_ce", 6)} AS cid_ce,
               {_sr_sql("mean_abs_change", 6)} AS mean_abs_change,
               n_crossings,
               {_sr_sql("coalesce(e, 0.0)", 6)} AS binned_entropy
        FROM base9 LEFT JOIN entx ON base9.key = entx.key
    """

    o["dsir_weights"] = f"""
        WITH words AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents
            WHERE text IS NOT NULL AND length(trim(text)) > 0
        ),
        grams AS (
            SELECT doc_id,
                   unnest(list_concat(
                       w,
                       CASE WHEN len(w) >= 2 THEN list_transform(
                           generate_series(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i + 1])
                       ELSE CAST([] AS VARCHAR[]) END)) AS g
            FROM words
        ),
        bk AS (SELECT doc_id, {_h60('g')} % 1024 AS bkt FROM grams),
        tcnt AS (SELECT bkt, count(*) AS c FROM bk
                 WHERE doc_id % 2 = 0 GROUP BY 1),
        rcnt AS (SELECT bkt, count(*) AS c FROM bk
                 WHERE doc_id % 2 = 1 GROUP BY 1),
        tot AS (SELECT (SELECT coalesce(sum(c), 0) FROM tcnt) AS tt,
                       (SELECT coalesce(sum(c), 0) FROM rcnt) AS rt),
        ratio AS (
            SELECT r.range AS bkt,
                   ln((coalesce(tcnt.c, 0) + 1)
                      / CAST(tt + 1024 AS DOUBLE))
                   - ln((coalesce(rcnt.c, 0) + 1)
                        / CAST(rt + 1024 AS DOUBLE)) AS lr
            FROM range(1024) r CROSS JOIN tot
            LEFT JOIN tcnt ON tcnt.bkt = r.range
            LEFT JOIN rcnt ON rcnt.bkt = r.range
        ),
        scored AS (
            SELECT bk.doc_id, CAST(count(*) AS BIGINT) AS nf,
                   sum(ratio.lr) AS lw
            FROM bk JOIN ratio ON ratio.bkt = bk.bkt
            WHERE bk.doc_id % 2 = 1
            GROUP BY 1
        )
        SELECT d.doc_id AS id,
               CAST(coalesce(nf, 0) AS BIGINT) AS n_features,
               {_sr_sql("coalesce(lw, 0.0)", 6)} AS logw
        FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 2 = 1) d
        LEFT JOIN scored ON scored.doc_id = d.doc_id
    """

    o["funnel"] = """
        WITH base AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts, event_type
            FROM events
        ),
        s1 AS (
            SELECT key, min(ts) AS ts_1 FROM base
            WHERE event_type = 'view' GROUP BY key
        ),
        s2 AS (
            SELECT b.key, min(b.ts) AS ts_2
            FROM base b JOIN s1 USING (key)
            WHERE b.event_type = 'click' AND b.ts > s1.ts_1
            GROUP BY b.key
        ),
        s3 AS (
            SELECT b.key, min(b.ts) AS ts_3
            FROM base b JOIN s2 USING (key)
            WHERE b.event_type = 'purchase' AND b.ts > s2.ts_2
            GROUP BY b.key
        )
        SELECT s1.key, ts_1, ts_2, ts_3,
               CAST(1 + (ts_2 IS NOT NULL)::INT + (ts_3 IS NOT NULL)::INT
                    AS INT) AS steps_completed
        FROM s1 LEFT JOIN s2 USING (key) LEFT JOIN s3 USING (key)
    """

    o["retention_cohorts"] = f"""
        WITH acts AS (
            SELECT DISTINCT CAST(user_id AS VARCHAR) AS _k,
                   date_trunc('day', ts) AS _b
            FROM events
        ),
        fa AS (
            SELECT _k, _b, min(_b) OVER (PARTITION BY _k) AS _cohort
            FROM acts
        ),
        j AS (
            SELECT _k, _cohort,
                   CAST(date_diff('day', _cohort, _b) AS BIGINT) AS _off
            FROM fa
        ),
        ret AS (
            SELECT _cohort AS cohort, _off AS "offset",
                   CAST(count(DISTINCT _k) AS BIGINT) AS n_active
            FROM j GROUP BY 1, 2
        ),
        sz AS (
            SELECT cohort, "offset", n_active,
                   CAST(max(CASE WHEN "offset" = 0 THEN n_active END)
                        OVER (PARTITION BY cohort) AS BIGINT) AS cohort_size
            FROM ret
        )
        SELECT cohort, "offset", n_active, cohort_size,
               {_sr_sql(
                   "CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE)", 6
               )} AS retention
        FROM sz
    """

    o["retention_month"] = f"""
        WITH acts AS (
            SELECT DISTINCT CAST(user_id AS VARCHAR) AS _k,
                   date_trunc('month', ts) AS _b
            FROM events
        ),
        fa AS (
            SELECT _k, _b, min(_b) OVER (PARTITION BY _k) AS _cohort
            FROM acts
        ),
        j AS (
            SELECT _k, _cohort,
                   CAST(date_diff('month', _cohort, _b) AS BIGINT) AS _off
            FROM fa
        ),
        ret AS (
            SELECT _cohort AS cohort, _off AS "offset",
                   CAST(count(DISTINCT _k) AS BIGINT) AS n_active
            FROM j GROUP BY 1, 2
        ),
        sz AS (
            SELECT cohort, "offset", n_active,
                   CAST(max(CASE WHEN "offset" = 0 THEN n_active END)
                        OVER (PARTITION BY cohort) AS BIGINT) AS cohort_size
            FROM ret
        )
        SELECT cohort, "offset", n_active, cohort_size,
               {_sr_sql(
                   "CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE)", 6
               )} AS retention
        FROM sz
    """

    o["cross_rank"] = _DAILY_GRID_SQL + f"""
        , nn AS (SELECT key, loc, value FROM grid WHERE value IS NOT NULL)
        SELECT key, loc, value,
               CAST(rank() OVER wr AS INT) AS rank,
               CAST(count(*) OVER (PARTITION BY loc) AS BIGINT) AS n_keys,
               {_sr_sql("percent_rank() OVER wr", 6)} AS pct
        FROM nn
        WINDOW wr AS (PARTITION BY loc ORDER BY value DESC)
    """

    # local-level Kalman at fixed q: the filter/smoother is a pure
    # scalar +-*/ recursion, replayed bit-exactly by two recursive CTEs
    # (forward filter, then RTS backward from each key's last t) — the
    # SQL mirrors models/kalman.py:_filter_pass operation for operation
    _KQ = "0.5"
    o["kalman_level"] = f"""
    WITH RECURSIVE e AS (
        SELECT CAST(user_id AS VARCHAR) AS key, value,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1
                    AS BIGINT) AS t
        FROM events WHERE value IS NOT NULL
    ),
    fwd AS (
        SELECT key, t, value,
               value AS mu_pred, 1e12 AS p_pred,
               value AS mu_f,
               1e12 * (1.0 - (1e12 / (1e12 + 1.0))) AS p_f
        FROM e WHERE t = 0
        UNION ALL
        SELECT e.key, e.t, e.value,
               fwd.mu_f AS mu_pred,
               fwd.p_f + {_KQ} AS p_pred,
               fwd.mu_f + ((fwd.p_f + {_KQ}) / ((fwd.p_f + {_KQ}) + 1.0))
                          * (e.value - fwd.mu_f) AS mu_f,
               (fwd.p_f + {_KQ})
                 * (1.0 - ((fwd.p_f + {_KQ}) / ((fwd.p_f + {_KQ}) + 1.0)))
                 AS p_f
        FROM fwd JOIN e ON e.key = fwd.key AND e.t = fwd.t + 1
    ),
    -- materialized: the backward recursion scans the forward result
    -- every iteration; left as a plain CTE DuckDB re-runs the WHOLE
    -- forward recursion per step (O(n^2) — measured 74 s vs 0.7 s)
    fwdm AS MATERIALIZED (SELECT * FROM fwd),
    mx AS (SELECT key, max(t) AS tn FROM fwdm GROUP BY key),
    bwd AS (
        SELECT f.key, f.t, f.mu_f AS mu_s
        FROM fwdm f JOIN mx ON mx.key = f.key AND f.t = mx.tn
        UNION ALL
        SELECT f.key, f.t,
               f.mu_f + (f.p_f / n.p_pred) * (bwd.mu_s - n.mu_pred) AS mu_s
        FROM bwd
        JOIN fwdm f ON f.key = bwd.key AND f.t = bwd.t - 1
        JOIN fwdm n ON n.key = bwd.key AND n.t = bwd.t
    )
    SELECT fwd.key, fwd.t AS loc, fwd.value,
           {_sr_sql("fwd.mu_f", 6)} AS level,
           {_sr_sql("bwd.mu_s", 6)} AS smoothed
    FROM fwdm AS fwd JOIN bwd ON bwd.key = fwd.key AND bwd.t = fwd.t
    """

    # BOCPD: full Adams-MacKay run-length recursion as a recursive CTE
    # with LIST-typed state (posterior params, log weights, run lengths
    # per active run). Student-t predictive written out via lgamma;
    # transcendental 1-ulp engine differences keep |Δp_cp| ~ 1e-15
    # (absorbed by round-6); run_map integral/exact.
    _BH, _BTR = "0.05", "1e-6"  # hazard, truncation

    def _stud(xi: str, mu: str, kap: str, al: str, be: str) -> str:
        df = f"(2.0 * {al})"
        s2 = f"({be} * ({kap} + 1.0) / ({al} * {kap}))"
        z2 = f"((({xi}) - ({mu})) * (({xi}) - ({mu})) / {s2})"
        return (
            f"(lgamma(({df} + 1.0) / 2.0) - lgamma({df} / 2.0)"
            f" - 0.5 * ln(pi() * {df} * {s2})"
            f" - ({df} + 1.0) / 2.0 * ln(1.0 + {z2} / {df}))"
        )

    _sp = _stud("x", "0.0", "1.0", "1.0", "1.0")  # prior predictive
    _sg = _stud("x", "mu[i]", "kap[i]", "al[i]", "be[i]")
    o["bocpd_runs"] = f"""
        WITH RECURSIVE e AS (
            SELECT CAST(user_id AS VARCHAR) AS key, value AS x,
                   CAST(row_number() OVER (PARTITION BY user_id
                        ORDER BY ts) - 1 AS BIGINT) AS t
            FROM events WHERE value IS NOT NULL
        ),
        bo AS (
            SELECT key, t, CAST(1.0 AS DOUBLE) AS p_cp,
                   CAST(0 AS BIGINT) AS run_map,
                   [CAST((1.0 * 0.0 + x) / (1.0 + 1.0) AS DOUBLE)] AS mu,
                   [CAST(1.0 + 1.0 AS DOUBLE)] AS kap,
                   [CAST(1.0 + 0.5 AS DOUBLE)] AS al,
                   [CAST(1.0 + 1.0 * (x - 0.0) * (x - 0.0)
                         / (2.0 * (1.0 + 1.0)) AS DOUBLE)] AS be,
                   [CAST(0.0 AS DOUBLE)] AS logp,
                   [CAST(0 AS BIGINT)] AS runs
            FROM e WHERE t = 0
            UNION ALL
            SELECT key, t,
                   exp(logp2[1]) AS p_cp,
                   runs2[list_indexof(logp2, list_max(logp2))] AS run_map,
                   mu2, kap2, al2, be2, logp2, runs2
            FROM (
                SELECT key, t,
                       list_transform(kidx, j -> nl[j] - (list_max(
                           list_transform(kidx, j2 -> nl[j2]))
                           + ln(list_sum(list_transform(kidx,
                               j3 -> exp(nl[j3] - list_max(
                                   list_transform(kidx, j4 -> nl[j4])))))))
                       ) AS logp2,
                       list_transform(kidx, j -> mun[j])  AS mu2,
                       list_transform(kidx, j -> kapn[j]) AS kap2,
                       list_transform(kidx, j -> aln[j])  AS al2,
                       list_transform(kidx, j -> ben[j])  AS be2,
                       list_transform(kidx, j -> runsn[j]) AS runs2
                FROM (
                    SELECT key, t, nl, mun, kapn, aln, ben, runsn,
                           list_filter(range(1, len(nl) + 1),
                               j -> j = 1 OR nl[j] >= ln({_BTR})) AS kidx
                    FROM (
                        SELECT key, t,
                               list_transform(nlr, v -> v - (list_max(nlr)
                                   + ln(list_sum(list_transform(nlr,
                                       w -> exp(w - list_max(nlr)))))))
                               AS nl,
                               list_concat(
                                   [(1.0 * 0.0 + x) / (1.0 + 1.0)],
                                   list_transform(range(1, n0 + 1),
                                       i -> (kap[i] * mu[i] + x)
                                            / (kap[i] + 1.0))) AS mun,
                               list_concat([1.0 + 1.0],
                                   list_transform(range(1, n0 + 1),
                                       i -> kap[i] + 1.0)) AS kapn,
                               list_concat([1.0 + 0.5],
                                   list_transform(range(1, n0 + 1),
                                       i -> al[i] + 0.5)) AS aln,
                               list_concat(
                                   [1.0 + 1.0 * (x - 0.0) * (x - 0.0)
                                        / (2.0 * (1.0 + 1.0))],
                                   list_transform(range(1, n0 + 1),
                                       i -> be[i] + kap[i] * (x - mu[i])
                                            * (x - mu[i])
                                            / (2.0 * (kap[i] + 1.0))))
                               AS ben,
                               list_concat([CAST(0 AS BIGINT)],
                                   list_transform(runs, r -> r + 1))
                               AS runsn
                        FROM (
                            SELECT e.key, e.t, e.x,
                                   len(bo.logp) AS n0,
                                   bo.mu AS mu, bo.kap AS kap,
                                   bo.al AS al, bo.be AS be,
                                   bo.runs AS runs,
                                   list_concat(
                                       [{_sp} + ln({_BH})],
                                       list_transform(
                                           range(1, len(bo.logp) + 1),
                                           i -> bo.logp[i] + {_sg}
                                                + ln(1.0 - {_BH}))) AS nlr
                            FROM bo
                            JOIN e ON e.key = bo.key AND e.t = bo.t + 1
                        )
                    )
                )
            )
        )
        SELECT key, t AS loc, {_sr_sql("p_cp", 6)} AS p_cp, run_map
        FROM bo
    """

    _LSF = ", ".join(f"(CAST({f!r} AS DOUBLE))" for f in _LS_FREQS)
    o["lomb_scargle"] = f"""
        WITH pts AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                       / 86400000000.0 AS t,
                   value AS v
            FROM events WHERE value IS NOT NULL
        ),
        fr AS (SELECT * FROM (VALUES {_LSF}) AS t(freq)),
        x AS (
            SELECT key, freq, (6.283185307179586 * freq) * t AS ang, v
            FROM pts CROSS JOIN fr
        ),
        g AS (
            SELECT key, freq, CAST(count(*) AS BIGINT) AS n,
                   sum(v) AS sx, sum(v * v) AS sxx,
                   sum(v * cos(ang)) AS sxc, sum(v * sin(ang)) AS sxs,
                   sum(cos(ang)) AS sc, sum(sin(ang)) AS ss,
                   sum(cos(2.0 * ang)) AS sc2, sum(sin(2.0 * ang)) AS ss2
            FROM x GROUP BY 1, 2
        ),
        cmb AS (
            SELECT key, freq, n,
                   CAST(n AS DOUBLE) AS nd, sx / CAST(n AS DOUBLE) AS mean,
                   atan2(ss2, sc2) / 2.0 AS wtau,
                   sxc, sxs, sc, ss, sc2, ss2, sxx
            FROM g
        ),
        parts AS (
            SELECT key, freq, n, nd,
                   (sxx - nd * mean * mean) / (nd - 1.0) AS var,
                   (sxc - mean * sc) * cos(wtau)
                       + (sxs - mean * ss) * sin(wtau) AS ct,
                   (sxs - mean * ss) * cos(wtau)
                       - (sxc - mean * sc) * sin(wtau) AS st,
                   nd / 2.0 + (cos(2.0 * wtau) * sc2
                       + sin(2.0 * wtau) * ss2) / 2.0 AS cc
            FROM cmb
        )
        SELECT key, {_sr_sql("freq", 6)} AS freq, n,
               {_sr_sql(
                   "CASE WHEN n >= 3 THEN "
                   "((ct * ct) / cc + (st * st) / (nd - cc)) / (2.0 * var) "
                   "END", 4
               )} AS power
        FROM parts
    """

    _RANK_OVERLAP = _DAILY_GRID_SQL + """
        , xa AS (SELECT loc, value AS x FROM grid
                 WHERE key = '1' AND value IS NOT NULL),
        xb AS (SELECT loc, value AS y FROM grid
               WHERE key = '2' AND value IS NOT NULL),
        jv AS (SELECT xa.loc, x, y FROM xa JOIN xb USING (loc))
    """
    o["spearman"] = _RANK_OVERLAP + f"""
        , r AS (
            SELECT rank() OVER (ORDER BY x)
                       + (count(*) OVER (PARTITION BY x) - 1) / 2.0 AS rx,
                   rank() OVER (ORDER BY y)
                       + (count(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry
            FROM jv
        )
        SELECT '1' AS key_a, '2' AS key_b,
               CAST(count(*) AS BIGINT) AS n,
               {_sr_sql(
                   "covar_samp(rx, ry)"
                   " / (stddev_samp(rx) * stddev_samp(ry))", 6
               )} AS rho
        FROM r
    """

    o["kendall"] = _RANK_OVERLAP + f"""
        , p AS (
            SELECT sign(b.x - a.x) AS sx, sign(b.y - a.y) AS sy
            FROM jv a JOIN jv b ON a.loc < b.loc
        ),
        kag AS (
            SELECT CAST(count(*) AS BIGINT) AS n0,
                   CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS nc,
                   CAST(sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS nd,
                   CAST(sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS tx,
                   CAST(sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS ty
            FROM p
        ),
        knn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM jv)
        SELECT '1' AS key_a, '2' AS key_b, n,
               nc AS n_concordant, nd AS n_discordant,
               {_sr_sql(
                   "CAST(nc - nd AS DOUBLE) / sqrt("
                   "CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))", 6
               )} AS tau
        FROM kag CROSS JOIN knn
    """

    o["information_coefficient"] = _DAILY_GRID_SQL + f"""
        , nn AS (SELECT key, loc, value FROM grid WHERE value IS NOT NULL),
        ld AS (
            SELECT key, loc, value,
                   lead(value) OVER (PARTITION BY key ORDER BY loc) AS nx
            FROM nn
        ),
        fr AS (
            SELECT loc, value, nx / value - 1.0 AS f
            FROM ld
        )
        SELECT loc, CAST(count(*) AS BIGINT) AS n_keys,
               {_sr_sql(
                   "covar_samp(value, f)"
                   " / (stddev_samp(value) * stddev_samp(f))", 6
               )} AS ic
        FROM fr WHERE f IS NOT NULL GROUP BY loc
    """

    o["turnover"] = _DAILY_GRID_SQL + f"""
        , nn AS (SELECT key, loc, value FROM grid WHERE value IS NOT NULL),
        rk AS (
            SELECT key, loc,
                   CAST(row_number() OVER (PARTITION BY loc
                        ORDER BY value DESC, key) AS DOUBLE) AS r
            FROM nn
        ),
        lg AS (
            SELECT loc, r,
                   lag(r) OVER (PARTITION BY key ORDER BY loc) AS pr
            FROM rk
        ),
        ac AS (
            SELECT loc, CAST(count(*) AS BIGINT) AS n_keys,
                   covar_samp(r, pr)
                       / (stddev_samp(r) * stddev_samp(pr)) AS rac
            FROM lg WHERE pr IS NOT NULL GROUP BY loc
        )
        SELECT loc, n_keys,
               {_sr_sql("rac", 6)} AS rank_autocorr,
               {_sr_sql("(1.0 - rac) / 2.0", 6)} AS turnover
        FROM ac
    """

    _BARS_SQL = """
        WITH bars AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   date_trunc('day', ts) AS bar_ts,
                   max(value) AS high, min(value) AS low,
                   last(value ORDER BY ts, value) AS close,
                   CAST(count(value) AS BIGINT) AS n
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2
        )
    """
    o["stochastic"] = _BARS_SQL + f"""
        , st AS (
            SELECT key, bar_ts,
                   CASE WHEN count(*) OVER wn >= 5 THEN
                       100.0 * ((close - min(low) OVER wn)
                                / (max(high) OVER wn - min(low) OVER wn))
                   END AS k
            FROM bars
            WINDOW wn AS (PARTITION BY key ORDER BY bar_ts
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        )
        SELECT key, bar_ts,
               {_sr_sql("k", 6)} AS pct_k,
               {_sr_sql("avg(k) OVER wd", 6)} AS pct_d
        FROM st
        WINDOW wd AS (PARTITION BY key ORDER BY bar_ts
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """

    o["obv"] = _BARS_SQL + """
        , stp AS (
            SELECT key, bar_ts,
                   CASE WHEN lag(close) OVER w IS NOT NULL THEN
                       sign(close - lag(close) OVER w)
                       * CAST(n AS DOUBLE)
                   ELSE 0.0 END AS st
            FROM bars
            WINDOW w AS (PARTITION BY key ORDER BY bar_ts)
        )
        SELECT key, bar_ts,
               SUM(st) OVER (PARTITION BY key ORDER BY bar_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS obv
        FROM stp
    """

    # ewm_var: closed-form adjust=False EMA replay on x and x^2
    # (q = 0.75, alpha = 0.25 — the macd oracle's technique)
    o["ewm_var"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , base AS (
            SELECT key, loc, value,
                   CAST(row_number() OVER (PARTITION BY key ORDER BY loc) - 1
                        AS BIGINT) AS j
            FROM filled WHERE value IS NOT NULL
        ),
        pre AS (
            SELECT key, loc, j,
                   first_value(value) OVER wk AS v0,
                   first_value(value * value) OVER wk AS w0,
                   SUM(CASE WHEN j >= 1 THEN value / power(0.75, j) END)
                       OVER wp AS s1,
                   SUM(CASE WHEN j >= 1
                        THEN (value * value) / power(0.75, j) END)
                       OVER wp AS s2
            FROM base
            WINDOW wk AS (PARTITION BY key ORDER BY j),
                   wp AS (PARTITION BY key ORDER BY j
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        e AS (
            SELECT key, loc,
                   power(0.75, j) * (v0 + 0.25 * coalesce(s1, 0.0)) AS e1,
                   power(0.75, j) * (w0 + 0.25 * coalesce(s2, 0.0)) AS e2
            FROM pre
        )
        SELECT key, loc,
               {_sr_sql("e1", 6)} AS ewm_mean,
               {_sr_sql("greatest(0.0, e2 - e1 * e1)", 6)} AS ewm_var,
               {_sr_sql("sqrt(greatest(0.0, e2 - e1 * e1))", 6)} AS ewm_std
        FROM e
    """

    o["fill_previous_limit"] = _DAILY_GRID_SQL + """
        , fl AS (
            SELECT key, loc, value,
                   last_value(value IGNORE NULLS) OVER wb AS pv,
                   last_value(CASE WHEN value IS NOT NULL THEN loc END
                       IGNORE NULLS) OVER wb AS pi
            FROM grid
            WINDOW wb AS (PARTITION BY key ORDER BY loc
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT key, loc,
               CASE WHEN value IS NOT NULL THEN value
                    WHEN loc - pi <= 2 THEN pv END AS value
        FROM fl
    """

    o["benford"] = f"""
        WITH pos AS (
            SELECT o_orderpriority AS grp,
                   CAST(o_totalprice AS DOUBLE) AS v
            FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
        ),
        dg AS (
            SELECT grp,
                   CAST(floor(v / power(10.0, floor(log10(v)))) AS INT)
                       AS digit
            FROM pos
        ),
        cnt AS (
            SELECT grp AS "group", digit,
                   CAST(count(*) AS BIGINT) AS n_digit
            FROM dg GROUP BY 1, 2
        ),
        w AS (
            SELECT "group", digit, n_digit,
                   CAST(n_digit AS DOUBLE)
                       / CAST(sum(n_digit) OVER wg AS DOUBLE) AS observed,
                   log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS expected,
                   CAST(sum(n_digit) OVER wg AS DOUBLE) AS nd
            FROM cnt
            WINDOW wg AS (PARTITION BY "group")
        )
        SELECT "group", digit, n_digit,
               {_sr_sql("observed", 6)} AS observed,
               {_sr_sql("expected", 6)} AS expected,
               {_sr_sql(
                   "(sum(abs(observed - expected)) OVER wg"
                   " + (1.0 - sum(expected) OVER wg)) / 9.0", 6
               )} AS mad,
               {_sr_sql(
                   "nd * (sum(pow(observed - expected, 2.0) / expected)"
                   " OVER wg + (1.0 - sum(expected) OVER wg))", 4
               )} AS chi2
        FROM w
        WINDOW wg AS (PARTITION BY "group")
    """

    o["priority_sample"] = f"""
        SELECT doc_id, source, sample_rank FROM (
            SELECT doc_id, source,
                   CAST(row_number() OVER (PARTITION BY source
                        ORDER BY {_h60(
                            "CAST(doc_id AS VARCHAR) || chr(1) || '3'"
                        )} ASC, doc_id ASC) AS INT) AS sample_rank
            FROM documents
        ) WHERE sample_rank <= 20
    """

    o["underwater"] = _DAILY_GRID_SQL + f"""
        , nn AS (SELECT key, loc, value FROM grid WHERE value IS NOT NULL),
        dd AS (
            SELECT key, loc, value,
                   value / max(value) OVER (PARTITION BY key ORDER BY loc
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - 1.0 AS d
            FROM nn
        ),
        uw AS (
            SELECT key, loc, d,
                   CASE WHEN d < 0 THEN 1 ELSE 0 END AS u,
                   CASE WHEN d < 0 AND coalesce(lag(
                       CASE WHEN d < 0 THEN 1 ELSE 0 END) OVER
                       (PARTITION BY key ORDER BY loc), 0) = 0
                   THEN 1 ELSE 0 END AS st
            FROM dd
        ),
        sp AS (
            SELECT key, loc, d, u,
                   SUM(st) OVER (PARTITION BY key ORDER BY loc
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS spell
            FROM uw
        ),
        spl AS (
            SELECT key, spell, CAST(count(*) AS BIGINT) AS len,
                   min(d) AS dep
            FROM sp WHERE u = 1 GROUP BY 1, 2
        ),
        pk AS (
            SELECT key, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(u) AS BIGINT) AS n_underwater
            FROM sp GROUP BY key
        ),
        sk AS (
            SELECT key, CAST(count(*) AS BIGINT) AS n_spells,
                   max(len) AS longest_spell, min(dep) AS dep
            FROM spl GROUP BY key
        )
        SELECT pk.key, n, n_underwater,
               {_sr_sql(
                   "CAST(n_underwater AS DOUBLE) / CAST(n AS DOUBLE)", 6
               )} AS underwater_frac,
               CAST(coalesce(n_spells, 0) AS BIGINT) AS n_spells,
               CAST(coalesce(longest_spell, 0) AS BIGINT) AS longest_spell,
               {_sr_sql("dep", 6)} AS max_dd
        FROM pk LEFT JOIN sk ON sk.key = pk.key
    """

    # atr: TR from the bar lag, then the closed-form Wilder EMA
    # (alpha = 1/14 — the macd/ewm_var oracle technique)
    o["atr"] = _BARS_SQL + f"""
        , pcb AS (
            SELECT key, bar_ts, high, low,
                   lag(close) OVER (PARTITION BY key ORDER BY bar_ts) AS pc
            FROM bars
        ),
        trb AS (
            -- explicit pc filter: DuckDB greatest() IGNORES NULL args,
            -- so the first bar would get tr = high-low instead of
            -- dropping like the engine's where(_pc not null)
            SELECT key, bar_ts,
                   greatest(high - low, abs(high - pc), abs(low - pc)) AS tr
            FROM pcb WHERE pc IS NOT NULL
        ),
        tr2 AS (
            SELECT key, bar_ts, tr,
                   CAST(row_number() OVER (PARTITION BY key
                        ORDER BY bar_ts) - 1 AS BIGINT) AS j
            FROM trb
        ),
        pre AS (
            SELECT key, bar_ts, tr, j,
                   first_value(tr) OVER wk AS t0,
                   SUM(CASE WHEN j >= 1
                        THEN tr / power({1.0 - 1.0 / 14!r}, j) END)
                       OVER wp AS s1
            FROM tr2
            WINDOW wk AS (PARTITION BY key ORDER BY j),
                   wp AS (PARTITION BY key ORDER BY j
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT key, bar_ts, {_sr_sql("tr", 6)} AS tr,
               {_sr_sql(
                   f"power({1.0 - 1.0 / 14!r}, j)"
                   f" * (t0 + {1.0 / 14!r} * coalesce(s1, 0.0))", 6
               )} AS atr
        FROM pre
    """

    o["pivot_points"] = """
        WITH bars AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   date_trunc('day', ts) AS bar_ts,
                   max(value) AS high, min(value) AS low,
                   last(value ORDER BY ts, value) AS close
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2
        ),
        lg AS (
            SELECT key, bar_ts,
                   lag(high) OVER w AS ph, lag(low) OVER w AS pl,
                   lag(close) OVER w AS pc
            FROM bars
            WINDOW w AS (PARTITION BY key ORDER BY bar_ts)
        ),
        pv AS (SELECT key, bar_ts, ph, pl, (ph + pl + pc) / 3.0 AS p FROM lg)
    """ + f"""
        SELECT key, bar_ts,
               {_sr_sql("p", 6)} AS pivot,
               {_sr_sql("2.0 * p - pl", 6)} AS r1,
               {_sr_sql("2.0 * p - ph", 6)} AS s1,
               {_sr_sql("p + (ph - pl)", 6)} AS r2,
               {_sr_sql("p - (ph - pl)", 6)} AS s2
        FROM pv
    """

    o["tod_profile"] = f"""
        WITH pts AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   CAST(hour(ts) AS INT) AS hod, value AS v
            FROM events WHERE value IS NOT NULL
        ),
        g AS (
            SELECT key, hod, CAST(count(*) AS BIGINT) AS n,
                   sum(v) AS s, sum(v * v) AS ss
            FROM pts GROUP BY 1, 2
        ),
        w0 AS (
            -- two layers: DuckDB rejects nested window calls, so the
            -- per-key totals materialize first and the between-hour
            -- sum windows over them
            SELECT key, hod, n, s, ss,
                   CAST(n AS DOUBLE) AS nh,
                   CAST(sum(n) OVER wk AS DOUBLE) AS tn,
                   sum(s) OVER wk AS ts_, sum(ss) OVER wk AS tss
            FROM g
            WINDOW wk AS (PARTITION BY key)
        ),
        w AS (
            SELECT key, hod, n, s, ss, nh, tn, ts_, tss,
                   sum(nh * (s / nh - ts_ / tn)
                          * (s / nh - ts_ / tn)) OVER wk AS btw
            FROM w0
            WINDOW wk AS (PARTITION BY key)
        )
        SELECT key, hod, n,
               {_sr_sql("s / nh", 6)} AS mean,
               {_sr_sql(
                   "CASE WHEN n >= 2 THEN sqrt(greatest(0.0,"
                   " (ss - nh * (s / nh) * (s / nh)) / (nh - 1.0))) END", 6
               )} AS std,
               {_sr_sql(
                   "(btw / tn) / ((tss / tn)"
                   " - (ts_ / tn) * (ts_ / tn))", 6
               )} AS strength
        FROM w
    """

    o["filter_audit"] = f"""
        WITH fl AS (
            SELECT
                CASE WHEN lang <> 'en' THEN 1 ELSE 0 END AS f_lang,
                CASE WHEN length(text) < 200 THEN 1 ELSE 0 END AS f_short,
                CASE WHEN (length(text) - length(
                         regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                         / length(text)::DOUBLE > 0.02
                     THEN 1 ELSE 0 END AS f_dig
            FROM documents
        ),
        t AS (SELECT f_lang, f_short, f_dig,
                     f_lang + f_short + f_dig AS tot FROM fl),
        ag AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN tot > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS k,
                   CAST(sum(f_lang) AS BIGINT) AS lf,
                   CAST(sum(CASE WHEN f_lang = 1 AND tot = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS lu,
                   CAST(sum(f_short) AS BIGINT) AS sf,
                   CAST(sum(CASE WHEN f_short = 1 AND tot = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS su,
                   CAST(sum(f_dig) AS BIGINT) AS df_,
                   CAST(sum(CASE WHEN f_dig = 1 AND tot = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS du
            FROM t
        ),
        m AS (
            SELECT 'nonenglish' AS rule, lf AS n_fail,
                   lu AS n_unique_fail, n, k FROM ag
            UNION ALL
            SELECT 'short', sf, su, n, k FROM ag
            UNION ALL
            SELECT 'digits', df_, du, n, k FROM ag
        )
        SELECT rule, n_fail, n_unique_fail,
               {_sr_sql("CAST(n_fail AS DOUBLE) / CAST(n AS DOUBLE)", 6)}
                   AS fail_rate,
               {_sr_sql(
                   "CAST(n_unique_fail AS DOUBLE) / CAST(n AS DOUBLE)", 6
               )} AS unique_fail_rate,
               n AS n_docs, k AS n_killed,
               {_sr_sql("CAST(k AS DOUBLE) / CAST(n AS DOUBLE)", 6)}
                   AS kill_rate
        FROM m
    """

    o["twa"] = f"""
        WITH pts AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts, value,
                   date_trunc('day', ts) AS bar
            FROM events WHERE value IS NOT NULL
        ),
        ld AS (
            SELECT key, bar, value,
                   CAST(epoch_us(coalesce(
                       lead(ts) OVER (PARTITION BY key, bar
                                      ORDER BY ts, value),
                       bar + INTERVAL 1 DAY)) - epoch_us(ts) AS DOUBLE)
                       / 1e6 AS w
            FROM pts
        )
        SELECT key, bar AS bar_ts, CAST(count(*) AS BIGINT) AS n,
               {_sr_sql("sum(w)", 6)} AS span_seconds,
               {_sr_sql("sum(value * w) / sum(w)", 6)} AS twa
        FROM ld GROUP BY key, bar
    """

    o["count_bars"] = """
        WITH pts AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts, value
            FROM events WHERE value IS NOT NULL
        ),
        d AS (
            SELECT key, ts, value,
                   CAST(floor((row_number() OVER (PARTITION BY key
                        ORDER BY ts, value) - 1) / 50.0) AS BIGINT) AS bar
            FROM pts
        )
        SELECT key, bar, min(ts) AS start_ts, max(ts) AS end_ts,
               first(value ORDER BY ts, value) AS open,
               max(value) AS high, min(value) AS low,
               last(value ORDER BY ts, value) AS close,
               CAST(count(*) AS BIGINT) AS n_events
        FROM d GROUP BY key, bar
    """

    o["heaps_law"] = f"""
        WITH toks AS (
            SELECT doc_id, t.token
            FROM (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\\s+') AS a
                FROM documents
            ), unnest(a) AS t(token)
            WHERE t.token <> ''
        ),
        per_doc AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS nt
            FROM toks GROUP BY doc_id
        ),
        docs AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY doc_id) AS INT) AS rk,
                   SUM(nt) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_toks
            FROM per_doc
        ),
        nd AS (SELECT CAST(max(rk) AS BIGINT) AS d FROM docs),
        firsts AS (
            SELECT rk, CAST(count(*) AS BIGINT) AS new_toks
            FROM (SELECT token, min(doc_id) AS fd FROM toks GROUP BY token)
            JOIN docs ON docs.doc_id = fd
            GROUP BY rk
        ),
        curve AS (
            SELECT docs.rk, docs.cum_toks,
                   SUM(coalesce(new_toks, 0)) OVER (ORDER BY docs.rk
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_v
            FROM docs LEFT JOIN firsts ON firsts.rk = docs.rk
        ),
        marks AS (
            SELECT p.point, curve.rk AS n_docs,
                   CAST(curve.cum_toks AS BIGINT) AS n_tokens,
                   CAST(curve.cum_v AS BIGINT) AS n_distinct
            FROM curve
            CROSS JOIN nd
            JOIN (SELECT CAST(unnest(generate_series(1, 10)) AS INT)
                      AS point) p
              ON curve.rk = CAST(ceil(CAST(nd.d AS DOUBLE)
                                      * p.point / 10) AS BIGINT)
        ),
        ols AS (
            SELECT (count(*) * sum(ln(n_tokens) * ln(n_distinct))
                    - sum(ln(n_tokens)) * sum(ln(n_distinct)))
                   / (count(*) * sum(ln(n_tokens) * ln(n_tokens))
                      - sum(ln(n_tokens)) * sum(ln(n_tokens))) AS beta
            FROM marks
        )
        SELECT point, n_docs, n_tokens, n_distinct,
               {_sr_sql("beta", 6)} AS beta
        FROM marks CROSS JOIN ols
    """

    o["stylometric_delta"] = f"""
        WITH toks AS (
            SELECT source AS grp, t.w
            FROM (
                SELECT source,
                       regexp_split_to_array(trim(lower(text)), '\\s+') AS a
                FROM documents
            ), unnest(a) AS t(w)
            WHERE t.w <> ''
        ),
        gw AS (
            SELECT grp, w, CAST(count(*) AS BIGINT) AS c
            FROM toks GROUP BY 1, 2
        ),
        gt AS (SELECT grp, CAST(sum(c) AS BIGINT) AS gtot FROM gw GROUP BY 1),
        topk AS (
            SELECT w FROM (
                SELECT w, sum(c) AS ct FROM gw GROUP BY w
                ORDER BY ct DESC, w ASC LIMIT 20
            )
        ),
        dense AS (
            SELECT gt.grp, topk.w,
                   CAST(coalesce(gw.c, 0) AS DOUBLE)
                       / CAST(gt.gtot AS DOUBLE) AS f
            FROM gt CROSS JOIN topk
            LEFT JOIN gw ON gw.grp = gt.grp AND gw.w = topk.w
        ),
        z AS (
            SELECT grp, w,
                   (f - avg(f) OVER ww) / stddev_samp(f) OVER ww AS z
            FROM dense
            WINDOW ww AS (PARTITION BY w)
        )
        SELECT a.grp AS group_a, b.grp AS group_b,
               CAST(count(CASE WHEN a.z IS NOT NULL THEN 1 END)
                    AS BIGINT) AS n_words,
               {_sr_sql("avg(abs(a.z - b.z))", 6)} AS delta
        FROM z a JOIN z b ON a.w = b.w AND a.grp < b.grp
        GROUP BY 1, 2
    """

    # keltner: typical/TR from the lag-filtered bars, then two
    # closed-form EMA replays (span-20 alpha = 2/21, Wilder alpha = 1/20)
    _KQ1, _KA1 = repr(1.0 - 2.0 / 21), repr(2.0 / 21)
    _KQ2, _KA2 = repr(1.0 - 1.0 / 20), repr(1.0 / 20)
    o["keltner"] = _BARS_SQL + f"""
        , pcb AS (
            SELECT key, bar_ts, high, low, close,
                   lag(close) OVER (PARTITION BY key ORDER BY bar_ts) AS pc
            FROM bars
        ),
        tb AS (
            SELECT key, bar_ts,
                   (high + low + close) / 3.0 AS typical,
                   greatest(high - low, abs(high - pc), abs(low - pc)) AS tr,
                   CAST(row_number() OVER (PARTITION BY key
                        ORDER BY bar_ts) - 1 AS BIGINT) AS j
            FROM pcb WHERE pc IS NOT NULL
        ),
        pre AS (
            SELECT key, bar_ts, typical, j,
                   first_value(typical) OVER wk AS t0,
                   first_value(tr) OVER wk AS r0,
                   SUM(CASE WHEN j >= 1
                        THEN typical / power({_KQ1}, j) END) OVER wp AS s1,
                   SUM(CASE WHEN j >= 1
                        THEN tr / power({_KQ2}, j) END) OVER wp AS s2
            FROM tb
            WINDOW wk AS (PARTITION BY key ORDER BY j),
                   wp AS (PARTITION BY key ORDER BY j
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        e AS (
            SELECT key, bar_ts, typical,
                   power({_KQ1}, j) * (t0 + {_KA1} * coalesce(s1, 0.0))
                       AS mid,
                   power({_KQ2}, j) * (r0 + {_KA2} * coalesce(s2, 0.0))
                       AS a
            FROM pre
        )
        SELECT key, bar_ts,
               {_sr_sql("typical", 6)} AS typical,
               {_sr_sql("mid", 6)} AS kc_mid,
               {_sr_sql("mid + 2.0 * a", 6)} AS kc_upper,
               {_sr_sql("mid - 2.0 * a", 6)} AS kc_lower
        FROM e
    """

    o["donchian"] = _BARS_SQL + """
        SELECT key, bar_ts,
               CASE WHEN count(*) OVER wn >= 7
                    THEN max(high) OVER wn END AS dc_upper,
               CASE WHEN count(*) OVER wn >= 7
                    THEN min(low) OVER wn END AS dc_lower,
               (CASE WHEN count(*) OVER wn >= 7
                     THEN max(high) OVER wn END
                + CASE WHEN count(*) OVER wn >= 7
                       THEN min(low) OVER wn END) / 2.0 AS dc_mid
        FROM bars
        WINDOW wn AS (PARTITION BY key ORDER BY bar_ts
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """

    o["ulcer"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , nn AS (SELECT key, loc, value FROM filled WHERE value IS NOT NULL),
        pdd AS (
            SELECT key, loc,
                   CASE WHEN count(*) OVER wn >= 7 THEN
                       100.0 * (value / max(value) OVER wn - 1.0)
                   END AS pct_dd
            FROM nn
            WINDOW wn AS (PARTITION BY key ORDER BY loc
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT key, loc,
               {_sr_sql("pct_dd", 6)} AS pct_dd,
               {_sr_sql(
                   "CASE WHEN count(pct_dd) OVER wn >= 7 THEN "
                   "sqrt(avg(pct_dd * pct_dd) OVER wn) END", 6
               )} AS ulcer
        FROM pdd
        WINDOW wn AS (PARTITION BY key ORDER BY loc
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """

    o["rolling_sharpe"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , nn AS (SELECT key, loc, value FROM filled WHERE value IS NOT NULL),
        rt AS (
            SELECT key, loc,
                   value / lag(value) OVER (PARTITION BY key ORDER BY loc)
                   - 1.0 AS ret
            FROM nn
        ),
        rr AS (SELECT key, loc, ret FROM rt WHERE ret IS NOT NULL)
        SELECT key, loc,
               {_sr_sql("ret", 6)} AS ret,
               {_sr_sql(
                   "CASE WHEN count(*) OVER wn >= 10 THEN "
                   "avg(ret) OVER wn / stddev_samp(ret) OVER wn END", 6
               )} AS sharpe
        FROM rr
        WINDOW wn AS (PARTITION BY key ORDER BY loc
                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    """

    o["funnel_gap"] = """
        WITH base AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts, event_type
            FROM events
        ),
        s1 AS (
            SELECT key, min(ts) AS ts_1 FROM base
            WHERE event_type = 'view' GROUP BY key
        ),
        s2 AS (
            SELECT b.key, min(b.ts) AS ts_2
            FROM base b JOIN s1 USING (key)
            WHERE b.event_type = 'click' AND b.ts > s1.ts_1
              AND epoch_us(b.ts) - epoch_us(s1.ts_1) <= 86400000000
            GROUP BY b.key
        ),
        s3 AS (
            SELECT b.key, min(b.ts) AS ts_3
            FROM base b JOIN s2 USING (key)
            WHERE b.event_type = 'purchase' AND b.ts > s2.ts_2
              AND epoch_us(b.ts) - epoch_us(s2.ts_2) <= 86400000000
            GROUP BY b.key
        )
        SELECT s1.key, ts_1, ts_2, ts_3,
               CAST(1 + (ts_2 IS NOT NULL)::INT + (ts_3 IS NOT NULL)::INT
                    AS INT) AS steps_completed
        FROM s1 LEFT JOIN s2 USING (key) LEFT JOIN s3 USING (key)
    """

    # newey_west: mirror the engine's left-assoc HAC sum s = g0/n +
    # 2 w1 (g1/n) + ... with Bartlett weights as repr literals
    _NW = "g0 / nd"
    for _j in range(1, 6):
        _NW = (f"({_NW} + 2.0 * {1.0 - _j / 6.0!r}"
               f" * (coalesce(g{_j}, 0.0) / nd))")
    o["newey_west"] = _DAILY_GRID_SQL + f"""
        , nn AS (SELECT key, loc, value FROM grid WHERE value IS NOT NULL),
        dm AS (
            SELECT key, loc, value,
                   avg(value) OVER (PARTITION BY key) AS mu
            FROM nn
        ),
        dx AS (
            SELECT key, loc, mu, value - mu AS d,
                   lag(value - mu, 1) OVER w AS d1,
                   lag(value - mu, 2) OVER w AS d2,
                   lag(value - mu, 3) OVER w AS d3,
                   lag(value - mu, 4) OVER w AS d4,
                   lag(value - mu, 5) OVER w AS d5
            FROM dm
            WINDOW w AS (PARTITION BY key ORDER BY loc)
        ),
        g AS (
            SELECT key, CAST(count(*) AS BIGINT) AS n,
                   first(mu) AS mean,
                   CAST(count(*) AS DOUBLE) AS nd,
                   sum(d * d) AS g0,
                   sum(d * d1) AS g1, sum(d * d2) AS g2,
                   sum(d * d3) AS g3, sum(d * d4) AS g4,
                   sum(d * d5) AS g5
            FROM dx GROUP BY key
        ),
        fin AS (
            SELECT key, n, mean,
                   CASE WHEN n > 5
                        THEN greatest(0.0, {_NW}) END AS nw_var,
                   nd
            FROM g
        )
        SELECT key, n, {_sr_sql("mean", 6)} AS mean,
               {_sr_sql("nw_var", 6)} AS nw_var,
               {_sr_sql("sqrt(nw_var / nd)", 6)} AS nw_se,
               {_sr_sql("mean / sqrt(nw_var / nd)", 6)} AS t_stat
        FROM fin
    """

    # ewma_chart: closed-form EMA replay + the x0-seeded variance
    # envelope (alpha = 0.2, q = 0.8, alpha/(2-alpha) as repr literal)
    _ECA = repr(0.2 / 1.8)
    o["ewma_chart"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , base AS (
            SELECT key, loc, value,
                   CAST(row_number() OVER (PARTITION BY key ORDER BY loc) - 1
                        AS BIGINT) AS j
            FROM filled WHERE value IS NOT NULL
        ),
        pre AS (
            SELECT key, loc, j, value,
                   first_value(value) OVER wk AS v0,
                   SUM(CASE WHEN j >= 1 THEN value / power(0.8, j) END)
                       OVER wp AS s1,
                   avg(value) OVER (PARTITION BY key) AS center,
                   stddev_samp(value) OVER (PARTITION BY key) AS sd
            FROM base
            WINDOW wk AS (PARTITION BY key ORDER BY j),
                   wp AS (PARTITION BY key ORDER BY j
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        e AS (
            SELECT key, loc, center, sd,
                   power(0.8, j) * (v0 + 0.2 * coalesce(s1, 0.0)) AS ema,
                   CAST(j AS DOUBLE) AS t0
            FROM pre
        ),
        lim AS (
            SELECT key, loc, ema, center,
                   CASE WHEN sd > 0 THEN center
                        + 3.0 * (sd * sqrt(power(0.8, 2.0 * t0)
                          + {_ECA} * (1.0 - power(0.8, 2.0 * t0))))
                   END AS ucl,
                   CASE WHEN sd > 0 THEN center
                        - 3.0 * (sd * sqrt(power(0.8, 2.0 * t0)
                          + {_ECA} * (1.0 - power(0.8, 2.0 * t0))))
                   END AS lcl
            FROM e
        )
        SELECT key, loc, {_sr_sql("ema", 6)} AS ema,
               {_sr_sql("center", 6)} AS center,
               {_sr_sql("ucl", 6)} AS ucl,
               {_sr_sql("lcl", 6)} AS lcl,
               CASE WHEN ucl IS NOT NULL
                    THEN (ema > ucl OR ema < lcl) END AS alarm
        FROM lim
    """

    o["error_burn"] = f"""
        WITH g AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   date_trunc('hour', ts) AS bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN event_type = 'error'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_err
            FROM events GROUP BY 1, 2
        ),
        w AS (
            SELECT key, bucket, n, n_err,
                   CAST(sum(n_err) OVER ws AS DOUBLE)
                       / CAST(sum(n) OVER ws AS DOUBLE) AS fs,
                   CAST(sum(n_err) OVER wl AS DOUBLE)
                       / CAST(sum(n) OVER wl AS DOUBLE) AS fl
            FROM g
            WINDOW ws AS (PARTITION BY key ORDER BY bucket
                          ROWS BETWEEN 0 PRECEDING AND CURRENT ROW),
                   wl AS (PARTITION BY key ORDER BY bucket
                          ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        )
        SELECT key, bucket, n, n_err,
               {_sr_sql("fs", 6)} AS frac_short,
               {_sr_sql("fl", 6)} AS frac_long,
               {_sr_sql("fs / 0.25", 6)} AS burn_short,
               {_sr_sql("fl / 0.25", 6)} AS burn_long,
               (fs / 0.25 > 1.0 AND fl / 0.25 > 1.0) AS alarm
        FROM w
    """

    _PDR_PARTS = []
    for _d in (8, 16, 32, 64):
        _PDR_PARTS.append(f"""
        SELECT {_d} AS dim, CAST(count(*) AS BIGINT) AS n_queries,
               {_sr_sql("avg(CAST(h AS DOUBLE)) / 10", 6)} AS recall
        FROM (
            SELECT q.qid, coalesce(hit.h, 0) AS h
            FROM (SELECT DISTINCT vec_id AS qid FROM embeddings
                  WHERE vec_id < 16) q
            LEFT JOIN (
                SELECT t.qid, CAST(count(*) AS BIGINT) AS h
                FROM (
                    SELECT qid, vec_id FROM (
                        SELECT qid, vec_id,
                               row_number() OVER (PARTITION BY qid
                                   ORDER BY sim DESC, vec_id) AS rk
                        FROM (
                            SELECT q2.qid, e2.vec_id,
                                   list_dot_product(q2.qv, e2.v)
                                   / (sqrt(list_dot_product(q2.qv, q2.qv))
                                      * sqrt(list_dot_product(e2.v, e2.v)))
                                   AS sim
                            FROM (SELECT vec_id AS qid,
                                         (CAST(embedding AS DOUBLE[]))[1:{_d}]
                                             AS qv
                                  FROM embeddings WHERE vec_id < 16) q2
                            CROSS JOIN (SELECT vec_id,
                                         (CAST(embedding AS DOUBLE[]))[1:{_d}]
                                             AS v
                                        FROM embeddings) e2
                            WHERE q2.qid != e2.vec_id
                        )
                    ) WHERE rk <= 10
                ) t
                JOIN (
                    SELECT qid, vec_id FROM (
                        SELECT qid, vec_id,
                               row_number() OVER (PARTITION BY qid
                                   ORDER BY sim DESC, vec_id) AS rk
                        FROM (
                            SELECT q3.qid, e3.vec_id,
                                   list_dot_product(q3.qv, e3.v)
                                   / (sqrt(list_dot_product(q3.qv, q3.qv))
                                      * sqrt(list_dot_product(e3.v, e3.v)))
                                   AS sim
                            FROM (SELECT vec_id AS qid,
                                         CAST(embedding AS DOUBLE[]) AS qv
                                  FROM embeddings WHERE vec_id < 16) q3
                            CROSS JOIN (SELECT vec_id,
                                         CAST(embedding AS DOUBLE[]) AS v
                                        FROM embeddings) e3
                            WHERE q3.qid != e3.vec_id
                        )
                    ) WHERE rk <= 10
                ) f ON f.qid = t.qid AND f.vec_id = t.vec_id
                GROUP BY t.qid
            ) hit ON hit.qid = q.qid
        )""")
    o["prefix_dim_recall"] = " UNION ALL ".join(_PDR_PARTS)

    o["dow_profile"] = f"""
        WITH pts AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   CAST(dayofweek(ts) + 1 AS INT) AS dow, value AS v
            FROM events WHERE value IS NOT NULL
        ),
        g AS (
            SELECT key, dow, CAST(count(*) AS BIGINT) AS n,
                   sum(v) AS s, sum(v * v) AS ss
            FROM pts GROUP BY 1, 2
        ),
        w0 AS (
            SELECT key, dow, n, s, ss,
                   CAST(n AS DOUBLE) AS nh,
                   CAST(sum(n) OVER wk AS DOUBLE) AS tn,
                   sum(s) OVER wk AS ts_, sum(ss) OVER wk AS tss
            FROM g
            WINDOW wk AS (PARTITION BY key)
        ),
        w AS (
            SELECT key, dow, n, s, ss, nh, tn, ts_, tss,
                   sum(nh * (s / nh - ts_ / tn)
                          * (s / nh - ts_ / tn)) OVER wk AS btw
            FROM w0
            WINDOW wk AS (PARTITION BY key)
        )
        SELECT key, dow, n,
               {_sr_sql("s / nh", 6)} AS mean,
               {_sr_sql(
                   "CASE WHEN n >= 2 THEN sqrt(greatest(0.0,"
                   " (ss - nh * (s / nh) * (s / nh)) / (nh - 1.0))) END", 6
               )} AS std,
               {_sr_sql(
                   "(btw / tn) / ((tss / tn)"
                   " - (ts_ / tn) * (ts_ / tn))", 6
               )} AS strength
        FROM w
    """

    o["robust_location"] = _DAILY_GRID_SQL + f"""
        , nn AS (SELECT key, value FROM grid WHERE value IS NOT NULL),
        b AS (
            SELECT key, CAST(count(*) AS BIGINT) AS n,
                   avg(value) AS mean,
                   quantile_cont(value, 0.5) AS median,
                   quantile_cont(value, 0.1) AS lo,
                   quantile_cont(value, 0.9) AS hi
            FROM nn GROUP BY key
        ),
        t AS (
            SELECT nn.key,
                   avg(CASE WHEN value >= lo AND value <= hi
                        THEN value END) AS tmean,
                   avg(greatest(lo, least(hi, value))) AS wmean
            FROM nn JOIN b ON b.key = nn.key
            GROUP BY nn.key
        )
        SELECT b.key, n, {_sr_sql("mean", 6)} AS mean,
               {_sr_sql("median", 6)} AS median,
               {_sr_sql("tmean", 6)} AS trimmed_mean,
               {_sr_sql("wmean", 6)} AS winsorized_mean
        FROM b JOIN t ON t.key = b.key
    """

    o["rank_autocorr"] = _DAILY_GRID_SQL + f"""
        , nn AS (SELECT key, loc, value FROM grid WHERE value IS NOT NULL),
        rk AS (
            SELECT key, loc,
                   rank() OVER (PARTITION BY key ORDER BY value)
                       + (count(*) OVER (PARTITION BY key, value) - 1)
                         / 2.0 AS r
            FROM nn
        ),
        lg AS (
            SELECT key, r,
                   lag(r, 1) OVER (PARTITION BY key ORDER BY loc) AS pr
            FROM rk
        )
        SELECT key, CAST(count(*) AS BIGINT) AS n_pairs,
               {_sr_sql(
                   "covar_samp(r, pr)"
                   " / (stddev_samp(r) * stddev_samp(pr))", 6
               )} AS rho
        FROM lg WHERE pr IS NOT NULL GROUP BY key
    """

    o["cross_zscore"] = _DAILY_GRID_SQL + f"""
        , nn AS (SELECT key, loc, value FROM grid WHERE value IS NOT NULL)
        SELECT key, loc, value,
               {_sr_sql(
                   "(value - avg(value) OVER wn) / stddev_samp(value) OVER wn",
                   6,
               )} AS zscore
        FROM nn
        WINDOW wn AS (PARTITION BY loc)
    """

    # -- r11 additions -----------------------------------------------------

    o["williams_r"] = _BARS_SQL + f"""
        , wr AS (
            SELECT key, bar_ts,
                   CASE WHEN count(*) OVER wn >= 5 THEN
                       -100.0 * (max(high) OVER wn - close)
                       / (max(high) OVER wn - min(low) OVER wn)
                   END AS pr
            FROM bars
            WINDOW wn AS (PARTITION BY key ORDER BY bar_ts
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        )
        SELECT key, bar_ts, {_sr_sql("pr", 6)} AS pct_r FROM wr
    """

    o["cci"] = _BARS_SQL + f"""
        , tpb AS (
            SELECT key, bar_ts, (high + low + close) / 3.0 AS tp
            FROM bars
        ),
        wn_ AS (
            SELECT key, bar_ts, tp,
                   count(*) OVER wn AS c,
                   avg(tp) OVER wn AS sma,
                   list(tp) OVER wn AS l
            FROM tpb
            WINDOW wn AS (PARTITION BY key ORDER BY bar_ts
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ),
        md_ AS (
            SELECT key, bar_ts, tp, c, sma,
                   list_aggregate(list_transform(l, x -> abs(x - sma)),
                                  'sum') / len(l) AS md
            FROM wn_
        )
        SELECT key, bar_ts, {_sr_sql("tp", 6)} AS tp,
               {_sr_sql(
                   "CASE WHEN c >= 7 THEN (tp - sma) / (0.015 * md) END", 6
               )} AS cci
        FROM md_
    """

    o["cmo"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , nn AS (SELECT key, loc, value FROM filled WHERE value IS NOT NULL),
        df_ AS (
            SELECT key, loc,
                   value - lag(value) OVER (PARTITION BY key ORDER BY loc)
                       AS d
            FROM nn
        ),
        gl AS (
            SELECT key, loc,
                   greatest(d, 0.0) AS gain, greatest(-d, 0.0) AS loss
            FROM df_ WHERE d IS NOT NULL
        )
        SELECT key, loc,
               {_sr_sql("gain", 6)} AS gain,
               {_sr_sql("loss", 6)} AS loss,
               {_sr_sql(
                   "CASE WHEN count(*) OVER wn >= 9 THEN "
                   "100.0 * (sum(gain) OVER wn - sum(loss) OVER wn)"
                   " / (sum(gain) OVER wn + sum(loss) OVER wn) END", 6
               )} AS cmo
        FROM gl
        WINDOW wn AS (PARTITION BY key ORDER BY loc
                      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
    """

    # trix: three chained adjust=False EMAs replayed by the closed
    # prefix form e_j = q^j (x0 + a*sum_{i>=1} x_i/q^i) — the macd
    # signal-EMA chaining precedent; q/a as repr literals
    _qt, _at = repr(1.0 - 2.0 / 9), repr(2.0 / 9)
    o["trix"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , base AS (
            SELECT key, loc, value,
                   CAST(row_number() OVER (PARTITION BY key ORDER BY loc) - 1
                        AS BIGINT) AS j
            FROM filled
        ),
        p1 AS (
            SELECT key, loc, j, first_value(value) OVER wk AS v0,
                   SUM(CASE WHEN j >= 1 THEN value / power({_qt}, j) END)
                       OVER wp AS s1
            FROM base
            WINDOW wk AS (PARTITION BY key ORDER BY j),
                   wp AS (PARTITION BY key ORDER BY j
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        e1_ AS (
            SELECT key, loc, j,
                   power({_qt}, j) * (v0 + {_at} * coalesce(s1, 0.0)) AS e1
            FROM p1
        ),
        p2 AS (
            SELECT key, loc, j, first_value(e1) OVER wk AS e10,
                   SUM(CASE WHEN j >= 1 THEN e1 / power({_qt}, j) END)
                       OVER wp AS s2
            FROM e1_
            WINDOW wk AS (PARTITION BY key ORDER BY j),
                   wp AS (PARTITION BY key ORDER BY j
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        e2_ AS (
            SELECT key, loc, j,
                   power({_qt}, j) * (e10 + {_at} * coalesce(s2, 0.0)) AS e2
            FROM p2
        ),
        p3 AS (
            SELECT key, loc, j, first_value(e2) OVER wk AS e20,
                   SUM(CASE WHEN j >= 1 THEN e2 / power({_qt}, j) END)
                       OVER wp AS s3
            FROM e2_
            WINDOW wk AS (PARTITION BY key ORDER BY j),
                   wp AS (PARTITION BY key ORDER BY j
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        e3_ AS (
            SELECT key, loc,
                   power({_qt}, j) * (e20 + {_at} * coalesce(s3, 0.0)) AS e3
            FROM p3
        )
        SELECT key, loc, {_sr_sql("e3", 6)} AS ema3,
               {_sr_sql(
                   "100.0 * (e3 / lag(e3) OVER "
                   "(PARTITION BY key ORDER BY loc) - 1.0)", 6
               )} AS trix
        FROM e3_
    """

    o["aroon"] = _BARS_SQL + f"""
        , rb AS (
            SELECT key, bar_ts, high, low,
                   CAST(row_number() OVER (PARTITION BY key ORDER BY bar_ts)
                        AS BIGINT) AS rn
            FROM bars
        ),
        ext AS (
            SELECT key, bar_ts, rn,
                   count(*) OVER wn AS c,
                   (max({{'v': high, 'r': rn}}) OVER wn).r AS hh_rn,
                   (min({{'v': low, 'r': -rn}}) OVER wn).r AS ll_rn
            FROM rb
            WINDOW wn AS (PARTITION BY key ORDER BY bar_ts
                          ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
        )
        SELECT key, bar_ts,
               {_sr_sql(
                   "CASE WHEN c >= 8 THEN "
                   "100.0 * (7 - (rn - hh_rn)) / 7.0 END", 6
               )} AS aroon_up,
               {_sr_sql(
                   "CASE WHEN c >= 8 THEN "
                   "100.0 * (7 - (rn + ll_rn)) / 7.0 END", 6
               )} AS aroon_down,
               {_sr_sql(
                   "CASE WHEN c >= 8 THEN "
                   "100.0 * (7 - (rn - hh_rn)) / 7.0 "
                   "- 100.0 * (7 - (rn + ll_rn)) / 7.0 END", 6
               )} AS aroon_osc
        FROM ext
    """

    _PAIR_RETS_SQL = _DAILY_GRID_SQL + """
        , nn AS (SELECT key, loc, value FROM grid WHERE value IS NOT NULL),
        pa AS (SELECT loc AS l, value AS va FROM nn WHERE key = '1'),
        pb AS (SELECT loc AS l, value AS vb FROM nn WHERE key = '2'),
        jj AS (SELECT pa.l, va, vb FROM pa JOIN pb ON pa.l = pb.l),
        rr AS (
            SELECT va / lag(va) OVER (ORDER BY l) - 1.0 AS ra,
                   vb / lag(vb) OVER (ORDER BY l) - 1.0 AS rb
            FROM jj
        ),
        rts AS (SELECT ra, rb FROM rr
                WHERE ra IS NOT NULL AND rb IS NOT NULL)
    """
    o["capture_ratios"] = _PAIR_RETS_SQL + f"""
        SELECT '1' AS key_a, '2' AS key_b,
               CAST(count(*) AS BIGINT) AS n_periods,
               CAST(coalesce(sum(CASE WHEN rb > 0 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_up,
               CAST(coalesce(sum(CASE WHEN rb < 0 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_down,
               {_sr_sql(
                   "avg(CASE WHEN rb > 0 THEN ra END)"
                   " / avg(CASE WHEN rb > 0 THEN rb END)", 6
               )} AS up_capture,
               {_sr_sql(
                   "avg(CASE WHEN rb < 0 THEN ra END)"
                   " / avg(CASE WHEN rb < 0 THEN rb END)", 6
               )} AS down_capture
        FROM rts
    """

    o["active_stats"] = _PAIR_RETS_SQL + f"""
        SELECT '1' AS key_a, '2' AS key_b,
               CAST(count(*) AS BIGINT) AS n_periods,
               {_sr_sql("avg(ra - rb)", 6)} AS mean_active,
               {_sr_sql("stddev_samp(ra - rb)", 6)} AS tracking_error,
               {_sr_sql(
                   "avg(ra - rb) / stddev_samp(ra - rb)", 6
               )} AS information_ratio
        FROM rts
    """

    o["robust_scale"] = _DAILY_GRID_SQL + f"""
        , nn AS (SELECT key, value FROM grid WHERE value IS NOT NULL),
        b AS (
            SELECT key, CAST(count(*) AS BIGINT) AS n,
                   quantile_cont(value, 0.5) AS median,
                   quantile_cont(value, 0.75)
                       - quantile_cont(value, 0.25) AS iqr,
                   max(value) - min(value) AS vrange
            FROM nn GROUP BY key
        ),
        m AS (
            SELECT nn.key,
                   quantile_cont(abs(value - median), 0.5) AS mad
            FROM nn JOIN b ON b.key = nn.key
            GROUP BY nn.key
        )
        SELECT b.key, n, {_sr_sql("median", 6)} AS median,
               {_sr_sql("mad", 6)} AS mad,
               {_sr_sql("iqr", 6)} AS iqr,
               {_sr_sql("vrange", 6)} AS vrange
        FROM b JOIN m ON m.key = b.key
    """

    o["gap_outages"] = f"""
        WITH ev AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts FROM events
        ),
        g0 AS (
            SELECT key,
                   (epoch_us(ts) - epoch_us(lag(ts) OVER
                        (PARTITION BY key ORDER BY ts))) / 1e6 AS g
            FROM ev
        ),
        gg AS (SELECT key, g FROM g0 WHERE g IS NOT NULL),
        b AS (
            SELECT key, CAST(count(*) AS BIGINT) AS n_gaps,
                   quantile_cont(g, 0.5) AS median_gap,
                   quantile_cont(g, 0.95) AS p95_gap,
                   max(g) AS max_gap
            FROM gg GROUP BY key
        ),
        oo AS (
            SELECT gg.key,
                   CAST(coalesce(sum(CASE WHEN g > 3.0 * median_gap
                                          THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n_outages,
                   coalesce(sum(CASE WHEN g > 3.0 * median_gap
                                     THEN g - median_gap END), 0.0)
                       AS outage_seconds
            FROM gg JOIN b ON b.key = gg.key
            GROUP BY gg.key
        )
        SELECT b.key, n_gaps, {_sr_sql("median_gap", 6)} AS median_gap,
               {_sr_sql("p95_gap", 6)} AS p95_gap,
               {_sr_sql("max_gap", 6)} AS max_gap,
               n_outages,
               {_sr_sql("outage_seconds", 6)} AS outage_seconds
        FROM b JOIN oo ON oo.key = b.key
    """

    o["rfm"] = f"""
        WITH per AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   max(ts) AS last_, CAST(count(*) AS BIGINT) AS frequency,
                   coalesce(sum(value), 0.0) AS monetary
            FROM events GROUP BY 1
        ),
        anc AS (SELECT max(ts) AS anchor FROM events),
        d AS (
            SELECT key,
                   CAST(floor((epoch_us(anchor) - epoch_us(last_))
                              / 86400000000.0) AS BIGINT) AS recency_days,
                   frequency, monetary
            FROM per CROSS JOIN anc
        ),
        s AS (
            SELECT key, recency_days, frequency, monetary,
                   CAST(ntile(5) OVER (ORDER BY recency_days DESC, key)
                        AS INT) AS r_score,
                   CAST(ntile(5) OVER (ORDER BY frequency ASC, key)
                        AS INT) AS f_score,
                   CAST(ntile(5) OVER (ORDER BY monetary ASC, key)
                        AS INT) AS m_score
            FROM d
        )
        SELECT key, recency_days, frequency,
               {_sr_sql("monetary", 6)} AS monetary,
               r_score, f_score, m_score,
               CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm
        FROM s
    """

    o["transition_matrix"] = f"""
        WITH ev AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts, event_type, event_id
            FROM events
        ),
        lg AS (
            SELECT key, event_type,
                   lag(event_type) OVER
                       (PARTITION BY key ORDER BY ts, event_id) AS prev
            FROM ev
        ),
        c AS (
            SELECT prev AS from_type, event_type AS to_type,
                   CAST(count(*) AS BIGINT) AS n
            FROM lg WHERE prev IS NOT NULL GROUP BY 1, 2
        )
        SELECT from_type, to_type, n,
               {_sr_sql(
                   "CAST(n AS DOUBLE) / CAST(sum(n) OVER "
                   "(PARTITION BY from_type) AS DOUBLE)", 6
               )} AS prob
        FROM c
    """

    o["tod_percentiles"] = f"""
        WITH obs AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts, value
            FROM events WHERE value IS NOT NULL
        )
        SELECT key, CAST(hour(ts) AS INT) AS hour,
               CAST(count(*) AS BIGINT) AS n,
               {_sr_sql("quantile_cont(value, 0.25)", 6)} AS p25,
               {_sr_sql("quantile_cont(value, 0.5)", 6)} AS p50,
               {_sr_sql("quantile_cont(value, 0.75)", 6)} AS p75
        FROM obs GROUP BY 1, 2
    """

    # weekday labels differ across engines (Spark dayofweek is 1=Sun,
    # DuckDB 0=Sun) but H only partitions by group IDENTITY, so any
    # consistent labeling replays the identical statistic
    o["kruskal_dow"] = f"""
        WITH obs AS (
            SELECT CAST(user_id AS VARCHAR) AS k, ts, value
            FROM events WHERE value IS NOT NULL
        ),
        rk AS (
            SELECT k, dayofweek(ts) AS dow,
                   rank() OVER (PARTITION BY k ORDER BY value)
                       + (count(*) OVER (PARTITION BY k, value) - 1) / 2.0
                       AS r,
                   count(*) OVER (PARTITION BY k, value) AS t
            FROM obs
        ),
        g AS (
            SELECT k, dow, CAST(count(*) AS BIGINT) AS ni, sum(r) AS sr,
                   CAST(sum(t * t - 1) AS BIGINT) AS tc
            FROM rk GROUP BY 1, 2
        ),
        a AS (
            SELECT k, CAST(sum(ni) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_groups,
                   sum(sr * sr / CAST(ni AS DOUBLE)) AS s2,
                   CAST(sum(tc) AS DOUBLE) AS tsum
            FROM g GROUP BY k
        )
        SELECT k AS key, n, n_groups,
               {_sr_sql(
                   "12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))"
                   " * s2 - 3.0 * (CAST(n AS DOUBLE) + 1.0)", 6
               )} AS h,
               {_sr_sql(
                   "(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))"
                   " * s2 - 3.0 * (CAST(n AS DOUBLE) + 1.0))"
                   " / (1.0 - tsum / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
                   " * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))", 6
               )} AS h_adj
        FROM a
    """

    _acf_lags = ", ".join(
        f"lag(value, {k}) OVER (PARTITION BY key ORDER BY loc) AS l{k}"
        for k in range(1, 11)
    )
    _acf_cs = ", ".join(
        f"covar_samp(CASE WHEN l{k} IS NOT NULL THEN value END, l{k})"
        f" / (stddev_samp(CASE WHEN l{k} IS NOT NULL THEN value END)"
        f" * stddev_samp(l{k})) AS c{k}"
        for k in range(1, 11)
    )
    _acf_ssq = " + ".join(f"coalesce(c{k} * c{k}, 0.0)" for k in range(1, 11))
    # DuckDB least() IGNORES NULL args (oracle gotcha 12) — exactly the
    # first-defined-negative-lag semantics needed here
    _acf_neg = "least(" + ", ".join(
        f"CASE WHEN c{k} < 0 THEN {k} END" for k in range(1, 11)
    ) + ")"
    o["acf_features"] = _DAILY_GRID_SQL + f"""
        , nn AS (SELECT key, loc, value FROM grid WHERE value IS NOT NULL),
        lg AS (SELECT key, value, {_acf_lags} FROM nn),
        a AS (
            SELECT key, CAST(count(value) AS BIGINT) AS n, {_acf_cs}
            FROM lg GROUP BY key
        )
        SELECT key, n, {_sr_sql("c1", 6)} AS acf1,
               {_sr_sql(_acf_ssq, 6)} AS sum_sq_acf,
               CAST({_acf_neg} AS INT) AS first_neg_lag
        FROM a
    """

    o["roll_entropy"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , nn AS (SELECT key, loc, value FROM filled WHERE value IS NOT NULL),
        rng AS (
            SELECT key, loc, value,
                   min(value) OVER wk AS lo, max(value) OVER wk AS hi
            FROM nn
            WINDOW wk AS (PARTITION BY key)
        ),
        bb AS (
            SELECT key, loc,
                   CASE WHEN hi > lo THEN
                       least(CAST(floor((value - lo) / (hi - lo) * 4)
                                  AS INT), 3)
                   ELSE 0 END AS bin
            FROM rng
        ),
        wl AS (
            SELECT key, loc, bin,
                   count(*) OVER wn AS c, list(bin) OVER wn AS l
            FROM bb
            WINDOW wn AS (PARTITION BY key ORDER BY loc
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT key, loc, bin,
               {_sr_sql(
                   "CASE WHEN c >= 7 THEN "
                   "-list_aggregate(list_transform(list_distinct(l), "
                   "b -> (len(list_filter(l, x -> x = b))"
                   " / CAST(len(l) AS DOUBLE))"
                   " * ln(len(list_filter(l, x -> x = b))"
                   " / CAST(len(l) AS DOUBLE))), 'sum') END", 6
               )} AS entropy
        FROM wl
    """

    o["bucket_cardinality"] = """
        SELECT date_trunc('day', ts) AS bucket,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_unique
        FROM events GROUP BY 1
    """

    o["max_concurrency"] = """
        WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k, ts FROM events),
        lg AS (
            SELECT k, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 1800000000
                        THEN 1 ELSE 0 END AS st
            FROM ev
            WINDOW w AS (PARTITION BY k ORDER BY ts)
        ),
        sid AS (
            SELECT k, ts,
                   sum(st) OVER (PARTITION BY k ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sid
            FROM lg
        ),
        sess AS (
            SELECT k, sid, min(ts) AS s, max(ts) AS e
            FROM sid GROUP BY 1, 2
        ),
        d AS (
            SELECT s AS ts, 1 AS dd FROM sess
            UNION ALL
            SELECT e AS ts, -1 AS dd FROM sess
        ),
        run AS (
            SELECT ts, dd,
                   CAST(sum(dd) OVER (ORDER BY ts, dd DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS r
            FROM d
        ),
        m AS (SELECT max(r) AS mx FROM run)
        SELECT CAST((SELECT count(*) FROM sess) AS BIGINT) AS n_sessions,
               mx AS max_concurrent,
               (SELECT min(ts) FROM run WHERE r = mx) AS peak_ts
        FROM m
    """

    o["missingness"] = _DAILY_GRID_SQL + f"""
        , fl AS (
            SELECT key, loc,
                   CASE WHEN value IS NULL THEN 1 ELSE 0 END AS m,
                   CASE WHEN value IS NULL
                             AND coalesce(lag(CASE WHEN value IS NULL
                                               THEN 1 ELSE 0 END)
                                 OVER (PARTITION BY key ORDER BY loc), 0)
                                 = 0
                        THEN 1 ELSE 0 END AS st
            FROM grid
        ),
        b AS (
            SELECT key, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(m) AS BIGINT) AS n_missing
            FROM fl GROUP BY key
        ),
        rid AS (
            SELECT key, m,
                   sum(st) OVER (PARTITION BY key ORDER BY loc
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS run
            FROM fl
        ),
        runs AS (
            SELECT key, run, CAST(count(*) AS BIGINT) AS len
            FROM rid WHERE m = 1 GROUP BY 1, 2
        ),
        rs AS (
            SELECT key, CAST(count(*) AS BIGINT) AS n_null_runs,
                   max(len) AS longest_null_run
            FROM runs GROUP BY key
        )
        SELECT b.key, n_rows, n_missing,
               {_sr_sql(
                   "CAST(n_missing AS DOUBLE) / CAST(n_rows AS DOUBLE)", 6
               )} AS missing_frac,
               coalesce(n_null_runs, 0) AS n_null_runs,
               coalesce(longest_null_run, 0) AS longest_null_run
        FROM b LEFT JOIN rs ON rs.key = b.key
    """

    o["seasonal_zscore"] = f"""
        WITH obs AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts, value
            FROM events WHERE value IS NOT NULL
        ),
        zz AS (
            SELECT key, ts, value, CAST(hour(ts) AS INT) AS pos,
                   (value - avg(value) OVER wn)
                       / stddev_samp(value) OVER wn AS z
            FROM obs
            WINDOW wn AS (PARTITION BY key, hour(ts))
        )
        SELECT key, ts, value, pos, {_sr_sql("z", 6)} AS z,
               CASE WHEN z IS NOT NULL THEN abs(z) > 2.0 END AS anomaly
        FROM zz
    """

    o["top_drawdowns"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , nn AS (SELECT key, loc, value FROM filled WHERE value IS NOT NULL),
        dd AS (
            SELECT key, loc,
                   value / max(value) OVER (PARTITION BY key ORDER BY loc
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - 1.0 AS d
            FROM nn
        ),
        uw AS (
            SELECT key, loc, d, CASE WHEN d < 0 THEN 1 ELSE 0 END AS u
            FROM dd
        ),
        st AS (
            SELECT key, loc, d, u,
                   CASE WHEN u = 1 AND coalesce(lag(u) OVER
                        (PARTITION BY key ORDER BY loc), 0) = 0
                        THEN 1 ELSE 0 END AS s
            FROM uw
        ),
        sid AS (
            SELECT key, loc, d, u,
                   sum(s) OVER (PARTITION BY key ORDER BY loc
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS spell
            FROM st
        ),
        spells AS (
            SELECT key, spell, min(loc) AS start_loc, max(loc) AS end_loc,
                   CAST(count(*) AS BIGINT) AS n_obs, min(d) AS depth
            FROM sid WHERE u = 1 GROUP BY 1, 2
        )
        SELECT key,
               CAST(row_number() OVER (PARTITION BY key
                    ORDER BY depth ASC, start_loc ASC) AS INT)
                   AS spell_rank,
               start_loc, end_loc, n_obs, {_sr_sql("depth", 6)} AS depth
        FROM spells
        QUALIFY spell_rank <= 3
    """

    o["stickiness"] = f"""
        WITH acts AS (
            SELECT DISTINCT CAST(user_id AS VARCHAR) AS k,
                   CAST(date_trunc('day', ts) AS DATE) AS d
            FROM events
        ),
        dau AS (
            SELECT d AS bucket, CAST(count(DISTINCT k) AS BIGINT) AS dau
            FROM acts GROUP BY 1
        ),
        fan AS (
            SELECT k, d + CAST(o.off AS INT) AS bucket
            FROM acts, unnest(generate_series(0, 6)) AS o(off)
        ),
        mau AS (
            SELECT bucket, CAST(count(DISTINCT k) AS BIGINT) AS mau
            FROM fan GROUP BY 1
        )
        SELECT CAST(dau.bucket AS TIMESTAMP) AS bucket, dau, mau,
               {_sr_sql(
                   "CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE)", 6
               )} AS stickiness
        FROM dau JOIN mau ON mau.bucket = dau.bucket
    """

    o["cohort_values"] = f"""
        WITH acts AS (
            SELECT CAST(user_id AS VARCHAR) AS _k,
                   date_trunc('day', ts) AS _b,
                   coalesce(sum(value), 0.0) AS _s
            FROM events GROUP BY 1, 2
        ),
        fa AS (
            SELECT _k, _b, _s, min(_b) OVER (PARTITION BY _k) AS _cohort
            FROM acts
        ),
        j AS (
            SELECT _k, _cohort,
                   CAST(date_diff('day', _cohort, _b) AS BIGINT) AS _off,
                   _s
            FROM fa
        ),
        tri AS (
            SELECT _cohort AS cohort, _off AS "offset",
                   CAST(count(DISTINCT _k) AS BIGINT) AS n_active,
                   sum(_s) AS value_sum
            FROM j GROUP BY 1, 2
        ),
        cum AS (
            SELECT cohort, "offset", n_active, value_sum,
                   sum(value_sum) OVER (PARTITION BY cohort ORDER BY "offset"
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_value,
                   CAST(max(CASE WHEN "offset" = 0 THEN n_active END)
                        OVER (PARTITION BY cohort) AS BIGINT)
                       AS cohort_size
            FROM tri
        )
        SELECT cohort, "offset", n_active,
               {_sr_sql("value_sum", 6)} AS value_sum,
               {_sr_sql("cum_value", 6)} AS cum_value,
               cohort_size,
               {_sr_sql(
                   "cum_value / CAST(cohort_size AS DOUBLE)", 6
               )} AS cum_value_per_member
        FROM cum
    """

    o["attribution"] = """
        WITH ev AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts, event_type,
                   epoch_us(ts) AS us
            FROM events WHERE event_type IN ('purchase', 'view', 'click')
        ),
        wd AS (
            SELECT key, ts, event_type, us,
                   min(CASE WHEN event_type IN ('view', 'click')
                            THEN {'u': us, 't': event_type} END) OVER w
                       AS fst,
                   max(CASE WHEN event_type IN ('view', 'click')
                            THEN {'u': us, 't': event_type} END) OVER w
                       AS lst,
                   coalesce(sum(CASE WHEN event_type IN ('view', 'click')
                                     THEN 1 ELSE 0 END) OVER w, 0) AS n
            FROM ev
            WINDOW w AS (PARTITION BY key ORDER BY us
                         RANGE BETWEEN 259200000000 PRECEDING
                               AND 1 PRECEDING)
        )
        SELECT key, ts AS conv_ts, CAST(n AS BIGINT) AS n_touches,
               make_timestamp((fst).u) AS first_touch_ts,
               (fst).t AS first_touch_type,
               make_timestamp((lst).u) AS last_touch_ts,
               (lst).t AS last_touch_type
        FROM wd WHERE event_type = 'purchase'
    """

    # heikin-ashi: ha_open = alpha=1/2 adjust=False EMA of the seed-
    # spliced lagged ha_close, replayed by the closed prefix form
    # (the trix/macd chain precedent; q = a = 0.5 exact binary literals)
    o["heikin_ashi"] = """
        WITH bars AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   date_trunc('day', ts) AS bar_ts,
                   first(value ORDER BY ts, value) AS open,
                   max(value) AS high, min(value) AS low,
                   last(value ORDER BY ts, value) AS close
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2
        ),
        hc AS (
            SELECT key, bar_ts, open, high, low, close,
                   (open + high + low + close) / 4.0 AS ha_close
            FROM bars
        ),
        w_ AS (
            SELECT key, bar_ts, high, low, ha_close,
                   coalesce(lag(ha_close) OVER wk,
                            (open + close) / 2.0) AS w,
                   CAST(row_number() OVER wk - 1 AS BIGINT) AS j
            FROM hc
            WINDOW wk AS (PARTITION BY key ORDER BY bar_ts)
        ),
        pre AS (
            SELECT key, bar_ts, high, low, ha_close, j,
                   first_value(w) OVER wk AS w0,
                   SUM(CASE WHEN j >= 1 THEN w / power(0.5, j) END)
                       OVER wp AS s
            FROM w_
            WINDOW wk AS (PARTITION BY key ORDER BY j),
                   wp AS (PARTITION BY key ORDER BY j
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        ha AS (
            SELECT key, bar_ts, high, low, ha_close,
                   power(0.5, j) * (w0 + 0.5 * coalesce(s, 0.0)) AS ha_open
            FROM pre
        )
        SELECT key, bar_ts,
               __SR_HA_OPEN__ AS ha_open,
               __SR_HA_CLOSE__ AS ha_close,
               __SR_HA_HIGH__ AS ha_high,
               __SR_HA_LOW__ AS ha_low
        FROM ha
    """
    o["heikin_ashi"] = (
        o["heikin_ashi"]
        .replace("__SR_HA_OPEN__", _sr_sql("ha_open", 6))
        .replace("__SR_HA_CLOSE__", _sr_sql("ha_close", 6))
        .replace("__SR_HA_HIGH__", _sr_sql(
            "greatest(high, ha_open, ha_close)", 6))
        .replace("__SR_HA_LOW__", _sr_sql(
            "least(low, ha_open, ha_close)", 6))
    )

    o["embedding_outliers"] = f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        idx AS (SELECT CAST(range AS INT) AS dim FROM range(0, 8192)),
        x AS (
            SELECT vec_id, dim, v[dim + 1] AS x
            FROM e JOIN idx ON dim < len(v)
        ),
        c AS (SELECT dim, avg(x) AS c FROM x GROUP BY dim),
        per AS (
            SELECT vec_id, sqrt(sum(x.x * x.x)) AS norm,
                   sum(x.x * c.c) AS dot,
                   sqrt(sum(c.c * c.c)) AS cn
            FROM x JOIN c ON c.dim = x.dim
            GROUP BY vec_id
        ),
        sc AS (
            SELECT vec_id, norm, dot / (norm * cn) AS cos FROM per
        ),
        thr AS (
            SELECT avg(cos) - 2.0 * stddev_samp(cos) AS t FROM sc
        )
        SELECT vec_id, {_sr_sql("norm", 6)} AS norm,
               {_sr_sql("cos", 6)} AS cos_centroid,
               CASE WHEN cos IS NOT NULL THEN cos < t END AS is_outlier
        FROM sc, thr
    """

    # kleinberg bursts: forward Viterbi costs+parents and the backward
    # path walk as two recursive CTEs (the kalman RTS technique —
    # MATERIALIZED forward pass). Every cost is quantized with the same
    # half-up floor form the kernel uses, so the branchy argmin path
    # replays engine-exactly (operators/bursts.py module docstring).
    o["bursts"] = """
        WITH RECURSIVE ev AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts, epoch_us(ts) AS us
            FROM events
        ),
        g0 AS (
            SELECT key, ts, us,
                   us - lag(us) OVER (PARTITION BY key ORDER BY ts) AS gus
            FROM ev
        ),
        g1 AS (SELECT key, ts, us, gus FROM g0 WHERE gus IS NOT NULL),
        km AS (
            SELECT key, CAST(count(*) AS BIGINT) AS m,
                   CAST(sum(gus) AS BIGINT) AS tus
            FROM g1 GROUP BY key
        ),
        gp AS (
            SELECT g1.key, g1.ts, g1.gus, km.m,
                   (km.m * 1e6) / km.tus AS lam0,
                   2.0 * ((km.m * 1e6) / km.tus) AS lam1,
                   1.0 * ln(CAST(km.m AS DOUBLE)) AS tau,
                   CAST(row_number() OVER (PARTITION BY g1.key
                        ORDER BY g1.us) AS BIGINT) AS t
            FROM g1 JOIN km ON km.key = g1.key
            WHERE km.tus > 0
        ),
        fwd(key, t, c0, c1, p0, p1) AS (
            SELECT gp.key, gp.t,
                   floor((-ln(gp.lam0) + gp.lam0 * (gp.gus / 1e6)) * 1000000.0 + 0.5) / 1000000.0,
                   floor((floor((gp.tau) * 1000000.0 + 0.5) / 1000000.0 + (floor((-ln(gp.lam1) + gp.lam1 * (gp.gus / 1e6)) * 1000000.0 + 0.5) / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0,
                   0, 0
            FROM gp WHERE gp.t = 1
            UNION ALL
            SELECT gp.key, gp.t,
                   CASE WHEN f.c0 <= f.c1
                        THEN floor((f.c0 + (floor((-ln(gp.lam0) + gp.lam0 * (gp.gus / 1e6)) * 1000000.0 + 0.5) / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0
                        ELSE floor((f.c1 + (floor((-ln(gp.lam0) + gp.lam0 * (gp.gus / 1e6)) * 1000000.0 + 0.5) / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0
                   END,
                   CASE WHEN floor((floor((f.c0 + (floor((gp.tau) * 1000000.0 + 0.5) / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0 + (floor((-ln(gp.lam1) + gp.lam1 * (gp.gus / 1e6)) * 1000000.0 + 0.5) / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0 <= floor((f.c1 + (floor((-ln(gp.lam1) + gp.lam1 * (gp.gus / 1e6)) * 1000000.0 + 0.5) / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0
                        THEN floor((floor((f.c0 + (floor((gp.tau) * 1000000.0 + 0.5) / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0 + (floor((-ln(gp.lam1) + gp.lam1 * (gp.gus / 1e6)) * 1000000.0 + 0.5) / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0 ELSE floor((f.c1 + (floor((-ln(gp.lam1) + gp.lam1 * (gp.gus / 1e6)) * 1000000.0 + 0.5) / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0
                   END,
                   CASE WHEN f.c0 <= f.c1 THEN 0 ELSE 1 END,
                   CASE WHEN floor((floor((f.c0 + (floor((gp.tau) * 1000000.0 + 0.5) / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0 + (floor((-ln(gp.lam1) + gp.lam1 * (gp.gus / 1e6)) * 1000000.0 + 0.5) / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0 <= floor((f.c1 + (floor((-ln(gp.lam1) + gp.lam1 * (gp.gus / 1e6)) * 1000000.0 + 0.5) / 1000000.0)) * 1000000.0 + 0.5) / 1000000.0 THEN 0 ELSE 1 END
            FROM fwd f JOIN gp ON gp.key = f.key AND gp.t = f.t + 1
        ),
        fwdm AS MATERIALIZED (SELECT * FROM fwd),
        bwd(key, t, s) AS (
            SELECT f.key, f.t,
                   CASE WHEN f.c0 <= f.c1 THEN 0 ELSE 1 END
            FROM fwdm f
            JOIN (SELECT key, max(t) AS mt FROM fwdm GROUP BY key) mx
              ON mx.key = f.key AND mx.mt = f.t
            UNION ALL
            SELECT b.key, b.t - 1,
                   CASE WHEN b.s = 0 THEN f2.p0 ELSE f2.p1 END
            FROM bwd b
            JOIN fwdm f2 ON f2.key = b.key AND f2.t = b.t
            WHERE b.t > 1
        )
        SELECT gp.key, gp.ts,
               __SR_GAP__ AS gap_seconds,
               CAST(b.s AS INT) AS state
        FROM gp JOIN bwd b ON b.key = gp.key AND b.t = gp.t
    """
    o["bursts"] = o["bursts"].replace("__SR_GAP__", _sr_sql("gp.gus / 1e6", 6))

    o["wma"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , nn AS (SELECT key, loc, value FROM filled WHERE value IS NOT NULL),
        wl AS (
            SELECT key, loc, count(*) OVER wn AS c,
                   list(value) OVER wn AS l
            FROM nn
            WINDOW wn AS (PARTITION BY key ORDER BY loc
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT key, loc,
               {_sr_sql(
                   "CASE WHEN c >= 7 THEN "
                   "list_aggregate(list_transform(l, "
                   "(x, i) -> x * CAST(i AS DOUBLE)), 'sum') / 28.0 END", 6
               )} AS wma
        FROM wl
    """

    o["mix_drift"] = f"""
        WITH bc AS (
            SELECT date_trunc('day', ts) AS bucket, event_type AS c,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        corpus AS (
            SELECT event_type AS c,
                   CAST(count(*) AS DOUBLE)
                       / (SELECT count(*) FROM events) AS p
            FROM events GROUP BY 1
        ),
        btot AS (
            SELECT bucket, CAST(sum(n) AS BIGINT) AS bt,
                   CAST(count(*) AS BIGINT) AS n_cats
            FROM bc GROUP BY bucket
        ),
        cells AS (
            SELECT btot.bucket, btot.bt, btot.n_cats,
                   CAST(coalesce(bc.n, 0) AS DOUBLE) AS o,
                   CAST(btot.bt AS DOUBLE) * corpus.p AS e
            FROM btot CROSS JOIN corpus
            LEFT JOIN bc ON bc.bucket = btot.bucket AND bc.c = corpus.c
        )
        SELECT bucket, min(bt) AS n, min(n_cats) AS n_cats,
               {_sr_sql("sum((o - e) * (o - e) / e)", 6)} AS chi2
        FROM cells GROUP BY bucket
    """

    # dup_cluster_stats: the dedup_components transitive closure (the
    # same recursive CTE, verbatim) wrapped in a one-row summary
    o["dup_cluster_stats"] = f"""
        WITH comp AS ({o["dedup_components"]}),
        sizes AS (
            SELECT component, CAST(count(*) AS BIGINT) AS sz
            FROM comp GROUP BY 1
        ),
        a AS (
            SELECT CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_clustered,
                   CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(coalesce(max(sz), 0) AS BIGINT) AS max_cluster,
                   avg(sz) AS mean_cluster
            FROM sizes
        ),
        tot AS (SELECT CAST(count(doc_id) AS BIGINT) AS n_docs FROM documents)
        SELECT n_docs, n_clustered, n_clusters,
               n_clustered - n_clusters AS n_removable,
               {_sr_sql(
                   "CAST(n_clustered - n_clusters AS DOUBLE)"
                   " / CAST(n_docs AS DOUBLE)", 6
               )} AS dup_frac,
               max_cluster,
               {_sr_sql("mean_cluster", 6)} AS mean_cluster
        FROM a, tot
    """

    o["jarque_bera"] = f"""
        WITH obs AS (
            SELECT CAST(user_id AS VARCHAR) AS k, value
            FROM events WHERE value IS NOT NULL
        ),
        c AS (
            SELECT k, value - avg(value) OVER (PARTITION BY k) AS c
            FROM obs
        ),
        a AS (
            SELECT k, CAST(count(*) AS BIGINT) AS n,
                   avg(c * c) AS m2, avg(c * c * c) AS m3,
                   avg(c * c * c * c) AS m4
            FROM c GROUP BY k
        ),
        s AS (
            SELECT k, n,
                   m3 / sqrt(m2 * m2 * m2) AS g1,
                   m4 / (m2 * m2) - 3.0 AS g2
            FROM a WHERE n >= 2
        ),
        j AS (
            SELECT k, n, g1, g2,
                   CAST(n AS DOUBLE) / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
                       AS jb
            FROM s
        )
        SELECT k AS key, n,
               {_sr_sql("g1", 6)} AS skew,
               {_sr_sql("g2", 6)} AS kurt,
               {_sr_sql("jb", 6)} AS jb,
               {_sr_sql("exp(-jb / 2.0)", 6)} AS p_value
        FROM j
    """

    o["mann_whitney"] = f"""
        WITH obs AS (
            SELECT CAST(user_id AS VARCHAR) AS k, ts, value
            FROM events WHERE value IS NOT NULL
        ),
        rk AS (
            SELECT k,
                   row_number() OVER (PARTITION BY k ORDER BY ts)
                       <= ceil(count(*) OVER (PARTITION BY k) / 2.0)
                       AS g1,
                   rank() OVER (PARTITION BY k ORDER BY value)
                       + (count(*) OVER (PARTITION BY k, value) - 1) / 2.0
                       AS r,
                   count(*) OVER (PARTITION BY k, value) AS t
            FROM obs
        ),
        a AS (
            SELECT k,
                   CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n1,
                   CAST(sum(CASE WHEN g1 THEN 0 ELSE 1 END) AS BIGINT)
                       AS n2,
                   sum(CASE WHEN g1 THEN r END) AS r1,
                   sum(t * t - 1) AS tsum
            FROM rk GROUP BY k
        ),
        s AS (
            SELECT k, n1, n2,
                   r1 - n1 * (n1 + 1.0) / 2.0 AS u1,
                   CAST(n1 AS DOUBLE) * n2 / 2.0 AS mu,
                   sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                        * ((n1 + n2 + 1.0)
                           - CAST(tsum AS DOUBLE)
                             / (CAST(n1 + n2 AS DOUBLE)
                                * (n1 + n2 - 1.0)))) AS sig
            FROM a
        )
        SELECT k AS key, n1, n2,
               {_sr_sql("u1", 6)} AS u1,
               {_sr_sql(
                   "sign(u1 - mu)"
                   " * greatest(abs(u1 - mu) - 0.5, 0.0)"
                   " / nullif(sig, 0)", 6
               )} AS z
        FROM s
    """

    o["brown_forsythe"] = f"""
        WITH obs AS (
            SELECT CAST(user_id AS VARCHAR) AS k, dayofweek(ts) AS dow,
                   value
            FROM events WHERE value IS NOT NULL
        ),
        z AS (
            SELECT k, dow,
                   abs(value - quantile_cont(value, 0.5)
                       OVER (PARTITION BY k, dow)) AS z
            FROM obs
        ),
        g AS (
            SELECT k, dow, CAST(count(*) AS BIGINT) AS ni,
                   avg(z) AS zi, sum(z * z) AS zz
            FROM z GROUP BY 1, 2
        ),
        a AS (
            SELECT k, CAST(sum(ni) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS ng,
                   sum(ni * zi) AS sz,
                   sum(CAST(ni AS DOUBLE) * zi * zi) AS bsq,
                   sum(zz - CAST(ni AS DOUBLE) * zi * zi) AS within
            FROM g GROUP BY k
        )
        SELECT k AS key, n, ng AS n_groups,
               ng - 1 AS df1, n - ng AS df2,
               {_sr_sql(
                   "(CAST(n AS DOUBLE) - ng) / (ng - 1.0)"
                   " * (bsq - CAST(n AS DOUBLE)"
                   "   * (sz / CAST(n AS DOUBLE))"
                   "   * (sz / CAST(n AS DOUBLE)))"
                   " / nullif(within, 0)", 6
               )} AS f_stat
        FROM a WHERE ng >= 2
    """

    o["downside_stats"] = _DAILY_GRID_SQL + f"""
        , nn AS (SELECT key, loc, value FROM grid WHERE value IS NOT NULL),
        r0 AS (
            SELECT key,
                   value / lag(value) OVER (PARTITION BY key ORDER BY loc)
                       - 1.0 AS r
            FROM nn
        ),
        r AS (SELECT key, r FROM r0 WHERE r IS NOT NULL),
        a AS (
            SELECT key, CAST(count(*) AS BIGINT) AS n,
                   avg(r) AS mean_ret,
                   sqrt(avg((CASE WHEN r < 0 THEN -r ELSE 0.0 END)
                            * (CASE WHEN r < 0 THEN -r ELSE 0.0 END)))
                       AS ddev,
                   sum(CASE WHEN r > 0 THEN r ELSE 0.0 END) AS gain,
                   sum(CASE WHEN r < 0 THEN -r ELSE 0.0 END) AS loss,
                   avg(CASE WHEN r > 0 THEN 1.0 ELSE 0.0 END) AS win_rate
            FROM r GROUP BY key
        )
        SELECT key, n,
               {_sr_sql("mean_ret", 6)} AS mean_ret,
               {_sr_sql("ddev", 6)} AS downside_dev,
               {_sr_sql("mean_ret / nullif(ddev, 0)", 6)} AS sortino,
               {_sr_sql("gain / nullif(loss, 0)", 6)} AS omega,
               {_sr_sql("win_rate", 6)} AS win_rate
        FROM a
    """

    o["roll_slope"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , wd AS (
            SELECT key, loc,
                   count(*) OVER w AS rows_,
                   covar_samp(CAST(loc AS DOUBLE), value) OVER w AS cov,
                   var_samp(CAST(loc AS DOUBLE)) OVER w AS vx,
                   var_samp(value) OVER w AS vy,
                   avg(value) OVER w AS my,
                   avg(CAST(loc AS DOUBLE)) OVER w AS mx
            FROM filled
            WINDOW w AS (PARTITION BY key ORDER BY loc
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT key, loc,
               {_sr_sql("cov / vx", 6)} AS slope,
               {_sr_sql("my - (cov / vx) * mx", 6)} AS intercept,
               {_sr_sql("cov * cov / (vx * nullif(vy, 0))", 6)} AS r2
        FROM wd WHERE rows_ = 7
    """

    o["spc_rules"] = f"""
        WITH obs AS (
            SELECT CAST(user_id AS VARCHAR) AS k, ts, value
            FROM events WHERE value IS NOT NULL
        ),
        zz AS (
            SELECT k, ts,
                   (value - avg(value) OVER (PARTITION BY k))
                       / stddev_samp(value) OVER (PARTITION BY k) AS z
            FROM obs
        ),
        rr AS (
            SELECT k, ts, z,
                   abs(z) > 3.0 AS rule1,
                   CASE WHEN count(*) OVER w3 >= 3 THEN
                       sum(CASE WHEN z > 2.0 THEN 1 ELSE 0 END) OVER w3 >= 2
                       OR sum(CASE WHEN z < -2.0 THEN 1 ELSE 0 END)
                          OVER w3 >= 2
                   END AS rule2,
                   CASE WHEN count(*) OVER w5 >= 5 THEN
                       sum(CASE WHEN z > 1.0 THEN 1 ELSE 0 END) OVER w5 >= 4
                       OR sum(CASE WHEN z < -1.0 THEN 1 ELSE 0 END)
                          OVER w5 >= 4
                   END AS rule3,
                   CASE WHEN count(*) OVER w8 >= 8 THEN
                       sum(CASE WHEN z > 0.0 THEN 1 ELSE 0 END) OVER w8 >= 8
                       OR sum(CASE WHEN z < 0.0 THEN 1 ELSE 0 END)
                          OVER w8 >= 8
                   END AS rule4
            FROM zz
            WINDOW w3 AS (PARTITION BY k ORDER BY ts
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                   w5 AS (PARTITION BY k ORDER BY ts
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                   w8 AS (PARTITION BY k ORDER BY ts
                          ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
        )
        SELECT k AS key, ts,
               {_sr_sql("z", 6)} AS z,
               CAST(rule1 AS INT) AS rule1,
               CAST(rule2 AS INT) AS rule2,
               CAST(rule3 AS INT) AS rule3,
               CAST(rule4 AS INT) AS rule4
        FROM rr
        WHERE coalesce(rule1, FALSE) OR coalesce(rule2, FALSE)
           OR coalesce(rule3, FALSE) OR coalesce(rule4, FALSE)
    """

    o["edit_dist_pairs"] = f"""
        WITH p AS ({o["ngram_jaccard_pairs"]})
        SELECT p.id_a, p.id_b,
               CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
               {_sr_sql(
                   "1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)"
                   " / greatest(length(da.text), length(db.text))", 6
               )} AS edit_sim
        FROM p
        JOIN documents da ON da.doc_id = p.id_a
        JOIN documents db ON db.doc_id = p.id_b
    """

    o["code_detect"] = f"""
        WITH f AS (
            SELECT doc_id,
                   string_split(text, chr(10)) AS lines,
                   length(text) AS lt,
                   length(text) - length(regexp_replace(
                       text, '[{{}}\\[\\]();=<>]', '', 'g')) AS n_sym,
                   (CASE WHEN contains(text, 'def ') THEN 1 ELSE 0 END
                    + CASE WHEN contains(text, 'return') THEN 1 ELSE 0 END
                    + CASE WHEN contains(text, 'import ') THEN 1 ELSE 0 END
                    + CASE WHEN contains(text, 'function') THEN 1 ELSE 0 END
                    + CASE WHEN contains(text, 'class ') THEN 1 ELSE 0 END
                    + CASE WHEN contains(text, 'void ') THEN 1 ELSE 0 END
                    + CASE WHEN contains(text, '#include') THEN 1 ELSE 0 END
                    + CASE WHEN contains(text, 'const ') THEN 1 ELSE 0 END
                   ) AS kw
            FROM documents
        ),
        g AS (
            SELECT doc_id,
                   CAST(len(lines) AS INT) AS n_lines,
                   len(list_filter(lines,
                       l -> regexp_matches(l, '^(    |\t)'))) AS ind,
                   len(list_filter(lines,
                       l -> regexp_matches(l, '[;{{}}]\\s*$'))) AS eol,
                   n_sym, lt, kw
            FROM f
        ),
        h AS (
            SELECT doc_id, n_lines,
                   ind / CAST(n_lines AS DOUBLE) AS indent_ratio,
                   eol / CAST(n_lines AS DOUBLE) AS eol_ratio,
                   CAST(n_sym AS DOUBLE) / nullif(lt, 0) AS symbol_ratio,
                   kw,
                   ind / CAST(n_lines AS DOUBLE)
                   + eol / CAST(n_lines AS DOUBLE)
                   + least(5.0 * coalesce(
                         CAST(n_sym AS DOUBLE) / nullif(lt, 0), 0.0), 1.0)
                   + least(kw / 4.0, 1.0) AS score
            FROM g
        )
        SELECT doc_id, n_lines,
               {_sr_sql("indent_ratio", 6)} AS indent_ratio,
               {_sr_sql("eol_ratio", 6)} AS eol_ratio,
               {_sr_sql("symbol_ratio", 6)} AS symbol_ratio,
               CAST(kw AS INT) AS kw_hits,
               {_sr_sql("score", 6)} AS code_score,
               CAST(score >= 1.0 AS INT) AS is_code
        FROM h
    """

    o["esd_outliers"] = f"""
        WITH RECURSIVE e AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts, value
            FROM events WHERE value IS NOT NULL
        ),
        esd AS (
            SELECT key, CAST(0 AS INT) AS iter,
                   CAST(NULL AS TIMESTAMP) AS ts_rm,
                   CAST(NULL AS DOUBLE) AS x_rm,
                   CAST(NULL AS DOUBLE) AS r_stat,
                   list(value ORDER BY ts) AS vals,
                   list(ts ORDER BY ts) AS locs
            FROM e GROUP BY key
            UNION ALL
            SELECT key, iter + 1, locs[pos], vals[pos], maxd / sd,
                   vals[1:pos-1] || vals[pos+1:],
                   locs[1:pos-1] || locs[pos+1:]
            FROM (
                SELECT key, iter, vals, locs, sd,
                       list_max(devs) AS maxd,
                       list_indexof(devs, list_max(devs)) AS pos
                FROM (
                    SELECT key, iter, vals, locs,
                           sqrt(list_sum(list_transform(vals,
                                v -> (v - m) * (v - m))) / (n - 1)) AS sd,
                           list_transform(vals, v -> abs(v - m)) AS devs
                    FROM (
                        SELECT key, iter, vals, locs,
                               len(vals) AS n,
                               list_sum(vals) / len(vals) AS m
                        FROM esd WHERE iter < 5 AND len(vals) >= 3
                    )
                ) WHERE sd > 0
            )
        )
        SELECT key, iter, ts_rm AS ts, x_rm AS value,
               {_sr_sql("r_stat", 6)} AS r_stat
        FROM esd WHERE iter >= 1
    """

    # cell-per-step replay of the DTW DP: flat index f walks the
    # (n+1)x(m+1) grid row-major; the state list s carries the last
    # w+1 = m+2 cells, so up-left / up / left are s[1] / s[2] / s[w+1]
    o["dtw_pair"] = _DAILY_GRID_SQL.replace(
        "WITH keys", "WITH RECURSIVE keys", 1
    ) + f"""
        , sa AS (
            SELECT list(value ORDER BY loc) AS a FROM grid
            WHERE key = '1' AND value IS NOT NULL
        ),
        sb AS (
            SELECT list(value ORDER BY loc) AS b FROM grid
            WHERE key = '2' AND value IS NOT NULL
        ),
        init AS (
            SELECT a, b, CAST(len(a) AS BIGINT) AS n,
                   CAST(len(b) AS BIGINT) AS m,
                   CAST(len(b) + 1 AS BIGINT) AS w
            FROM sa, sb
        ),
        dp AS (
            SELECT a, b, n, m, w, w AS f,
                   list_concat(
                       [CAST('infinity' AS DOUBLE), CAST(0.0 AS DOUBLE)],
                       list_transform(range(1, CAST(m AS INT) + 1),
                                      i -> CAST('infinity' AS DOUBLE))
                   ) AS s
            FROM init
            UNION ALL
            SELECT a, b, n, m, w, f + 1,
                   s[2:CAST(w AS INT) + 1] || [
                       CASE WHEN f % w = 0
                            THEN CAST('infinity' AS DOUBLE)
                            ELSE (a[CAST(f // w AS INT)]
                                  - b[CAST(f % w AS INT)])
                                 * (a[CAST(f // w AS INT)]
                                    - b[CAST(f % w AS INT)])
                                 + least(s[1], s[2], s[CAST(w AS INT) + 1])
                       END]
            FROM dp WHERE f <= (n + 1) * w - 1
        )
        SELECT '1' AS key_a, '2' AS key_b, n AS n_a, m AS n_b,
               {_sr_sql("sqrt(s[CAST(w AS INT) + 1])", 6)} AS dtw
        FROM dp WHERE f = (n + 1) * w
    """

    o["pairs_spread"] = _PAIR_LEVELS_SQL + f"""
        , st AS (
            SELECT covar_samp(va, vb) / var_samp(vb) AS beta,
                   avg(va) AS ma, avg(vb) AS mb
            FROM jj
        ),
        sp AS (
            SELECT jj.l AS loc, beta,
                   va - ((ma - beta * mb) + beta * vb) AS spread
            FROM jj, st
        ),
        zz AS (
            SELECT loc, beta, spread,
                   avg(spread) OVER () AS msp,
                   stddev_samp(spread) OVER () AS ssp
            FROM sp
        )
        SELECT '1' AS key_a, '2' AS key_b, loc,
               {_sr_sql("beta", 6)} AS beta,
               {_sr_sql("spread", 6)} AS spread,
               {_sr_sql("(spread - msp) / nullif(ssp, 0)", 6)} AS z
        FROM zz
    """

    o["tail_dependence"] = _PAIR_LEVELS_SQL + f"""
        , th AS (
            SELECT quantile_cont(va, 0.8) AS ta,
                   quantile_cont(vb, 0.8) AS tb,
                   CAST(count(*) AS BIGINT) AS n
            FROM jj
        ),
        ag AS (
            SELECT th.n, th.ta, th.tb,
                   CAST(coalesce(sum(CASE WHEN va > ta AND vb > tb
                                          THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS nj
            FROM jj, th GROUP BY th.n, th.ta, th.tb
        )
        SELECT '1' AS key_a, '2' AS key_b, 0.8 AS q, n,
               {_sr_sql("ta", 6)} AS thresh_a,
               {_sr_sql("tb", 6)} AS thresh_b,
               nj AS n_joint,
               {_sr_sql(
                   "(CAST(nj AS DOUBLE) / CAST(n AS DOUBLE))"
                   " / 0.19999999999999996", 6
               )} AS lambda_u,
               {_sr_sql(
                   "(CAST(nj AS DOUBLE) / CAST(n AS DOUBLE))"
                   " / 0.19999999999999996 / 0.19999999999999996", 6
               )} AS lift
        FROM ag
    """

    o["transition_entropy"] = f"""
        WITH obs AS (
            SELECT CAST(user_id AS VARCHAR) AS k, ts, value
            FROM events WHERE value IS NOT NULL
        ),
        sy AS (
            SELECT k, ts,
                   ntile(4) OVER (PARTITION BY k ORDER BY value, ts) AS s
            FROM obs
        ),
        pr AS (
            SELECT k, s,
                   lag(s) OVER (PARTITION BY k ORDER BY ts) AS p
            FROM sy
        ),
        d AS (SELECT k, p, s FROM pr WHERE p IS NOT NULL),
        g AS (
            SELECT k, p, s, CAST(count(*) AS DOUBLE) AS c
            FROM d GROUP BY 1, 2, 3
        ),
        g2 AS (
            SELECT k, c,
                   sum(c) OVER (PARTITION BY k) AS n,
                   sum(c) OVER (PARTITION BY k, p) AS ni
            FROM g
        ),
        a AS (
            SELECT k, CAST(max(n) AS BIGINT) AS n_trans,
                   -sum(c * (ln(c) - ln(ni))) / max(n)
                       / 0.6931471805599453 AS h_cond,
                   -sum(c * (ln(ni) - ln(n))) / max(n)
                       / 0.6931471805599453 AS h_marginal
            FROM g2 GROUP BY k
        )
        SELECT k AS key, 4 AS bins, n_trans,
               {_sr_sql("h_marginal", 6)} AS h_marginal,
               {_sr_sql("h_cond", 6)} AS h_cond,
               {_sr_sql(
                   "1.0 - h_cond / nullif(h_marginal, 0)", 6
               )} AS predictability
        FROM a
    """

    o["reliability"] = f"""
        WITH q AS ({o["quality_score"]}),
        lab AS (
            SELECT q.quality AS s,
                   CASE WHEN d.lang IS NULL THEN NULL
                        WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
            FROM q JOIN documents d ON d.doc_id = q.doc_id
        ),
        lv AS (SELECT s, y FROM lab
               WHERE s IS NOT NULL AND y IS NOT NULL),
        g AS (
            SELECT CAST(least(floor(s * 10), 9) AS INT) AS bin,
                   CAST(count(*) AS BIGINT) AS n,
                   avg(s) AS ms, avg(y) AS pr
            FROM lv GROUP BY 1
        ),
        ww AS (
            SELECT bin, n,
                   CAST(n AS DOUBLE) / sum(n) OVER () AS w,
                   ms, pr, pr - ms AS gap
            FROM g
        ),
        ee AS (
            SELECT bin, n, w, ms, pr, gap,
                   sum(w * abs(gap)) OVER () AS ece
            FROM ww
        )
        SELECT bin, n,
               {_sr_sql("w", 6)} AS w,
               {_sr_sql("ms", 6)} AS mean_score,
               {_sr_sql("pr", 6)} AS pos_rate,
               {_sr_sql("gap", 6)} AS gap,
               {_sr_sql("ece", 6)} AS ece
        FROM ee
    """

    _TWO_PI = "6.283185307179586"
    o["spectral_residual"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , sbase AS (
            SELECT key, loc, value,
                   count(*) OVER (PARTITION BY key) AS n
            FROM filled
        ),
        sfr AS (
            SELECT key, loc, value, n,
                   unnest(range(0, n)) AS k
            FROM sbase
        ),
        sspec AS (
            SELECT key, k,
                   sum(value * cos({_TWO_PI} * CAST(k AS DOUBLE)
                       * CAST(loc AS DOUBLE) / CAST(n AS DOUBLE))) AS a,
                   sum(-value * sin({_TWO_PI} * CAST(k AS DOUBLE)
                       * CAST(loc AS DOUBLE) / CAST(n AS DOUBLE))) AS b,
                   max(n) AS n
            FROM sfr GROUP BY key, k
        ),
        ssp2 AS (
            SELECT key, k, a, b, n,
                   ln(greatest(sqrt(a * a + b * b), 1e-300)) AS l
            FROM sspec
        ),
        ssp3 AS (
            SELECT key, k, a, b, n,
                   exp(-avg(l) OVER (PARTITION BY key ORDER BY k
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) AS g
            FROM ssp2
        ),
        sbk AS (
            SELECT key, k, a, b, n, g, unnest(range(0, n)) AS t
            FROM ssp3
        ),
        ssal AS (
            SELECT key, t,
                   sum(g * (a * cos({_TWO_PI} * CAST(k AS DOUBLE)
                       * CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
                       - b * sin({_TWO_PI} * CAST(k AS DOUBLE)
                       * CAST(t AS DOUBLE) / CAST(n AS DOUBLE)))) AS re,
                   sum(g * (a * sin({_TWO_PI} * CAST(k AS DOUBLE)
                       * CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
                       + b * cos({_TWO_PI} * CAST(k AS DOUBLE)
                       * CAST(t AS DOUBLE) / CAST(n AS DOUBLE)))) AS im,
                   max(n) AS n2
            FROM sbk GROUP BY key, t
        ),
        ss2 AS (
            SELECT key, t,
                   sqrt(re * re + im * im) / CAST(n2 AS DOUBLE)
                       AS saliency
            FROM ssal
        ),
        sz AS (
            SELECT key, t, saliency,
                   avg(saliency) OVER (PARTITION BY key) AS ms,
                   stddev_samp(saliency) OVER (PARTITION BY key) AS ss
            FROM ss2
        )
        SELECT key, CAST(t AS BIGINT) AS loc,
               {_sr_sql("saliency", 6)} AS saliency,
               {_sr_sql("(saliency - ms) / nullif(ss, 0)", 6)} AS sal_z
        FROM sz
    """

    _COMPLETE_PANEL_SQL = _DAILY_GRID_SQL + _FILLED_SQL + """
        , cp AS (SELECT key, loc, value FROM filled
                 WHERE value IS NOT NULL)
    """

    o["kendall_w"] = _COMPLETE_PANEL_SQL + f"""
        , ka AS (SELECT CAST(count(DISTINCT key) AS BIGINT) AS k_all
                 FROM cp),
        cpl AS (
            SELECT cp.key, cp.loc, cp.value FROM cp, ka
            WHERE (SELECT count(*) FROM cp c2 WHERE c2.loc = cp.loc)
                  = ka.k_all
        ),
        rk AS (
            SELECT loc,
                   rank() OVER (PARTITION BY key ORDER BY value)
                       + (count(*) OVER (PARTITION BY key, value) - 1)
                         / 2.0 AS r,
                   count(*) OVER (PARTITION BY key, value)
                       * count(*) OVER (PARTITION BY key, value) - 1
                       AS tt
            FROM cpl
        ),
        g AS (
            SELECT loc, sum(r) AS rsum, sum(tt) AS t1,
                   CAST(count(*) AS BIGINT) AS k
            FROM rk GROUP BY loc
        ),
        a AS (
            SELECT max(k) AS k, CAST(count(*) AS BIGINT) AS n,
                   sum(rsum * rsum)
                       - sum(rsum) * sum(rsum) / count(*) AS s,
                   CAST(sum(t1) AS DOUBLE) AS tsum
            FROM g
        )
        SELECT k, n,
               {_sr_sql(
                   "12.0 * s / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)"
                   " * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
                   "    * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))"
                   " - CAST(k AS DOUBLE) * tsum)", 6
               )} AS w
        FROM a
    """

    o["cronbach_alpha"] = _COMPLETE_PANEL_SQL + f"""
        , ka AS (SELECT CAST(count(DISTINCT key) AS BIGINT) AS k_all
                 FROM cp),
        cpl AS (
            SELECT cp.key, cp.loc, cp.value FROM cp, ka
            WHERE (SELECT count(*) FROM cp c2 WHERE c2.loc = cp.loc)
                  = ka.k_all
        ),
        pv AS (
            SELECT CAST(count(*) AS BIGINT) AS k, sum(v) AS vsum
            FROM (SELECT key, var_samp(value) AS v FROM cpl
                  GROUP BY key)
        ),
        tv AS (
            SELECT CAST(count(*) AS BIGINT) AS n, var_samp(s) AS vt
            FROM (SELECT loc, sum(value) AS s FROM cpl GROUP BY loc)
        )
        SELECT k, n,
               {_sr_sql(
                   "CAST(k AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0)"
                   " * (1.0 - vsum / nullif(vt, 0))", 6
               )} AS alpha
        FROM pv, tv
    """

    o["powerlaw_alpha"] = f"""
        WITH obs AS (
            SELECT CAST(user_id AS VARCHAR) AS k, value
            FROM events WHERE value IS NOT NULL AND value > 0
        ),
        x AS (
            SELECT k, value,
                   quantile_cont(value, 0.75)
                       OVER (PARTITION BY k) AS xmin
            FROM obs
        ),
        a AS (
            SELECT k, max(xmin) AS xmin,
                   CAST(sum(CASE WHEN value >= xmin THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_tail,
                   sum(CASE WHEN value >= xmin
                            THEN ln(value / xmin) END) AS lsum
            FROM x GROUP BY k
        )
        SELECT k AS key,
               {_sr_sql("xmin", 6)} AS xmin,
               n_tail,
               {_sr_sql(
                   "1.0 + CAST(n_tail AS DOUBLE) / nullif(lsum, 0)", 6
               )} AS alpha,
               {_sr_sql(
                   "(1.0 + CAST(n_tail AS DOUBLE) / nullif(lsum, 0)"
                   " - 1.0) / sqrt(CAST(n_tail AS DOUBLE))", 6
               )} AS se
        FROM a
    """

    o["wasserstein"] = f"""
        WITH obs AS (
            SELECT CAST(user_id AS VARCHAR) AS k, ts, value AS v
            FROM events WHERE value IS NOT NULL
        ),
        d AS (
            SELECT k, v, ts,
                   row_number() OVER (PARTITION BY k ORDER BY ts)
                       <= ceil(count(*) OVER (PARTITION BY k) / 2.0)
                       AS g1
            FROM obs
        ),
        c AS (
            SELECT k, v,
                   sum(CASE WHEN g1 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY k) AS n1,
                   sum(CASE WHEN g1 THEN 0 ELSE 1 END)
                       OVER (PARTITION BY k) AS n2,
                   sum(CASE WHEN g1 THEN 1 ELSE 0 END) OVER wv AS c1,
                   sum(CASE WHEN g1 THEN 0 ELSE 1 END) OVER wv AS c2,
                   lead(v) OVER wv AS nx
            FROM d
            WINDOW wv AS (PARTITION BY k ORDER BY v, ts)
        ),
        a AS (
            SELECT k, CAST(max(n1) AS BIGINT) AS n1,
                   CAST(max(n2) AS BIGINT) AS n2,
                   sum(CASE WHEN nx IS NOT NULL THEN
                       abs(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                           - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                       * (nx - v) ELSE 0.0 END) AS w1,
                   max(v) - min(v) AS vrange
            FROM c GROUP BY k
        )
        SELECT k AS key, n1, n2,
               {_sr_sql("w1", 6)} AS w1,
               {_sr_sql("w1 / nullif(vrange, 0)", 6)} AS w1_norm
        FROM a
    """

    o["dedup_sweep"] = f"""
        WITH p AS ({o["ngram_jaccard_pairs"]}),
        t AS (SELECT unnest([0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                  AS threshold),
        e AS (
            SELECT p.id_a, p.id_b, t.threshold
            FROM p, t WHERE p.jaccard >= t.threshold
        ),
        g AS (
            SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(count(DISTINCT id_b) AS BIGINT)
                       AS n_docs_flagged
            FROM e GROUP BY 1
        ),
        nd AS (SELECT CAST(count(doc_id) AS BIGINT) AS ndocs
               FROM documents)
        SELECT threshold, n_pairs, n_docs_flagged,
               {_sr_sql(
                   "CAST(n_docs_flagged AS DOUBLE)"
                   " / CAST(ndocs AS DOUBLE)", 6
               )} AS flagged_frac
        FROM g, nd
    """

    o["quality_token_curve"] = f"""
        WITH q AS ({o["quality_score"]}),
        tk AS (
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                   END AS t
            FROM documents
        ),
        s AS (
            SELECT q.doc_id AS id, q.quality AS qq, tk.t
            FROM q JOIN tk USING (doc_id)
            WHERE q.quality IS NOT NULL
        ),
        d AS (
            SELECT id, qq, t,
                   CAST(ntile(10) OVER wo AS INT) AS decile,
                   sum(t) OVER wo AS cum,
                   sum(t) OVER () AS tot
            FROM s
            WINDOW wo AS (ORDER BY qq DESC, id ASC)
        ),
        g AS (
            SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
                   min(qq) AS score_floor,
                   CAST(max(cum) AS BIGINT) AS cum_tokens,
                   CAST(max(tot) AS DOUBLE) AS tot
            FROM d GROUP BY 1
        )
        SELECT decile, n_docs,
               {_sr_sql("score_floor", 6)} AS score_floor,
               cum_tokens,
               {_sr_sql("CAST(cum_tokens AS DOUBLE) / tot", 6)}
                   AS token_frac
        FROM g
    """

    o["source_rank_gap"] = f"""
        WITH q AS ({o["quality_score"]}),
        sv AS (
            SELECT d.source AS grp, q.quality AS v
            FROM q JOIN documents d USING (doc_id)
            WHERE q.quality IS NOT NULL AND d.source IS NOT NULL
        ),
        r1 AS (
            SELECT grp, v,
                   rank() OVER (ORDER BY v)
                       + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS r,
                   count(*) OVER (PARTITION BY v) AS t,
                   count(*) OVER () AS nn
            FROM sv
        ),
        r2 AS (
            SELECT *, sum(t * t - 1) OVER () AS tsall FROM r1
        ),
        g AS (
            SELECT grp, CAST(count(*) AS BIGINT) AS n, avg(v) AS mv,
                   sum(r) AS r1s, max(nn) AS nn, max(tsall) AS ts
            FROM r2 GROUP BY grp
        ),
        st AS (
            SELECT grp, n, mv,
                   r1s - n * (n + 1.0) / 2.0 AS u1,
                   CAST(n AS DOUBLE) * (nn - n) / 2.0 AS mu,
                   sqrt(CAST(n AS DOUBLE) * (nn - n) / 12.0
                        * ((nn + 1.0) - CAST(ts AS DOUBLE)
                           / (CAST(nn AS DOUBLE) * (nn - 1.0)))) AS sig
            FROM g
        )
        SELECT grp AS source, n,
               {_sr_sql("mv", 6)} AS mean_value,
               {_sr_sql("u1", 6)} AS u1,
               {_sr_sql(
                   "sign(u1 - mu)"
                   " * greatest(abs(u1 - mu) - 0.5, 0.0)"
                   " / nullif(sig, 0)", 6
               )} AS z
        FROM st
    """

    o["record_stats"] = f"""
        WITH obs AS (
            SELECT CAST(user_id AS VARCHAR) AS k, ts, value
            FROM events WHERE value IS NOT NULL
        ),
        d AS (
            SELECT k, ts,
                   max(value) OVER (PARTITION BY k ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS pm,
                   value,
                   1.0 / CAST(row_number() OVER (PARTITION BY k
                       ORDER BY ts) AS DOUBLE) AS h
            FROM obs
        ),
        e AS (
            SELECT k, ts, h,
                   (pm IS NULL OR value > pm) AS rec
            FROM d
        ),
        a AS (
            SELECT k, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN rec THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_records,
                   sum(h) AS expected_records,
                   max(CASE WHEN rec THEN ts END) AS last_ts
            FROM e GROUP BY k
        )
        SELECT k AS key, n, n_records,
               {_sr_sql("expected_records", 6)} AS expected_records,
               {_sr_sql(
                   "CAST(n_records AS DOUBLE)"
                   " / nullif(expected_records, 0)", 6
               )} AS record_ratio,
               last_ts AS last_record_ts
        FROM a
    """

    o["lead_lag"] = _DAILY_GRID_SQL + f"""
        , a AS (SELECT loc, value FROM grid WHERE key = '1'),
        b AS (SELECT loc, value FROM grid WHERE key = '2'),
        j AS (
            SELECT a.loc, a.value AS av, b.value AS bv
            FROM a JOIN b USING (loc)
        ),
        lagged AS (
            SELECT loc, av, bv, lag(bv, 1) OVER (ORDER BY loc) AS bv1, lag(av, 1) OVER (ORDER BY loc) AS av1, lag(bv, 2) OVER (ORDER BY loc) AS bv2, lag(av, 2) OVER (ORDER BY loc) AS av2, lag(bv, 3) OVER (ORDER BY loc) AS bv3, lag(av, 3) OVER (ORDER BY loc) AS av3, lag(bv, 4) OVER (ORDER BY loc) AS bv4, lag(av, 4) OVER (ORDER BY loc) AS av4, lag(bv, 5) OVER (ORDER BY loc) AS bv5, lag(av, 5) OVER (ORDER BY loc) AS av5, lag(bv, 6) OVER (ORDER BY loc) AS bv6, lag(av, 6) OVER (ORDER BY loc) AS av6, lag(bv, 7) OVER (ORDER BY loc) AS bv7, lag(av, 7) OVER (ORDER BY loc) AS av7
            FROM j
        ),
        m AS (
            SELECT corr(av, bv) AS c0, corr(av, bv1) AS cp1, corr(bv, av1) AS cm1, corr(av, bv2) AS cp2, corr(bv, av2) AS cm2, corr(av, bv3) AS cp3, corr(bv, av3) AS cm3, corr(av, bv4) AS cp4, corr(bv, av4) AS cm4, corr(av, bv5) AS cp5, corr(bv, av5) AS cm5, corr(av, bv6) AS cp6, corr(bv, av6) AS cm6, corr(av, bv7) AS cp7, corr(bv, av7) AS cm7
            FROM lagged
        ),
        allr AS (SELECT 0 AS lag, c0 AS ccf FROM m UNION ALL SELECT 1, cp1 FROM m UNION ALL SELECT -1, cm1 FROM m UNION ALL SELECT 2, cp2 FROM m UNION ALL SELECT -2, cm2 FROM m UNION ALL SELECT 3, cp3 FROM m UNION ALL SELECT -3, cm3 FROM m UNION ALL SELECT 4, cp4 FROM m UNION ALL SELECT -4, cm4 FROM m UNION ALL SELECT 5, cp5 FROM m UNION ALL SELECT -5, cm5 FROM m UNION ALL SELECT 6, cp6 FROM m UNION ALL SELECT -6, cm6 FROM m UNION ALL SELECT 7, cp7 FROM m UNION ALL SELECT -7, cm7 FROM m),
        pick AS (
            SELECT lag, ccf FROM allr WHERE ccf IS NOT NULL
            ORDER BY round(abs(ccf), 6) DESC, abs(lag) ASC, lag DESC
            LIMIT 1
        )
        SELECT '1' AS key_a, '2' AS key_b,
               CAST(lag AS INT) AS best_lag,
               {_sr_sql("ccf", 6)} AS ccf
        FROM pick
    """

    o["allan_variance"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , av_e AS (
            SELECT key, loc, value, unnest([2, 4, 8]) AS tau
            FROM filled
        ),
        av_g AS (
            SELECT key, tau,
                   CAST(floor(CAST(loc AS DOUBLE) / tau) AS BIGINT)
                       AS blk,
                   count(*) AS c, avg(value) AS m
            FROM av_e GROUP BY 1, 2, 3
        ),
        av_c AS (SELECT * FROM av_g WHERE c = tau),
        av_d AS (
            SELECT key, tau, blk, m,
                   lag(m) OVER w AS pm, lag(blk) OVER w AS pb
            FROM av_c
            WINDOW w AS (PARTITION BY key, tau ORDER BY blk)
        ),
        av_a AS (
            SELECT key, tau, CAST(count(*) AS BIGINT) AS n_blocks,
                   CAST(count(CASE WHEN pb = blk - 1 THEN 1 END)
                        AS BIGINT) AS n_pairs,
                   avg(CASE WHEN pb = blk - 1
                            THEN (m - pm) * (m - pm) END) / 2.0 AS avar
            FROM av_d GROUP BY 1, 2
        )
        SELECT key, tau, n_blocks, n_pairs,
               {_sr_sql("avar", 6)} AS avar,
               {_sr_sql("sqrt(avar)", 6)} AS adev
        FROM av_a
    """

    o["ma_cross"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , mc AS (
            SELECT key, loc, value,
                   CASE WHEN count(*) OVER wf >= 3
                        THEN avg(value) OVER wf END AS fast_ma,
                   CASE WHEN count(*) OVER wl >= 7
                        THEN avg(value) OVER wl END AS slow_ma
            FROM filled
            WINDOW wf AS (PARTITION BY key ORDER BY loc
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                   wl AS (PARTITION BY key ORDER BY loc
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ),
        sg AS (
            SELECT key, loc, value, fast_ma, slow_ma,
                   sign(fast_ma - slow_ma) AS sgn,
                   lag(sign(fast_ma - slow_ma)) OVER
                       (PARTITION BY key ORDER BY loc) AS psgn
            FROM mc
        )
        SELECT key, loc,
               {_sr_sql("value", 6)} AS value,
               {_sr_sql("fast_ma", 6)} AS fast_ma,
               {_sr_sql("slow_ma", 6)} AS slow_ma,
               CAST(sgn AS INT) AS signal
        FROM sg
        WHERE sgn IS NOT NULL AND psgn IS NOT NULL
          AND sgn <> psgn AND sgn <> 0
    """

    o["circadian_stats"] = f"""
        WITH ev AS (
            SELECT CAST(user_id AS VARCHAR) AS k, ts
            FROM events WHERE ts IS NOT NULL
        ),
        th AS (
            SELECT k, hour(ts) AS h,
                   6.283185307179586
                       * CAST(hour(ts) * 3600 + minute(ts) * 60
                              + second(ts) AS DOUBLE) / 86400.0 AS theta
            FROM ev
        ),
        g AS (
            SELECT k, h, CAST(count(*) AS BIGINT) AS c,
                   sum(sin(theta)) AS s, sum(cos(theta)) AS co
            FROM th GROUP BY 1, 2
        ),
        a AS (
            SELECT k, CAST(sum(c) AS BIGINT) AS n,
                   sum(s) AS ss, sum(co) AS cc,
                   max({{'c': c, 'h': h}}) AS pk
            FROM g GROUP BY k
        )
        SELECT k AS key, n,
               {_sr_sql(
                   "(atan2(ss, cc) / 6.283185307179586 * 24.0 + 24.0)"
                   " % 24.0", 6
               )} AS mean_hour,
               {_sr_sql(
                   "sqrt(ss * ss + cc * cc) / CAST(n AS DOUBLE)", 6
               )} AS resultant,
               {_sr_sql(
                   "1.0 - sqrt(ss * ss + cc * cc) / CAST(n AS DOUBLE)", 6
               )} AS circ_var,
               {_sr_sql(
                   "CAST(pk.c AS DOUBLE) / CAST(n AS DOUBLE) * 24.0", 6
               )} AS peak_ratio
        FROM a
    """

    o["conformal_interval"] = f"""
        WITH obs AS (
            SELECT CAST(user_id AS VARCHAR) AS k, ts, value
            FROM events WHERE value IS NOT NULL
        ),
        d0 AS (
            SELECT k, ts, value,
                   lag(value, 1) OVER (PARTITION BY k ORDER BY ts)
                       AS pred
            FROM obs
        ),
        d AS (
            SELECT k, ts, value, pred,
                   max(ts) OVER (PARTITION BY k) AS maxts
            FROM d0 WHERE pred IS NOT NULL
        ),
        a AS (
            SELECT k,
                   CAST(count(CASE WHEN ts < maxts THEN 1 END)
                        AS BIGINT) AS n_cal,
                   list_sort(list(CASE WHEN ts < maxts
                                       THEN abs(value - pred) END))
                       AS scores,
                   arg_max(pred, ts) AS pred,
                   arg_max(value, ts) AS actual
            FROM d GROUP BY k
        ),
        q AS (
            SELECT k, n_cal, pred, actual,
                   CASE WHEN n_cal >= 1
                             AND CAST(ceil((n_cal + 1) * 0.9) AS INT)
                                 <= n_cal
                        THEN scores[CAST(ceil((n_cal + 1) * 0.9)
                                         AS INT)]
                   END AS qhat
            FROM a WHERE n_cal >= 1
        )
        SELECT k AS key, n_cal,
               {_sr_sql("pred", 6)} AS pred,
               {_sr_sql("actual", 6)} AS actual,
               {_sr_sql("qhat", 6)} AS qhat,
               {_sr_sql("pred - qhat", 6)} AS lo,
               {_sr_sql("pred + qhat", 6)} AS hi,
               CASE WHEN qhat IS NULL THEN NULL
                    WHEN actual >= pred - qhat AND actual <= pred + qhat
                    THEN 1 ELSE 0 END AS covered
        FROM q
    """

    o["kaplan_meier"] = f"""
        WITH s AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup'
                            THEN epoch_us(ts) END) AS st
            FROM events GROUP BY 1
        ),
        h AS (SELECT max(epoch_us(ts)) AS hor FROM events),
        e AS (
            SELECT ev.user_id, min(epoch_us(ev.ts)) AS en
            FROM events ev JOIN s ON s.user_id = ev.user_id
            WHERE ev.event_type = 'purchase' AND epoch_us(ev.ts) >= s.st
            GROUP BY 1
        ),
        t AS (
            SELECT CAST(ceil(CAST(coalesce(en, hor) - st AS DOUBLE)
                             / 3600000000.0) AS BIGINT) AS duration,
                   CASE WHEN en IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM s CROSS JOIN h LEFT JOIN e ON e.user_id = s.user_id
            WHERE st IS NOT NULL
        ),
        g AS (
            SELECT duration, CAST(sum(ev) AS BIGINT) AS n_events,
                   CAST(sum(1 - ev) AS BIGINT) AS n_censored
            FROM t GROUP BY 1
        ),
        k AS (
            SELECT duration, n_events, n_censored,
                   CAST(sum(n_events + n_censored) OVER ()
                        - coalesce(sum(n_events + n_censored) OVER (
                              ORDER BY duration ROWS BETWEEN UNBOUNDED
                              PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS n_risk
            FROM g
        ),
        f AS (
            SELECT duration, n_risk, n_events, n_censored,
                   1.0 - CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
                       AS fac
            FROM k
        )
        SELECT duration, n_risk, n_events, n_censored,
               {_sr_sql(
                   "CASE WHEN min(fac) OVER cum <= 0.0 THEN 0.0"
                   " ELSE exp(sum(ln(CASE WHEN fac > 0.0 THEN fac"
                   " ELSE 1.0 END)) OVER cum) END", 6
               )} AS survival
        FROM f
        WINDOW cum AS (ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW)
    """

    from spark_timeseries_spark.operators.smoothing import savgol_coeffs
    _sg = savgol_coeffs(7, 2)
    _sg_terms = " + ".join(
        f"CAST({c!r} AS DOUBLE) * "
        + (
            f"lag(value, {-k}) OVER wk"
            if k < 0
            else (f"lead(value, {k}) OVER wk" if k > 0 else "value")
        )
        for k, c in zip(range(-3, 4), _sg)
    )
    o["haar_energy"] = _DAILY_GRID_SQL + f""",
        pts AS (
            SELECT key, value,
                   CAST(row_number() OVER (PARTITION BY key ORDER BY loc)
                        - 1 AS BIGINT) AS j
            FROM grid WHERE value IS NOT NULL
        ),
        lv AS (
            SELECT key, value, j, level
            FROM pts, unnest([1, 2, 3, 4]) AS t(level)
        ),
        co AS (
            SELECT key, level, j // (1 << level) AS b,
                   CAST(count(*) AS BIGINT) AS cnt,
                   sum(CASE WHEN j % (1 << level) < (1 << (level - 1))
                            THEN value ELSE -value END)
                   / sqrt(CAST((1 << level) AS DOUBLE)) AS d
            FROM lv GROUP BY 1, 2, 3
        ),
        fu AS (SELECT * FROM co WHERE cnt = (1 << level)),
        en AS (
            SELECT key, CAST(level AS INT) AS level,
                   CAST(count(*) AS BIGINT) AS n_coeffs,
                   sum(d * d) AS energy
            FROM fu GROUP BY 1, 2
        )
        SELECT key, level, n_coeffs,
               {_sr_sql("energy", 6)} AS energy,
               {_sr_sql(
                   "energy / nullif(sum(energy)"
                   " OVER (PARTITION BY key), 0)", 6
               )} AS energy_frac
        FROM en
    """

    o["mutual_information"] = _DAILY_GRID_SQL + f""",
        wide AS (
            SELECT loc,
                   max(CASE WHEN key = '1' THEN value END) AS va,
                   max(CASE WHEN key = '2' THEN value END) AS vb
            FROM grid WHERE value IS NOT NULL AND key IN ('1', '2')
            GROUP BY 1
        ),
        wf AS (
            SELECT * FROM wide WHERE va IS NOT NULL AND vb IS NOT NULL
        ),
        med AS (
            SELECT quantile_cont(va, 0.5) AS ma,
                   quantile_cont(vb, 0.5) AS mb
            FROM wf
        ),
        st AS (
            SELECT CAST(va > ma AS INT) AS x, CAST(vb > mb AS INT) AS y
            FROM wf CROSS JOIN med
        ),
        jt AS (
            SELECT x, y, CAST(count(*) AS BIGINT) AS nxy
            FROM st GROUP BY 1, 2
        ),
        tw AS (
            SELECT nxy, sum(nxy) OVER (PARTITION BY x) AS nx,
                   sum(nxy) OVER (PARTITION BY y) AS ny,
                   sum(nxy) OVER () AS nn
            FROM jt
        ),
        ag AS (
            SELECT sum(CAST(nxy AS DOUBLE) / CAST(nn AS DOUBLE)
                       * ln(CAST(nxy AS DOUBLE) * CAST(nn AS DOUBLE)
                            / (CAST(nx AS DOUBLE)
                               * CAST(ny AS DOUBLE)))) AS mi,
                   sum(-(CAST(nxy AS DOUBLE) / CAST(nn AS DOUBLE))
                       * ln(CAST(nx AS DOUBLE) / CAST(nn AS DOUBLE)))
                       AS hx,
                   sum(-(CAST(nxy AS DOUBLE) / CAST(nn AS DOUBLE))
                       * ln(CAST(ny AS DOUBLE) / CAST(nn AS DOUBLE)))
                       AS hy,
                   first(nn) AS n
            FROM tw
        )
        SELECT '1' AS key_a, '2' AS key_b, CAST(n AS BIGINT) AS n,
               {_sr_sql("mi", 6)} AS mi,
               {_sr_sql(
                   "CASE WHEN hx > 0 AND hy > 0 THEN"
                   " mi / sqrt(hx * hy) END", 6
               )} AS nmi
        FROM ag
    """

    o["transfer_entropy"] = _DAILY_GRID_SQL + f""",
        wide AS (
            SELECT loc,
                   max(CASE WHEN key = '1' THEN value END) AS va,
                   max(CASE WHEN key = '2' THEN value END) AS vb
            FROM grid WHERE value IS NOT NULL AND key IN ('1', '2')
            GROUP BY 1
        ),
        wf AS (
            SELECT * FROM wide WHERE va IS NOT NULL AND vb IS NOT NULL
        ),
        med AS (
            SELECT quantile_cont(va, 0.5) AS ma,
                   quantile_cont(vb, 0.5) AS mb
            FROM wf
        ),
        st AS (
            SELECT loc, CAST(va > ma AS INT) AS x,
                   CAST(vb > mb AS INT) AS y
            FROM wf CROSS JOIN med
        ),
        ld AS (
            SELECT x, y, lead(y) OVER (ORDER BY loc) AS yn,
                   lead(x) OVER (ORDER BY loc) AS xn
            FROM st
        ),
        tr AS (SELECT * FROM ld WHERE yn IS NOT NULL),
        t1 AS (
            SELECT yn AS s1, y AS s0, x AS sx,
                   CAST(count(*) AS BIGINT) AS n3
            FROM tr GROUP BY 1, 2, 3
        ),
        t1w AS (
            SELECT n3, sum(n3) OVER (PARTITION BY s0) AS ny,
                   sum(n3) OVER (PARTITION BY s0, sx) AS nyx,
                   sum(n3) OVER (PARTITION BY s1, s0) AS ny1y,
                   sum(n3) OVER () AS nn
            FROM t1
        ),
        a1 AS (
            SELECT sum(CAST(n3 AS DOUBLE) / CAST(nn AS DOUBLE)
                       * ln(CAST(n3 AS DOUBLE) * CAST(ny AS DOUBLE)
                            / (CAST(nyx AS DOUBLE)
                               * CAST(ny1y AS DOUBLE)))) AS te_ab,
                   first(nn) AS n
            FROM t1w
        ),
        t2 AS (
            SELECT xn AS s1, x AS s0, y AS sx,
                   CAST(count(*) AS BIGINT) AS n3
            FROM tr GROUP BY 1, 2, 3
        ),
        t2w AS (
            SELECT n3, sum(n3) OVER (PARTITION BY s0) AS ny,
                   sum(n3) OVER (PARTITION BY s0, sx) AS nyx,
                   sum(n3) OVER (PARTITION BY s1, s0) AS ny1y,
                   sum(n3) OVER () AS nn
            FROM t2
        ),
        a2 AS (
            SELECT sum(CAST(n3 AS DOUBLE) / CAST(nn AS DOUBLE)
                       * ln(CAST(n3 AS DOUBLE) * CAST(ny AS DOUBLE)
                            / (CAST(nyx AS DOUBLE)
                               * CAST(ny1y AS DOUBLE)))) AS te_ba
            FROM t2w
        )
        SELECT '1' AS key_a, '2' AS key_b, CAST(n AS BIGINT) AS n,
               {_sr_sql("te_ab", 6)} AS te_ab,
               {_sr_sql("te_ba", 6)} AS te_ba,
               {_sr_sql("te_ab - te_ba", 6)} AS net
        FROM a1 CROSS JOIN a2
    """

    o["k_anonymity"] = """
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
               count(*) >= 10 AS anonymous
        FROM documents GROUP BY 1, 2
    """

    o["profile_columns"] = f"""
        WITH n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events)
        SELECT 'user_id' AS column, n,
               CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               {_sr_sql(
                   "sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)"
                   " / CAST(n AS DOUBLE)", 6
               )} AS null_frac,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
               CAST(min(user_id) AS VARCHAR) AS min_val,
               CAST(max(user_id) AS VARCHAR) AS max_val
        FROM events CROSS JOIN n_ GROUP BY n
        UNION ALL
        SELECT 'event_type', n,
               CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               {_sr_sql(
                   "sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)"
                   " / CAST(n AS DOUBLE)", 6
               )},
               CAST(count(DISTINCT event_type) AS BIGINT),
               CAST(min(event_type) AS VARCHAR),
               CAST(max(event_type) AS VARCHAR)
        FROM events CROSS JOIN n_ GROUP BY n
        UNION ALL
        SELECT 'value', n,
               CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               {_sr_sql(
                   "sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)"
                   " / CAST(n AS DOUBLE)", 6
               )},
               CAST(count(DISTINCT value) AS BIGINT),
               CAST(min(value) AS VARCHAR),
               CAST(max(value) AS VARCHAR)
        FROM events CROSS JOIN n_ GROUP BY n
    """

    o["pagerank"] = f"""
        WITH p AS ({o['ngram_jaccard_pairs']}),
        ed AS (
            SELECT id_a AS src, id_b AS dst FROM p
            UNION
            SELECT id_b AS src, id_a AS dst FROM p
        ),
        nodes AS (SELECT DISTINCT src AS id FROM ed),
        nn AS (SELECT count(*) AS n FROM nodes),
        deg AS (
            SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
            FROM ed GROUP BY 1
        ),
        pr0 AS (
            SELECT id, CAST(1000000 // n AS BIGINT) AS pr
            FROM nodes CROSS JOIN nn
        ),
        c1 AS (
            SELECT e.dst AS id, SUM(pp.pr // d.deg) AS s
            FROM ed e
            JOIN pr0 pp ON pp.id = e.src
            JOIN deg d ON d.id = e.src
            GROUP BY 1
        ),
        pr1 AS (
            SELECT n.id,
                   CAST((3000000 // (20 * nn.n))
                        + (17 * coalesce(c.s, 0)) // 20 AS BIGINT) AS pr
            FROM nodes n CROSS JOIN nn
            LEFT JOIN c1 c ON c.id = n.id
        ),
        c2 AS (
            SELECT e.dst AS id, SUM(pp.pr // d.deg) AS s
            FROM ed e
            JOIN pr1 pp ON pp.id = e.src
            JOIN deg d ON d.id = e.src
            GROUP BY 1
        ),
        pr2 AS (
            SELECT n.id,
                   CAST((3000000 // (20 * nn.n))
                        + (17 * coalesce(c.s, 0)) // 20 AS BIGINT) AS pr
            FROM nodes n CROSS JOIN nn
            LEFT JOIN c2 c ON c.id = n.id
        ),
        c3 AS (
            SELECT e.dst AS id, SUM(pp.pr // d.deg) AS s
            FROM ed e
            JOIN pr2 pp ON pp.id = e.src
            JOIN deg d ON d.id = e.src
            GROUP BY 1
        ),
        pr3 AS (
            SELECT n.id,
                   CAST((3000000 // (20 * nn.n))
                        + (17 * coalesce(c.s, 0)) // 20 AS BIGINT) AS pr
            FROM nodes n CROSS JOIN nn
            LEFT JOIN c3 c ON c.id = n.id
        ),
        c4 AS (
            SELECT e.dst AS id, SUM(pp.pr // d.deg) AS s
            FROM ed e
            JOIN pr3 pp ON pp.id = e.src
            JOIN deg d ON d.id = e.src
            GROUP BY 1
        ),
        pr4 AS (
            SELECT n.id,
                   CAST((3000000 // (20 * nn.n))
                        + (17 * coalesce(c.s, 0)) // 20 AS BIGINT) AS pr
            FROM nodes n CROSS JOIN nn
            LEFT JOIN c4 c ON c.id = n.id
        ),
        c5 AS (
            SELECT e.dst AS id, SUM(pp.pr // d.deg) AS s
            FROM ed e
            JOIN pr4 pp ON pp.id = e.src
            JOIN deg d ON d.id = e.src
            GROUP BY 1
        ),
        pr5 AS (
            SELECT n.id,
                   CAST((3000000 // (20 * nn.n))
                        + (17 * coalesce(c.s, 0)) // 20 AS BIGINT) AS pr
            FROM nodes n CROSS JOIN nn
            LEFT JOIN c5 c ON c.id = n.id
        )
        SELECT id, pr AS pr_int,
               CAST(pr AS DOUBLE) / 1000000.0 AS pr
        FROM pr5
    """

    o["dedup_canonical"] = f"""
        WITH comp AS ({o["dedup_components"]}),
        lab AS (
            SELECT d.doc_id,
                   coalesce(c.component, d.doc_id) AS component,
                   d.n_chars AS quality
            FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
        )
        SELECT doc_id, component, quality,
               first_value(doc_id) OVER (PARTITION BY component
                   ORDER BY quality DESC, doc_id ASC) AS canonical_id,
               doc_id = first_value(doc_id) OVER (PARTITION BY component
                   ORDER BY quality DESC, doc_id ASC) AS is_canonical
        FROM lab
    """

    o["source_dup_matrix"] = f"""
        WITH p AS ({o["ngram_jaccard_pairs"]})
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               CAST(count(*) AS BIGINT) AS n_pairs,
               {_sr_sql("avg(p.jaccard)", 6)} AS avg_sim
        FROM p
        JOIN documents da ON da.doc_id = p.id_a
        JOIN documents db ON db.doc_id = p.id_b
        GROUP BY 1, 2
    """

    o["silhouette"] = f"""{_km_ctes},
        rk2 AS (
            SELECT vec_id, cid, sqrt(dist) AS d,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rk
            FROM d3
        ),
        top AS (
            SELECT vec_id,
                   min(CASE WHEN rk = 1 THEN cid END) AS cid,
                   min(CASE WHEN rk = 1 THEN d END) AS a_dist,
                   min(CASE WHEN rk = 2 THEN d END) AS b_dist
            FROM rk2 WHERE rk <= 2 GROUP BY 1
        )
        SELECT vec_id, cid,
               {_sr_sql("a_dist", 6)} AS a_dist,
               {_sr_sql("b_dist", 6)} AS b_dist,
               {_sr_sql(
                   "CASE WHEN greatest(a_dist, b_dist) > 0 THEN"
                   " (b_dist - a_dist) / greatest(a_dist, b_dist)"
                   " ELSE 0.0 END", 6
               )} AS silhouette
        FROM top
    """

    o["ndcg"] = f"""
        -- ex/ap mirror ndcg_at_k's input normalization STRUCTURALLY
        -- (rank <= k truncation + (qid, id) best-rank dedup), same
        -- rationale as the mrr oracle (r13 ADVICE).
        WITH ex AS (
            SELECT qid, vec_id, min(rank) AS rank
            FROM ({o['knn_cosine']}) WHERE rank <= 5 GROUP BY 1, 2
        ),
        ap AS (
            SELECT qid, vec_id, min(rank) AS rank
            FROM ({o['lsh_topk']}) WHERE rank <= 5 GROUP BY 1, 2
        ),
        g AS (
            SELECT ap.qid,
                   CAST(count(ex.rank) AS INT) AS hits,
                   sum(CASE WHEN ex.rank IS NOT NULL THEN
                       (CAST(6.0 AS DOUBLE) - CAST(ex.rank AS DOUBLE))
                       / log2(CAST(ap.rank AS DOUBLE) + 1.0)
                       ELSE 0.0 END) AS dcg
            FROM ap LEFT JOIN ex
              ON ex.qid = ap.qid AND ex.vec_id = ap.vec_id
            GROUP BY 1
        ),
        qs AS (SELECT DISTINCT qid FROM ex)
        SELECT qs.qid,
               CAST(coalesce(g.hits, 0) AS INT) AS hits,
               {_sr_sql("coalesce(g.dcg, 0.0)", 6)} AS dcg,
               {_sr_sql(
                   "coalesce(g.dcg, 0.0) / CAST(10.271924937667158 AS DOUBLE)", 6
               )} AS ndcg
        FROM qs LEFT JOIN g ON g.qid = qs.qid
    """

    o["mrr"] = f"""
        -- ex/ap mirror mrr_at_k's input normalization STRUCTURALLY
        -- (rank <= k truncation + (qid, id) best-rank dedup) rather
        -- than relying on the feeder queries emitting clean top-5
        -- tables — parity survives a k or feeder change (r13 ADVICE).
        WITH ex AS (
            SELECT qid, vec_id, min(rank) AS rank
            FROM ({o['knn_cosine']}) WHERE rank <= 5 GROUP BY 1, 2
        ),
        ap AS (
            SELECT qid, vec_id, min(rank) AS rank
            FROM ({o['lsh_topk']}) WHERE rank <= 5 GROUP BY 1, 2
        ),
        h AS (
            SELECT ap.qid, min(ap.rank) AS fr
            FROM ap JOIN ex
              ON ex.qid = ap.qid AND ex.vec_id = ap.vec_id
            GROUP BY 1
        ),
        qs AS (SELECT DISTINCT qid FROM ex)
        SELECT qs.qid, CAST(h.fr AS INT) AS first_rank,
               {_sr_sql(
                   "coalesce(1.0 / CAST(h.fr AS DOUBLE), 0.0)", 6
               )} AS rr
        FROM qs LEFT JOIN h ON h.qid = qs.qid
    """

    o["cramers_v"] = f"""
        WITH p AS (
            SELECT lang AS a, source AS b FROM documents
            WHERE lang IS NOT NULL AND source IS NOT NULL
        ),
        cells AS (
            SELECT a, b, CAST(count(*) AS DOUBLE) AS o FROM p GROUP BY 1, 2
        ),
        m AS (
            SELECT *, sum(o) OVER (PARTITION BY a) AS ra,
                   sum(o) OVER (PARTITION BY b) AS cb
            FROM cells
        ),
        t AS (
            -- o^2/(row*col): the n*(S-1) identity folds the mass of
            -- EMPTY cells (absent from the groupBy) into chi2 exactly
            SELECT o, o * o / (ra * cb) AS tt, a, b FROM m
        ),
        agg AS (
            SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT a) AS INT) AS r,
                   CAST(count(DISTINCT b) AS INT) AS c,
                   sum(o) * (sum(tt) - 1.0) AS chi2, sum(o) AS nd
            FROM t
        ),
        fin AS (
            SELECT n, r, c, chi2,
                   CAST((r - 1) * (c - 1) AS INT) AS dof,
                   chi2 / nd AS phi2,
                   greatest(0.0, chi2 / nd
                       - CAST((r - 1) * (c - 1) AS DOUBLE)
                         / (nd - 1.0)) AS phi2c,
                   CAST(r AS DOUBLE)
                       - CAST((r - 1) * (r - 1) AS DOUBLE)
                         / (nd - 1.0) AS rc,
                   CAST(c AS DOUBLE)
                       - CAST((c - 1) * (c - 1) AS DOUBLE)
                         / (nd - 1.0) AS cc
            FROM agg
        )
        SELECT n, r, c, {_sr_sql("chi2", 6)} AS chi2, dof,
               {_sr_sql(
                   "sqrt(phi2 / nullif(least(CAST(r AS DOUBLE),"
                   " CAST(c AS DOUBLE)) - 1.0, 0))", 6
               )} AS v,
               {_sr_sql(
                   "sqrt(phi2c / nullif(least(rc, cc) - 1.0, 0))", 6
               )} AS v_corrected
        FROM fin
    """

    o["cohens_d"] = f"""
        WITH p AS (
            SELECT CAST(user_id % 2 AS INT) AS grp, value FROM events
            WHERE value IS NOT NULL
        ),
        s AS (
            SELECT grp, CAST(count(*) AS BIGINT) AS n, avg(value) AS m,
                   var_samp(value) AS v
            FROM p GROUP BY 1
        ),
        w AS (SELECT row_number() OVER (ORDER BY grp) AS i, * FROM s),
        a AS (
            SELECT max(CASE WHEN i = 1 THEN n END) AS n1,
                   max(CASE WHEN i = 2 THEN n END) AS n2,
                   max(CASE WHEN i = 1 THEN m END) AS mean1,
                   max(CASE WHEN i = 2 THEN m END) AS mean2,
                   max(CASE WHEN i = 1 THEN v END) AS v1,
                   max(CASE WHEN i = 2 THEN v END) AS v2
            FROM w
        ),
        f AS (
            SELECT *,
                   sqrt(((CAST(n1 AS DOUBLE) - 1.0) * v1
                         + (CAST(n2 AS DOUBLE) - 1.0) * v2)
                        / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))
                       AS sp
            FROM a
        ),
        g2 AS (
            SELECT *, (mean2 - mean1) / nullif(sp, 0) AS dd,
                   CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) AS nn
            FROM f
        ),
        h AS (
            SELECT *,
                   sqrt(nn / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                        + dd * dd / (2.0 * nn)) AS see
            FROM g2
        )
        SELECT n1, n2, {_sr_sql("mean1", 6)} AS mean1,
               {_sr_sql("mean2", 6)} AS mean2,
               {_sr_sql("sp", 6)} AS sd_pooled,
               {_sr_sql("dd", 8)} AS d,
               {_sr_sql("dd * (1.0 - 3.0 / (4.0 * nn - 9.0))", 8)} AS g,
               {_sr_sql("see", 8)} AS se,
               {_sr_sql("dd - 1.96 * see", 8)} AS ci_lo,
               {_sr_sql("dd + 1.96 * see", 8)} AS ci_hi
        FROM h
    """

    o["welch_t"] = f"""
        WITH p AS (
            SELECT CAST(user_id % 2 AS INT) AS grp, value FROM events
            WHERE value IS NOT NULL
        ),
        s AS (
            SELECT grp, CAST(count(*) AS BIGINT) AS n, avg(value) AS m,
                   var_samp(value) AS v
            FROM p GROUP BY 1
        ),
        w AS (SELECT row_number() OVER (ORDER BY grp) AS i, * FROM s),
        a AS (
            SELECT max(CASE WHEN i = 1 THEN n END) AS n1,
                   max(CASE WHEN i = 2 THEN n END) AS n2,
                   max(CASE WHEN i = 1 THEN m END) AS mean1,
                   max(CASE WHEN i = 2 THEN m END) AS mean2,
                   max(CASE WHEN i = 1 THEN v END) AS v1,
                   max(CASE WHEN i = 2 THEN v END) AS v2
            FROM w
        ),
        f AS (
            SELECT *, v1 / CAST(n1 AS DOUBLE) AS aa,
                   v2 / CAST(n2 AS DOUBLE) AS bb
            FROM a
        )
        SELECT n1, n2, {_sr_sql("mean1", 6)} AS mean1,
               {_sr_sql("mean2", 6)} AS mean2,
               {_sr_sql(
                   "(mean2 - mean1) / nullif(sqrt(aa + bb), 0)", 8
               )} AS t_stat,
               {_sr_sql(
                   "(aa + bb) * (aa + bb)"
                   " / nullif(aa * aa / (CAST(n1 AS DOUBLE) - 1.0)"
                   " + bb * bb / (CAST(n2 AS DOUBLE) - 1.0), 0)", 4
               )} AS df
        FROM f
    """

    o["mcnemar"] = f"""
        WITH m AS (
            SELECT (CAST(min(epoch_us(ts)) AS DOUBLE)
                    + CAST(max(epoch_us(ts)) AS DOUBLE)) / 2.0 AS mid
            FROM events
        ),
        per AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'purchase'
                            AND epoch_us(ts) < mid THEN 1 ELSE 0 END)
                       AS b,
                   max(CASE WHEN event_type = 'purchase'
                            AND epoch_us(ts) >= mid THEN 1 ELSE 0 END)
                       AS a
            FROM events CROSS JOIN m GROUP BY 1
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN b = 0 AND a = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n00,
                   CAST(sum(CASE WHEN b = 0 AND a = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n01,
                   CAST(sum(CASE WHEN b = 1 AND a = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n10,
                   CAST(sum(CASE WHEN b = 1 AND a = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n11
            FROM per
        )
        SELECT n, n00, n01, n10, n11,
               {_sr_sql(
                   "(abs(CAST(n01 AS DOUBLE) - CAST(n10 AS DOUBLE)) - 1.0)"
                   " * (abs(CAST(n01 AS DOUBLE) - CAST(n10 AS DOUBLE))"
                   " - 1.0) / nullif(CAST(n01 + n10 AS DOUBLE), 0)", 6
               )} AS chi2,
               (abs(CAST(n01 AS DOUBLE) - CAST(n10 AS DOUBLE)) - 1.0)
                   * (abs(CAST(n01 AS DOUBLE) - CAST(n10 AS DOUBLE)) - 1.0)
                   / nullif(CAST(n01 + n10 AS DOUBLE), 0) > 3.841
                   AS reject_05
        FROM agg
    """

    o["wilcoxon_signed"] = f"""
        WITH m AS (
            SELECT (CAST(min(epoch_us(ts)) AS DOUBLE)
                    + CAST(max(epoch_us(ts)) AS DOUBLE)) / 2.0 AS mid
            FROM events
        ),
        per AS (
            SELECT user_id,
                   avg(CASE WHEN epoch_us(ts) < mid THEN value END)
                       AS pre,
                   avg(CASE WHEN epoch_us(ts) >= mid THEN value END)
                       AS post
            FROM events CROSS JOIN m
            WHERE value IS NOT NULL
            GROUP BY 1
        ),
        d AS (
            SELECT post - pre AS dd FROM per
            WHERE pre IS NOT NULL AND post IS NOT NULL
        ),
        nzero AS (
            SELECT CAST(sum(CASE WHEN dd = 0.0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_zero
            FROM d
        ),
        r AS (
            SELECT dd,
                   rank() OVER (ORDER BY abs(dd))
                       + (count(*) OVER (PARTITION BY abs(dd)) - 1) / 2.0
                       AS rk,
                   count(*) OVER (PARTITION BY abs(dd)) AS t
            FROM d WHERE dd <> 0.0
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   coalesce(sum(CASE WHEN dd > 0 THEN rk END), 0.0)
                       AS wp,
                   coalesce(sum(CASE WHEN dd < 0 THEN rk END), 0.0)
                       AS wm,
                   sum(t * t - 1) AS tsum
            FROM r
        ),
        f AS (
            SELECT n, wp, wm,
                   CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0
                       AS mu,
                   sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                        * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
                        - CAST(tsum AS DOUBLE) / 48.0) AS sig
            FROM agg
        )
        SELECT n, n_zero,
               {_sr_sql("wp", 6)} AS w_plus,
               {_sr_sql("wm", 6)} AS w_minus,
               {_sr_sql(
                   "CASE WHEN sig > 0.0 THEN"
                   " sign(wp - mu) * greatest(abs(wp - mu) - 0.5, 0.0)"
                   " / sig END", 8
               )} AS z
        FROM f CROSS JOIN nzero
    """

    o["odds_ratio"] = f"""
        WITH p AS (
            SELECT CAST(regexp_extract(source, '(\\d+)', 1) AS INT)
                       % 2 = 0 AS e,
                   lang = 'en' AS oc
            FROM documents
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN e AND oc THEN 1 ELSE 0 END)
                        AS BIGINT) AS n11,
                   CAST(sum(CASE WHEN e AND NOT oc THEN 1 ELSE 0 END)
                        AS BIGINT) AS n10,
                   CAST(sum(CASE WHEN NOT e AND oc THEN 1 ELSE 0 END)
                        AS BIGINT) AS n01,
                   CAST(sum(CASE WHEN NOT e AND NOT oc THEN 1 ELSE 0 END)
                        AS BIGINT) AS n00
            FROM p
        ),
        f AS (
            SELECT *,
                   CAST(n11 AS DOUBLE) AS a, CAST(n10 AS DOUBLE) AS b,
                   CAST(n01 AS DOUBLE) AS c, CAST(n00 AS DOUBLE) AS d
            FROM agg
        ),
        g AS (
            SELECT *,
                   a * d / nullif(b * c, 0) AS orr,
                   (a / nullif(a + b, 0)) / nullif(c / nullif(c + d, 0), 0)
                       AS rr,
                   sqrt(1.0 / nullif(a, 0) + 1.0 / nullif(b, 0)
                        + 1.0 / nullif(c, 0) + 1.0 / nullif(d, 0))
                       AS se_or,
                   sqrt(b / nullif(a * (a + b), 0)
                        + d / nullif(c * (c + d), 0)) AS se_rr
            FROM f
        ),
        h AS (
            SELECT *,
                   CASE WHEN orr > 0.0 THEN ln(orr) END AS lor,
                   CASE WHEN rr > 0.0 THEN ln(rr) END AS lrr
            FROM g
        )
        SELECT n, n11, n10, n01, n00,
               {_sr_sql("orr", 6)} AS odds_ratio,
               {_sr_sql("exp(lor - 1.96 * se_or)", 6)} AS or_ci_lo,
               {_sr_sql("exp(lor + 1.96 * se_or)", 6)} AS or_ci_hi,
               {_sr_sql("rr", 6)} AS relative_risk,
               {_sr_sql("exp(lrr - 1.96 * se_rr)", 6)} AS rr_ci_lo,
               {_sr_sql("exp(lrr + 1.96 * se_rr)", 6)} AS rr_ci_hi
        FROM h
    """

    o["friedman"] = f"""
        WITH cells AS (
            SELECT user_id AS b, event_type AS t, avg(value) AS v
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ),
        kg AS (SELECT count(DISTINCT t) AS k FROM cells),
        bn AS (SELECT b, count(*) AS bn FROM cells GROUP BY 1),
        comp AS (
            SELECT c.* FROM cells c JOIN bn ON bn.b = c.b
            CROSS JOIN kg WHERE bn.bn = kg.k
        ),
        r AS (
            SELECT b, t,
                   rank() OVER (PARTITION BY b ORDER BY v)
                       + (count(*) OVER (PARTITION BY b, v) - 1) / 2.0
                       AS rk,
                   count(*) OVER (PARTITION BY b, v) AS tsz
            FROM comp
        ),
        pt AS (
            SELECT t, sum(rk) AS rsum, CAST(count(*) AS BIGINT) AS nb,
                   sum(tsz * tsz - 1) AS tc
            FROM r GROUP BY 1
        ),
        agg AS (
            SELECT max(nb) AS n_blocks,
                   CAST(count(*) AS INT) AS k,
                   sum(rsum * rsum) AS r2, sum(tc) AS tc
            FROM pt
        ),
        f AS (
            SELECT n_blocks, k,
                   (12.0 / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
                            * (CAST(k AS DOUBLE) + 1.0)) * r2
                    - 3.0 * CAST(n_blocks AS DOUBLE)
                      * (CAST(k AS DOUBLE) + 1.0))
                   / nullif(1.0 - CAST(tc AS DOUBLE)
                        / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
                           * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
                              - 1.0)), 0) AS q,
                   CAST(k - 1 AS INT) AS df
            FROM agg
        )
        SELECT n_blocks, k, {_sr_sql("q", 6)} AS q, df,
               {_sr_sql(
                   "CASE df WHEN 1 THEN 3.841 WHEN 2 THEN 5.991"
                   " WHEN 3 THEN 7.815 WHEN 4 THEN 9.488"
                   " WHEN 5 THEN 11.070 WHEN 6 THEN 12.592"
                   " WHEN 7 THEN 14.067 WHEN 8 THEN 15.507"
                   " WHEN 9 THEN 16.919 WHEN 10 THEN 18.307"
                   " ELSE df * pow(1.0 - 2.0 / (9.0 * df)"
                   " + 1.6448536269514722 * sqrt(2.0 / (9.0 * df)), 3.0)"
                   " END", 6
               )} AS crit_05,
               q > (CASE df WHEN 1 THEN 3.841 WHEN 2 THEN 5.991
                    WHEN 3 THEN 7.815 WHEN 4 THEN 9.488
                    WHEN 5 THEN 11.070 WHEN 6 THEN 12.592
                    WHEN 7 THEN 14.067 WHEN 8 THEN 15.507
                    WHEN 9 THEN 16.919 WHEN 10 THEN 18.307
                    ELSE df * pow(1.0 - 2.0 / (9.0 * df)
                         + 1.6448536269514722
                           * sqrt(2.0 / (9.0 * df)), 3.0) END)
                   AS reject_05
        FROM f
    """

    o["chow"] = f"""
        WITH m AS (
            SELECT (CAST(min(epoch_us(ts)) AS DOUBLE)
                    + CAST(max(epoch_us(ts)) AS DOUBLE)) / 2.0 AS mid,
                   min(epoch_us(ts)) AS mn
            FROM events
        ),
        p AS (
            SELECT CASE WHEN CAST(epoch_us(ts) AS DOUBLE) < mid
                        THEN 1 ELSE 2 END AS g,
                   CAST(epoch_us(ts) - mn AS DOUBLE) / 3600000000.0 AS x,
                   value AS y
            FROM events CROSS JOIN m WHERE value IS NOT NULL
        ),
        gm AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n, avg(x) AS mx,
                   avg(y) AS my, avg(x * x) AS mxx, avg(y * y) AS myy,
                   avg(x * y) AS mxy
            FROM p GROUP BY 1
        ),
        pm AS (
            SELECT CAST(count(*) AS BIGINT) AS n, avg(x) AS mx,
                   avg(y) AS my, avg(x * x) AS mxx, avg(y * y) AS myy,
                   avg(x * y) AS mxy
            FROM p
        ),
        sg AS (
            SELECT g, n,
                   CAST(n AS DOUBLE) * ((myy - my * my)
                       - (mxy - mx * my) * (mxy - mx * my)
                         / nullif(mxx - mx * mx, 0)) AS ssr
            FROM gm
        ),
        sp AS (
            SELECT CAST(n AS DOUBLE) * ((myy - my * my)
                       - (mxy - mx * my) * (mxy - mx * my)
                         / nullif(mxx - mx * mx, 0)) AS ssrp
            FROM pm
        ),
        w AS (
            SELECT max(CASE WHEN g = 1 THEN n END) AS n1,
                   max(CASE WHEN g = 2 THEN n END) AS n2,
                   max(CASE WHEN g = 1 THEN ssr END) AS s1,
                   max(CASE WHEN g = 2 THEN ssr END) AS s2
            FROM sg
        ),
        f AS (
            SELECT n1, n2, ssrp, s1, s2,
                   CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 4.0 AS df2
            FROM w CROSS JOIN sp
        )
        SELECT n1, n2,
               {_sr_sql("ssrp", 4)} AS ssr_pooled,
               {_sr_sql("s1", 4)} AS ssr1,
               {_sr_sql("s2", 4)} AS ssr2,
               {_sr_sql(
                   "CASE WHEN n1 > 2 AND n2 > 2 THEN"
                   " ((ssrp - s1 - s2) / 2.0)"
                   " / nullif((s1 + s2) / df2, 0) END", 6
               )} AS f_stat,
               CAST(2 AS INT) AS df1,
               CAST(df2 AS INT) AS df2
        FROM f
    """

    o["l_diversity"] = f"""
        WITH per AS (
            SELECT lang, source AS sv, CAST(count(*) AS BIGINT) AS c
            FROM documents GROUP BY 1, 2
        ),
        w AS (
            SELECT *, CAST(c AS DOUBLE)
                       / sum(CAST(c AS DOUBLE)) OVER (PARTITION BY lang)
                       AS p
            FROM per
        ),
        g AS (
            SELECT lang, CAST(sum(c) AS BIGINT) AS n,
                   CAST(count(*) AS INT) AS n_sensitive,
                   -sum(p * ln(p)) AS entropy
            FROM w GROUP BY 1
        )
        SELECT lang, n, n_sensitive,
               {_sr_sql("entropy", 6)} AS entropy,
               entropy >= ln(CAST(3 AS DOUBLE)) - 1e-12 AS diverse
        FROM g
    """

    o["savgol"] = f"""
        WITH e AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts, value
            FROM events WHERE value IS NOT NULL
        ),
        sg AS (
            SELECT key, ts, value, {_sg_terms} AS sv
            FROM e
            WINDOW wk AS (PARTITION BY key ORDER BY ts)
        )
        SELECT key, ts, value, {_sr_sql("sv", 6)} AS savgol FROM sg
    """

    o["kernel_smooth"] = f"""
        WITH e AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts, value,
                   epoch_us(ts) AS us
            FROM events WHERE value IS NOT NULL
        ),
        j AS (
            SELECT a.key, a.ts, CAST(count(*) AS INT) AS n_local,
                   sum(exp(-(CAST(b.us - a.us AS DOUBLE) / 1000000.0
                             / CAST(21600.0 AS DOUBLE))
                           * (CAST(b.us - a.us AS DOUBLE) / 1000000.0
                              / CAST(21600.0 AS DOUBLE))
                           / 2.0) * b.value) AS num,
                   sum(exp(-(CAST(b.us - a.us AS DOUBLE) / 1000000.0
                             / CAST(21600.0 AS DOUBLE))
                           * (CAST(b.us - a.us AS DOUBLE) / 1000000.0
                              / CAST(21600.0 AS DOUBLE))
                           / 2.0)) AS den
            FROM e a JOIN e b ON a.key = b.key
               AND b.us BETWEEN a.us - 64800000000
                            AND a.us + 64800000000
            GROUP BY a.key, a.ts
        )
        SELECT key, ts, n_local,
               {_sr_sql("num / den", 6)} AS smoothed
        FROM j
    """

    o["ichimoku"] = f"""
        WITH bars AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   date_trunc('day', ts) AS bar_ts,
                   max(value) AS high, min(value) AS low,
                   last(value ORDER BY ts, value) AS close
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2
        ),
        mids AS (
            SELECT key, bar_ts, close,
                   CASE WHEN count(*) OVER w5 >= 5 THEN
                       (max(high) OVER w5 + min(low) OVER w5) / 2.0
                   END AS tenkan,
                   CASE WHEN count(*) OVER w10 >= 10 THEN
                       (max(high) OVER w10 + min(low) OVER w10) / 2.0
                   END AS kijun,
                   CASE WHEN count(*) OVER w20 >= 20 THEN
                       (max(high) OVER w20 + min(low) OVER w20) / 2.0
                   END AS sb
            FROM bars
            WINDOW w5 AS (PARTITION BY key ORDER BY bar_ts
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                   w10 AS (PARTITION BY key ORDER BY bar_ts
                           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
                   w20 AS (PARTITION BY key ORDER BY bar_ts
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        )
        SELECT key, bar_ts,
               {_sr_sql("tenkan", 6)} AS tenkan,
               {_sr_sql("kijun", 6)} AS kijun,
               {_sr_sql("lag((tenkan + kijun) / 2.0, 10) OVER wk", 6)}
                   AS senkou_a,
               {_sr_sql("lag(sb, 10) OVER wk", 6)} AS senkou_b,
               {_sr_sql("lead(close, 10) OVER wk", 6)} AS chikou
        FROM mids
        WINDOW wk AS (PARTITION BY key ORDER BY bar_ts)
    """

    o["mfi"] = f"""
        WITH bars AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   date_trunc('day', ts) AS bar_ts,
                   max(value) AS high, min(value) AS low,
                   last(value ORDER BY ts, value) AS close,
                   CAST(count(*) AS BIGINT) AS n
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2
        ),
        t AS (
            SELECT key, bar_ts,
                   (high + low + close) / 3.0 AS typical, n
            FROM bars
        ),
        d AS (
            SELECT key, bar_ts, typical, n,
                   typical - lag(typical) OVER wk AS dt
            FROM t
            WINDOW wk AS (PARTITION BY key ORDER BY bar_ts)
        ),
        f AS (
            SELECT key, bar_ts, typical,
                   sum(CASE WHEN dt > 0 THEN typical * CAST(n AS DOUBLE)
                            ELSE 0.0 END) OVER w7 AS pos,
                   sum(CASE WHEN dt < 0 THEN typical * CAST(n AS DOUBLE)
                            ELSE 0.0 END) OVER w7 AS neg,
                   count(dt) OVER w7 AS ndt
            FROM d
            WINDOW w7 AS (PARTITION BY key ORDER BY bar_ts
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT key, bar_ts,
               {_sr_sql("typical", 6)} AS typical,
               {_sr_sql(
                   "CASE WHEN ndt >= 7 THEN"
                   " 100.0 * pos / nullif(pos + neg, 0) END", 6
               )} AS mfi
        FROM f
    """

    o["risk_ratios"] = f"""
        WITH e AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts, value
            FROM events WHERE value IS NOT NULL
        ),
        r0 AS (
            SELECT key, ts,
                   value / nullif(lag(value) OVER wk, 0) - 1.0 AS r
            FROM e
            WINDOW wk AS (PARTITION BY key ORDER BY ts)
        ),
        rr AS (SELECT key, ts, r FROM r0 WHERE r IS NOT NULL),
        q AS (
            SELECT key, ts, r,
                   min(1.0 + r) OVER wc <= 0.0 AS dead,
                   exp(sum(ln(CASE WHEN r > -1.0 THEN 1.0 + r
                                   ELSE 1.0 END)) OVER wc) AS eq
            FROM rr
            WINDOW wc AS (PARTITION BY key ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        dd AS (
            SELECT key, r,
                   CASE WHEN dead THEN 1.0
                        ELSE 1.0 - eq / greatest(max(eq) OVER wc,
                                                 CAST(1.0 AS DOUBLE))
                   END AS ddv
            FROM q
            WINDOW wc AS (PARTITION BY key ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        a AS (
            SELECT key, CAST(count(*) AS BIGINT) AS n, avg(r) AS mean_ret,
                   sum(CASE WHEN r > 0 THEN r ELSE 0 END) AS gain,
                   sum(CASE WHEN r < 0 THEN -r ELSE 0 END) AS pain,
                   sum(r) AS tot, max(ddv) AS mdd
            FROM dd GROUP BY 1
        )
        SELECT key, n,
               {_sr_sql("mean_ret", 6)} AS mean_ret,
               {_sr_sql("gain / nullif(pain, 0)", 6)} AS omega,
               {_sr_sql("tot / nullif(pain, 0)", 6)} AS gain_to_pain,
               {_sr_sql("mdd", 6)} AS max_dd,
               {_sr_sql("mean_ret / nullif(mdd, 0)", 6)} AS calmar
        FROM a
    """

    o["msprt"] = f"""
        WITH e AS (
            SELECT CAST(user_id AS VARCHAR) AS key, ts, value
            FROM events WHERE value IS NOT NULL
        ),
        c AS (
            SELECT key, ts,
                   CAST(count(*) OVER cum AS BIGINT) AS n,
                   avg(value) OVER cum AS mean,
                   var_samp(value) OVER cum AS s2
            FROM e
            WINDOW cum AS (PARTITION BY key ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        l AS (
            SELECT key, ts, n, mean,
                   CASE WHEN s2 > 0 THEN
                       0.5 * ln(s2 / (s2 + n * CAST(25.0 AS DOUBLE)))
                       + (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                          * CAST(25.0 AS DOUBLE)
                          * (mean - CAST(30.0 AS DOUBLE))
                          * (mean - CAST(30.0 AS DOUBLE)))
                         / (2.0 * s2 * (s2 + n * CAST(25.0 AS DOUBLE)))
                   END AS log_lambda
            FROM c
        ),
        pp AS (
            SELECT key, ts, n, mean, log_lambda,
                   coalesce(least(CAST(1.0 AS DOUBLE),
                       exp(-max(log_lambda) OVER cum)),
                       CAST(1.0 AS DOUBLE)) AS p
            FROM l
            WINDOW cum AS (PARTITION BY key ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT key, ts, n,
               {_sr_sql("mean", 6)} AS mean,
               {_sr_sql("log_lambda", 6)} AS log_lambda,
               {_sr_sql("p", 6)} AS p_always,
               p <= 0.05 AS reject_05
        FROM pp
    """

    o["ab_power"] = f"""
        WITH per AS (
            SELECT CAST(user_id AS VARCHAR) AS k,
                   CAST(user_id % 2 AS VARCHAR) AS variant,
                   CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) >= 15
                        THEN 1 ELSE 0 END AS c
            FROM events GROUP BY 1, 2
        ),
        v AS (
            SELECT variant, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(c) AS BIGINT) AS conv
            FROM per GROUP BY 1
        ),
        ab AS (
            SELECT min(variant) AS va, max(variant) AS vb,
                   CAST(sum(CASE WHEN variant = (SELECT min(variant) FROM v)
                            THEN n END) AS BIGINT) AS n_a,
                   CAST(sum(CASE WHEN variant = (SELECT max(variant) FROM v)
                            THEN n END) AS BIGINT) AS n_b,
                   sum(CASE WHEN variant = (SELECT min(variant) FROM v)
                            THEN conv END) AS c_a,
                   sum(CASE WHEN variant = (SELECT max(variant) FROM v)
                            THEN conv END) AS c_b
            FROM v
        ),
        r AS (
            SELECT n_a, n_b,
                   CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
                   CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb
            FROM ab
        ),
        f AS (
            SELECT n_a, n_b, pa, pb,
                   sqrt(pa * (1 - pa) / CAST(n_a AS DOUBLE)
                        + pb * (1 - pb) / CAST(n_b AS DOUBLE)) AS se
            FROM r
        )
        SELECT n_a, n_b,
               {_sr_sql("pa", 6)} AS rate_a,
               {_sr_sql("pb", 6)} AS rate_b,
               {_sr_sql("pb - pa", 6)} AS diff,
               {_sr_sql("se", 6)} AS se,
               {_sr_sql("(pb - pa) / nullif(se, 0)", 6)} AS z,
               {_sr_sql(
                   "(CAST(1.959963984540054 AS DOUBLE)"
                   " + CAST(0.8416212335729143 AS DOUBLE)) * se", 6
               )} AS mde_abs_80,
               {_sr_sql(
                   "(CAST(1.959963984540054 AS DOUBLE)"
                   " + CAST(0.8416212335729143 AS DOUBLE)) * se"
                   " / nullif(pa, 0)", 6
               )} AS mde_rel_80
        FROM f
    """

    o["eb_shrinkage"] = f"""
        WITH base AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   CAST(count(*) AS BIGINT) AS trials,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS successes
            FROM events GROUP BY 1
        ),
        rt AS (
            SELECT key, trials, successes,
                   CAST(successes AS DOUBLE) / nullif(CAST(trials AS DOUBLE),
                                                      0) AS rate
            FROM base
        ),
        pr AS (
            SELECT CASE WHEN avg(rate) * (1 - avg(rate))
                             / nullif(var_pop(rate), 0) - 1.0 > 0
                        THEN avg(rate) * (avg(rate) * (1 - avg(rate))
                             / nullif(var_pop(rate), 0) - 1.0) END AS alpha,
                   CASE WHEN avg(rate) * (1 - avg(rate))
                             / nullif(var_pop(rate), 0) - 1.0 > 0
                        THEN (1 - avg(rate)) * (avg(rate) * (1 - avg(rate))
                             / nullif(var_pop(rate), 0) - 1.0) END AS beta
            FROM rt WHERE rate IS NOT NULL
        )
        SELECT key, trials, successes,
               {_sr_sql("rate", 6)} AS rate,
               {_sr_sql("alpha", 6)} AS alpha,
               {_sr_sql("beta", 6)} AS beta,
               {_sr_sql(
                   "(CAST(successes AS DOUBLE) + alpha)"
                   " / nullif(CAST(trials AS DOUBLE) + alpha + beta, 0)", 6
               )} AS rate_eb
        FROM rt CROSS JOIN pr
    """

    o["did"] = f"""
        WITH cells AS (
            SELECT user_id,
                   CAST(user_id % 2 AS INT) AS t,
                   CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END AS p,
                   avg(value) AS y
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2, 3
        ),
        g AS (
            SELECT t, p, CAST(count(*) AS BIGINT) AS n, avg(y) AS m,
                   var_samp(y) AS v
            FROM cells GROUP BY 1, 2
        ),
        one AS (
            SELECT CAST(sum(n) AS BIGINT) AS n,
                   max(CASE WHEN t = 0 AND p = 0 THEN m END) AS m00,
                   max(CASE WHEN t = 0 AND p = 1 THEN m END) AS m01,
                   max(CASE WHEN t = 1 AND p = 0 THEN m END) AS m10,
                   max(CASE WHEN t = 1 AND p = 1 THEN m END) AS m11,
                   sum(CASE WHEN t = 0 AND p = 0
                            THEN v / CAST(n AS DOUBLE) END)
                   + sum(CASE WHEN t = 0 AND p = 1
                              THEN v / CAST(n AS DOUBLE) END)
                   + sum(CASE WHEN t = 1 AND p = 0
                              THEN v / CAST(n AS DOUBLE) END)
                   + sum(CASE WHEN t = 1 AND p = 1
                              THEN v / CAST(n AS DOUBLE) END) AS vsum
            FROM g
        ),
        r AS (
            SELECT n, m00, m01, m10, m11,
                   (m11 - m10) - (m01 - m00) AS did, sqrt(vsum) AS se
            FROM one
        )
        SELECT n,
               {_sr_sql("m00", 6)} AS mean_c_pre,
               {_sr_sql("m01", 6)} AS mean_c_post,
               {_sr_sql("m10", 6)} AS mean_t_pre,
               {_sr_sql("m11", 6)} AS mean_t_post,
               {_sr_sql("did", 6)} AS did,
               {_sr_sql("se", 6)} AS se,
               {_sr_sql("did / nullif(se, 0)", 6)} AS z
        FROM r
    """

    o["nelson_aalen"] = f"""
        WITH s AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup'
                            THEN epoch_us(ts) END) AS st
            FROM events GROUP BY 1
        ),
        h AS (SELECT max(epoch_us(ts)) AS hor FROM events),
        e AS (
            SELECT ev.user_id, min(epoch_us(ev.ts)) AS en
            FROM events ev JOIN s ON s.user_id = ev.user_id
            WHERE ev.event_type = 'purchase' AND epoch_us(ev.ts) >= s.st
            GROUP BY 1
        ),
        t AS (
            SELECT s.user_id,
                   CAST(ceil(CAST(coalesce(en, hor) - st AS DOUBLE)
                             / 3600000000.0) AS BIGINT) AS duration,
                   CASE WHEN en IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM s CROSS JOIN h LEFT JOIN e ON e.user_id = s.user_id
            WHERE st IS NOT NULL
        ),
        g AS (
            SELECT duration, CAST(sum(ev) AS BIGINT) AS n_events,
                   CAST(sum(1 - ev) AS BIGINT) AS n_censored
            FROM t GROUP BY 1
        ),
        k AS (
            SELECT duration, n_events, n_censored,
                   CAST(sum(n_events + n_censored) OVER ()
                        - coalesce(sum(n_events + n_censored) OVER (
                              ORDER BY duration ROWS BETWEEN UNBOUNDED
                              PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS n_risk
            FROM g
        ),
        f AS (
            SELECT duration, n_risk, n_events, n_censored,
                   CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE) AS dn,
                   CAST(n_events AS DOUBLE)
                       / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE))
                       AS dn2
            FROM k
        )
        SELECT duration, n_risk, n_events, n_censored,
               {_sr_sql("sum(dn) OVER cum", 6)} AS cum_hazard,
               {_sr_sql("sum(dn2) OVER cum", 8)} AS hazard_var,
               {_sr_sql("exp(-sum(dn) OVER cum)", 6)} AS survival_fh
        FROM f
        WINDOW cum AS (ORDER BY duration ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW)
    """

    o["log_rank"] = f"""
        WITH s AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup'
                            THEN epoch_us(ts) END) AS st
            FROM events GROUP BY 1
        ),
        h AS (SELECT max(epoch_us(ts)) AS hor FROM events),
        e AS (
            SELECT ev.user_id, min(epoch_us(ev.ts)) AS en
            FROM events ev JOIN s ON s.user_id = ev.user_id
            WHERE ev.event_type = 'purchase' AND epoch_us(ev.ts) >= s.st
            GROUP BY 1
        ),
        t AS (
            SELECT s.user_id,
                   CAST(ceil(CAST(coalesce(en, hor) - st AS DOUBLE)
                             / 3600000000.0) AS BIGINT) AS duration,
                   CASE WHEN en IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM s CROSS JOIN h LEFT JOIN e ON e.user_id = s.user_id
            WHERE st IS NOT NULL
        ),
        tg AS (
            SELECT CAST(user_id % 2 AS INT) AS g, duration, ev FROM t
        ),
        per AS (
            SELECT g, duration AS tt, CAST(sum(ev) AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS x
            FROM tg GROUP BY 1, 2
        ),
        grid AS (SELECT DISTINCT tt FROM per),
        gtot AS (SELECT g, CAST(sum(x) AS BIGINT) AS tot FROM per GROUP BY 1),
        fl AS (
            SELECT gt.g, gr.tt, gt.tot,
                   coalesce(p.d, 0) AS d, coalesce(p.x, 0) AS x
            FROM grid gr CROSS JOIN gtot gt
            LEFT JOIN per p ON p.g = gt.g AND p.tt = gr.tt
        ),
        fr AS (
            SELECT *, tot - coalesce(sum(x) OVER (PARTITION BY g
                       ORDER BY tt ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS nrisk
            FROM fl
        ),
        ft AS (
            SELECT *, sum(nrisk) OVER (PARTITION BY tt) AS nt,
                   sum(d) OVER (PARTITION BY tt) AS dt,
                   min(g) OVER () AS g1
            FROM fr
        ),
        eg AS (
            SELECT *, CAST(dt AS DOUBLE) * CAST(nrisk AS DOUBLE)
                       / CAST(nt AS DOUBLE) AS e
            FROM ft
        ),
        pg AS (
            SELECT g, sum(CAST(d AS DOUBLE)) AS o_g, sum(e) AS e_g
            FROM eg GROUP BY 1
        ),
        two AS (
            SELECT sum(CAST(d AS DOUBLE) - e) AS num,
                   sum(CAST(dt AS DOUBLE)
                       * (CAST(nrisk AS DOUBLE) / CAST(nt AS DOUBLE))
                       * (1.0 - CAST(nrisk AS DOUBLE) / CAST(nt AS DOUBLE))
                       * CASE WHEN nt > 1 THEN
                             (CAST(nt AS DOUBLE) - CAST(dt AS DOUBLE))
                             / (CAST(nt AS DOUBLE) - 1.0) END) AS den
            FROM eg WHERE g = g1
        ),
        ch AS (
            SELECT CAST(count(*) AS INT) AS k,
                   sum((o_g - e_g) * (o_g - e_g) / nullif(e_g, 0)) AS chi2
            FROM pg
        ),
        nn AS (SELECT CAST(sum(tot) AS BIGINT) AS n FROM gtot),
        cr AS (
            SELECT k, n, chi2, CAST(k - 1 AS INT) AS df,
                   CASE k - 1
                       WHEN 1 THEN 3.841 WHEN 2 THEN 5.991
                       WHEN 3 THEN 7.815 WHEN 4 THEN 9.488
                       WHEN 5 THEN 11.070 WHEN 6 THEN 12.592
                       WHEN 7 THEN 14.067 WHEN 8 THEN 15.507
                       WHEN 9 THEN 16.919 WHEN 10 THEN 18.307
                       ELSE (k - 1) * pow(1.0 - 2.0 / (9.0 * (k - 1))
                            + 1.6448536269514722
                              * sqrt(2.0 / (9.0 * (k - 1))), 3.0)
                   END AS crit
            FROM ch CROSS JOIN nn
        )
        SELECT k, n, {_sr_sql("chi2", 6)} AS chi2, df,
               {_sr_sql("crit", 6)} AS crit_05,
               chi2 > crit AS reject_05,
               {_sr_sql(
                   "CASE WHEN k = 2 THEN num * num / nullif(den, 0) END", 6
               )} AS chi2_exact2
        FROM cr CROSS JOIN two
    """

    o["stratified_log_rank"] = f"""
        WITH s AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup'
                            THEN epoch_us(ts) END) AS st
            FROM events GROUP BY 1
        ),
        h AS (SELECT max(epoch_us(ts)) AS hor FROM events),
        e AS (
            SELECT ev.user_id, min(epoch_us(ev.ts)) AS en
            FROM events ev JOIN s ON s.user_id = ev.user_id
            WHERE ev.event_type = 'purchase' AND epoch_us(ev.ts) >= s.st
            GROUP BY 1
        ),
        t AS (
            SELECT s.user_id,
                   CAST(ceil(CAST(coalesce(en, hor) - st AS DOUBLE)
                             / 3600000000.0) AS BIGINT) AS duration,
                   CASE WHEN en IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM s CROSS JOIN h LEFT JOIN e ON e.user_id = s.user_id
            WHERE st IS NOT NULL
        ),
        tg AS (
            SELECT CAST(user_id % 2 AS INT) AS g,
                   CAST((user_id // 2) % 3 AS INT) AS st8,
                   duration, ev
            FROM t
        ),
        per AS (
            SELECT st8, g, duration AS tt, CAST(sum(ev) AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS x
            FROM tg GROUP BY 1, 2, 3
        ),
        grid AS (SELECT DISTINCT st8, tt FROM per),
        gtot AS (
            SELECT st8, g, CAST(sum(x) AS BIGINT) AS tot
            FROM per GROUP BY 1, 2
        ),
        fl AS (
            SELECT gt.st8, gt.g, gr.tt, gt.tot,
                   coalesce(p.d, 0) AS d, coalesce(p.x, 0) AS x
            FROM grid gr JOIN gtot gt ON gt.st8 = gr.st8
            LEFT JOIN per p
                ON p.st8 = gt.st8 AND p.g = gt.g AND p.tt = gr.tt
        ),
        fr AS (
            SELECT *, tot - coalesce(sum(x) OVER (PARTITION BY st8, g
                       ORDER BY tt ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS nrisk
            FROM fl
        ),
        ft AS (
            SELECT *, sum(nrisk) OVER (PARTITION BY st8, tt) AS nt,
                   sum(d) OVER (PARTITION BY st8, tt) AS dt,
                   min(g) OVER () AS g1
            FROM fr
        ),
        eg AS (
            SELECT *, CAST(dt AS DOUBLE) * CAST(nrisk AS DOUBLE)
                       / CAST(nt AS DOUBLE) AS e
            FROM ft
        ),
        pg AS (
            SELECT g, sum(CAST(d AS DOUBLE)) AS o_g, sum(e) AS e_g
            FROM eg GROUP BY 1
        ),
        two AS (
            SELECT sum(CAST(d AS DOUBLE) - e) AS num,
                   sum(CAST(dt AS DOUBLE)
                       * (CAST(nrisk AS DOUBLE) / CAST(nt AS DOUBLE))
                       * (1.0 - CAST(nrisk AS DOUBLE) / CAST(nt AS DOUBLE))
                       * CASE WHEN nt > 1 THEN
                             (CAST(nt AS DOUBLE) - CAST(dt AS DOUBLE))
                             / (CAST(nt AS DOUBLE) - 1.0) END) AS den
            FROM eg WHERE g = g1
        ),
        ch AS (
            SELECT CAST(count(*) AS INT) AS k,
                   sum((o_g - e_g) * (o_g - e_g) / nullif(e_g, 0)) AS chi2
            FROM pg
        ),
        nn AS (
            SELECT CAST(sum(tot) AS BIGINT) AS n,
                   CAST(count(DISTINCT st8) AS INT) AS strata
            FROM gtot
        ),
        cr AS (
            SELECT k, strata, n, chi2, CAST(k - 1 AS INT) AS df,
                   CASE k - 1
                       WHEN 1 THEN 3.841 WHEN 2 THEN 5.991
                       WHEN 3 THEN 7.815 WHEN 4 THEN 9.488
                       WHEN 5 THEN 11.070 WHEN 6 THEN 12.592
                       WHEN 7 THEN 14.067 WHEN 8 THEN 15.507
                       WHEN 9 THEN 16.919 WHEN 10 THEN 18.307
                       ELSE (k - 1) * pow(1.0 - 2.0 / (9.0 * (k - 1))
                            + 1.6448536269514722
                              * sqrt(2.0 / (9.0 * (k - 1))), 3.0)
                   END AS crit
            FROM ch CROSS JOIN nn
        )
        SELECT k, strata, n, {_sr_sql("chi2", 6)} AS chi2, df,
               {_sr_sql("crit", 6)} AS crit_05,
               chi2 > crit AS reject_05,
               {_sr_sql(
                   "CASE WHEN k = 2 THEN num * num / nullif(den, 0) END", 6
               )} AS chi2_exact2
        FROM cr CROSS JOIN two
    """

    o["rmst"] = f"""
        WITH s AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup'
                            THEN epoch_us(ts) END) AS st
            FROM events GROUP BY 1
        ),
        h AS (SELECT max(epoch_us(ts)) AS hor FROM events),
        e AS (
            SELECT ev.user_id, min(epoch_us(ev.ts)) AS en
            FROM events ev JOIN s ON s.user_id = ev.user_id
            WHERE ev.event_type = 'purchase' AND epoch_us(ev.ts) >= s.st
            GROUP BY 1
        ),
        t AS (
            SELECT CAST(s.user_id % 2 AS INT) AS grp,
                   CAST(ceil(CAST(coalesce(en, hor) - st AS DOUBLE)
                             / 3600000000.0) AS DOUBLE) AS tt,
                   CASE WHEN en IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM s CROSS JOIN h LEFT JOIN e ON e.user_id = s.user_id
            WHERE st IS NOT NULL
        ),
        g AS (
            SELECT grp, tt, CAST(sum(ev) AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS x
            FROM t GROUP BY 1, 2
        ),
        k AS (
            SELECT *, sum(x) OVER (PARTITION BY grp)
                       - coalesce(sum(x) OVER (PARTITION BY grp
                             ORDER BY tt ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS nrisk
            FROM g
        ),
        f AS (
            SELECT *, 1.0 - CAST(d AS DOUBLE) / CAST(nrisk AS DOUBLE) AS fa
            FROM k
        ),
        sv AS (
            SELECT *,
                   CASE WHEN min(fa) OVER cum <= 0.0 THEN 0.0
                        ELSE exp(sum(ln(CASE WHEN fa > 0.0 THEN fa
                                             ELSE 1.0 END)) OVER cum)
                   END AS sc,
                   lead(tt) OVER (PARTITION BY grp ORDER BY tt) AS nxt,
                   row_number() OVER (PARTITION BY grp ORDER BY tt) AS rn
            FROM f
            WINDOW cum AS (PARTITION BY grp ORDER BY tt
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        contrib AS (
            SELECT grp, x,
                   (CASE WHEN tt < 168.0
                         THEN sc * (least(coalesce(nxt, 168.0), 168.0) - tt)
                         ELSE 0.0 END)
                   + (CASE WHEN rn = 1 THEN least(tt, 168.0)
                           ELSE 0.0 END) AS c
            FROM sv
        )
        SELECT grp, CAST(sum(x) AS BIGINT) AS n,
               {_sr_sql("sum(c)", 6)} AS rmst
        FROM contrib GROUP BY grp ORDER BY grp
    """

    o["cumulative_incidence"] = f"""
        WITH s AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup'
                            THEN epoch_us(ts) END) AS st
            FROM events GROUP BY 1
        ),
        h AS (SELECT max(epoch_us(ts)) AS hor FROM events),
        fe AS (
            SELECT ev.user_id,
                   min(CASE WHEN ev.event_type = 'purchase'
                            THEN epoch_us(ev.ts) END) AS pu,
                   min(CASE WHEN ev.event_type = 'error'
                            THEN epoch_us(ev.ts) END) AS er
            FROM events ev JOIN s ON s.user_id = ev.user_id
            WHERE s.st IS NOT NULL AND epoch_us(ev.ts) >= s.st
            GROUP BY 1
        ),
        t AS (
            SELECT CAST(ceil(CAST(
                       (CASE WHEN pu IS NOT NULL
                                  AND (er IS NULL OR pu <= er) THEN pu
                             WHEN er IS NOT NULL THEN er
                             ELSE hor END) - st AS DOUBLE)
                       / 3600000000.0) AS BIGINT) AS tt,
                   CASE WHEN pu IS NOT NULL AND (er IS NULL OR pu <= er)
                        THEN 1
                        WHEN er IS NOT NULL THEN 2 ELSE 0 END AS c
            FROM fe JOIN s ON s.user_id = fe.user_id CROSS JOIN h
        ),
        g AS (
            SELECT tt, CAST(count(*) AS BIGINT) AS x,
                   CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS d
            FROM t GROUP BY 1
        ),
        k AS (
            SELECT *, sum(x) OVER ()
                       - coalesce(sum(x) OVER (ORDER BY tt
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS nrisk
            FROM g
        ),
        f AS (
            SELECT *, 1.0 - CAST(d AS DOUBLE) / CAST(nrisk AS DOUBLE) AS fa
            FROM k
        ),
        sv AS (
            SELECT *,
                   CASE WHEN min(fa) OVER cum <= 0.0 THEN 0.0
                        ELSE exp(sum(ln(CASE WHEN fa > 0.0 THEN fa
                                             ELSE 1.0 END)) OVER cum)
                   END AS sc
            FROM f
            WINDOW cum AS (ORDER BY tt ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
        ),
        sp AS (
            SELECT *, coalesce(lag(sc) OVER (ORDER BY tt), 1.0) AS sprev
            FROM sv
        ),
        per AS (
            SELECT c, tt, CAST(count(*) AS BIGINT) AS dk
            FROM t WHERE c > 0 GROUP BY 1, 2
        ),
        causes AS (SELECT DISTINCT c FROM per),
        fl AS (
            SELECT ca.c, sp.tt, sp.nrisk, sp.sprev,
                   coalesce(p.dk, 0) AS dk
            FROM sp CROSS JOIN causes ca
            LEFT JOIN per p ON p.c = ca.c AND p.tt = sp.tt
        )
        SELECT c AS cause, tt AS duration,
               CAST(nrisk AS BIGINT) AS n_risk,
               CAST(dk AS BIGINT) AS n_events,
               {_sr_sql(
                   "sum(sprev * CAST(dk AS DOUBLE) / CAST(nrisk AS DOUBLE))"
                   " OVER (PARTITION BY c ORDER BY tt ROWS BETWEEN"
                   " UNBOUNDED PRECEDING AND CURRENT ROW)", 6
               )} AS cif
        FROM fl ORDER BY cause, duration
    """

    o["roc_auc"] = f"""
        WITH p AS (
            SELECT CAST(n_chars AS DOUBLE) AS s,
                   CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS l
            FROM documents
            WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        ),
        g AS (
            SELECT s, sum(l) AS np, sum(1.0 - l) AS nn
            FROM p GROUP BY 1
        ),
        u AS (
            SELECT np, nn,
                   np * (coalesce(sum(nn) OVER (ORDER BY s
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) + nn / 2.0) AS uu
            FROM g
        )
        SELECT CAST(sum(np + nn) AS BIGINT) AS n,
               CAST(sum(np) AS BIGINT) AS n_pos,
               CAST(sum(nn) AS BIGINT) AS n_neg,
               {_sr_sql(
                   "sum(uu) / nullif(sum(np) * sum(nn), 0)", 6
               )} AS auc
        FROM u
    """

    o["weibull_fit"] = f"""
        WITH p AS (
            SELECT CAST(user_id AS VARCHAR) AS key, epoch_us(ts) AS us
            FROM events WHERE event_type = 'purchase'
        ),
        g AS (
            SELECT key,
                   CAST(us - lag(us) OVER (PARTITION BY key ORDER BY us)
                        AS DOUBLE) / 3600000000.0 AS d
            FROM p
        ),
        r AS (
            SELECT key, ln(d) AS x,
                   CAST(row_number() OVER (PARTITION BY key ORDER BY d)
                        AS DOUBLE) AS i,
                   CAST(count(*) OVER (PARTITION BY key) AS DOUBLE) AS n
            FROM g WHERE d IS NOT NULL AND d > 0
        ),
        y AS (
            SELECT key, x, ln(-ln(1.0 - (i - 0.3) / (n + 0.4))) AS y
            FROM r
        ),
        a AS (
            SELECT key, CAST(count(*) AS BIGINT) AS n,
                   covar_pop(x, y) / nullif(var_pop(x), 0) AS k,
                   avg(x) AS mx, avg(y) AS my,
                   (covar_pop(x, y) * covar_pop(x, y))
                       / nullif(var_pop(x) * var_pop(y), 0) AS r2
            FROM y GROUP BY key
        )
        SELECT key, n,
               {_sr_sql("k", 6)} AS shape,
               {_sr_sql("exp(mx - my / k)", 6)} AS scale,
               {_sr_sql("r2", 6)} AS r2
        FROM a
    """

    o["interevent_stats"] = f"""
        WITH e AS (
            SELECT CAST(user_id AS VARCHAR) AS key, epoch_us(ts) AS us
            FROM events
        ),
        g AS (
            SELECT key, us,
                   CAST(us - lag(us) OVER w AS DOUBLE) / 1000000.0 AS gap
            FROM e
            WINDOW w AS (PARTITION BY key ORDER BY us)
        ),
        g2 AS (
            SELECT key, gap,
                   lag(gap) OVER (PARTITION BY key ORDER BY us) AS prev
            FROM g
        ),
        f AS (SELECT * FROM g2 WHERE gap IS NOT NULL)
        SELECT key, CAST(count(gap) AS BIGINT) AS n_gaps,
               {_sr_sql("avg(gap)", 6)} AS mean_gap_s,
               {_sr_sql("stddev_pop(gap)", 6)} AS sd_gap_s,
               {_sr_sql("stddev_pop(gap) / nullif(avg(gap), 0)", 6)} AS cv,
               {_sr_sql(
                   "(stddev_pop(gap) - avg(gap))"
                   " / nullif(stddev_pop(gap) + avg(gap), 0)", 6
               )} AS burstiness,
               {_sr_sql(
                   "covar_pop(CASE WHEN prev IS NOT NULL THEN gap END, prev)"
                   " / nullif(stddev_pop(CASE WHEN prev IS NOT NULL"
                   " THEN gap END) * stddev_pop(prev), 0)", 6
               )} AS memory
        FROM f GROUP BY key
    """

    o["engagement_hist"] = f"""
        WITH acts AS (
            SELECT DISTINCT CAST(user_id AS VARCHAR) AS k,
                   CAST(date_trunc('week', ts) AS TIMESTAMP) AS b,
                   date_trunc('day', ts) AS d
            FROM events
        ),
        pk AS (
            SELECT b, k, CAST(count(*) AS BIGINT) AS days
            FROM acts GROUP BY 1, 2
        ),
        h AS (
            SELECT b AS bucket, days AS active_days,
                   CAST(count(*) AS BIGINT) AS n_keys
            FROM pk GROUP BY 1, 2
        )
        SELECT bucket, active_days, n_keys,
               {_sr_sql(
                   "CAST(n_keys AS DOUBLE) / CAST(sum(n_keys)"
                   " OVER (PARTITION BY bucket) AS DOUBLE)", 6
               )} AS share
        FROM h
    """

    o["type_diversity"] = f"""
        WITH c AS (
            SELECT CAST(user_id AS VARCHAR) AS key, event_type AS t,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        p AS (
            SELECT key, c,
                   CAST(c AS DOUBLE)
                       / CAST(sum(c) OVER (PARTITION BY key) AS DOUBLE) AS p
            FROM c
        )
        SELECT key, CAST(sum(c) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_types,
               {_sr_sql("-sum(p * ln(p))", 6)} AS shannon,
               {_sr_sql("1.0 - sum(p * p)", 6)} AS simpson,
               {_sr_sql("exp(-sum(p * ln(p)))", 6)} AS effective_types
        FROM p GROUP BY key
    """

    o["capm"] = _DAILY_GRID_SQL + _FILLED_SQL + f"""
        , rr AS (
            SELECT key, loc,
                   value / nullif(lag(value) OVER (
                       PARTITION BY key ORDER BY loc), 0) - 1.0 AS ret
            FROM filled WHERE value IS NOT NULL
        ),
        rx AS (SELECT key, loc, ret FROM rr WHERE ret IS NOT NULL),
        mk AS (
            SELECT key, ret, avg(ret) OVER (PARTITION BY loc) AS mkt
            FROM rx
        )
        SELECT key, CAST(count(*) AS BIGINT) AS n,
               {_sr_sql(
                   "avg(ret) - covar_pop(ret, mkt)"
                   " / nullif(var_pop(mkt), 0) * avg(mkt)", 6
               )} AS alpha,
               {_sr_sql(
                   "covar_pop(ret, mkt) / nullif(var_pop(mkt), 0)", 6
               )} AS beta,
               {_sr_sql(
                   "(covar_pop(ret, mkt) * covar_pop(ret, mkt))"
                   " / nullif(var_pop(ret) * var_pop(mkt), 0)", 6
               )} AS r2
        FROM mk GROUP BY key
    """

    o["microstructure"] = f"""
        WITH bars AS (
            SELECT CAST(user_id AS VARCHAR) AS key,
                   date_trunc('day', ts) AS day,
                   arg_max(value, ts) AS close,
                   sum(abs(value)) AS volume
            FROM events GROUP BY 1, 2
        ),
        d0 AS (
            SELECT key, day, volume,
                   close / nullif(lag(close) OVER w, 0) - 1.0 AS ret,
                   close - lag(close) OVER w AS dp
            FROM bars
            WINDOW w AS (PARTITION BY key ORDER BY day)
        ),
        d AS (
            SELECT key, volume, ret, dp,
                   lag(dp) OVER (PARTITION BY key ORDER BY day) AS dp_prev
            FROM d0
        )
        SELECT key, CAST(count(*) AS BIGINT) AS n_bars,
               {_sr_sql(
                   "avg(CASE WHEN volume > 0 THEN abs(ret) / volume END)", 9
               )} AS amihud,
               {_sr_sql(
                   "covar_pop(CASE WHEN dp_prev IS NOT NULL THEN dp END,"
                   " dp_prev)", 6
               )} AS roll_cov,
               {_sr_sql(
                   "CASE WHEN covar_pop(CASE WHEN dp_prev IS NOT NULL"
                   " THEN dp END, dp_prev) < 0 THEN"
                   " 2.0 * sqrt(-covar_pop(CASE WHEN dp_prev IS NOT NULL"
                   " THEN dp END, dp_prev)) END", 6
               )} AS roll_spread
        FROM d GROUP BY key
    """

    o["white_noise"] = _pgram_base + f"""
        , pw AS (SELECT key, k, (a*a + b*b) * 2 / n AS p FROM ag),
        cu AS (
            SELECT key, k, p,
                   sum(p) OVER (PARTITION BY key ORDER BY k
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cp,
                   sum(p) OVER (PARTITION BY key) AS tot,
                   count(*) OVER (PARTITION BY key) AS m
            FROM pw
        ),
        ks AS (
            SELECT key, CAST(max(m) AS BIGINT) AS m,
                   max(abs(cp / tot - CAST(k AS DOUBLE) / m)) AS d
            FROM cu GROUP BY key
        )
        SELECT key, m,
               {_sr_sql("d", 6)} AS ks_stat,
               {_sr_sql("1.36 / sqrt(m)", 6)} AS crit_05,
               {_sr_sql("1.63 / sqrt(m)", 6)} AS crit_01,
               CASE WHEN d < 1.36 / sqrt(m) THEN 1 ELSE 0 END
                   AS white_noise_05
        FROM ks
    """

    o["intrinsic_dim"] = f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        x AS (
            SELECT vec_id, CAST(i - 1 AS INT) AS i, v[i] AS xi
            FROM e, unnest(range(1, len(v) + 1)) AS r(i)
        ),
        c AS (
            SELECT a.i, b.i AS j, covar_samp(a.xi, b.xi) AS cov
            FROM x a JOIN x b USING (vec_id)
            GROUP BY 1, 2
        ),
        agg AS (
            SELECT CAST(max(i) + 1 AS INT) AS dim,
                   sum(CASE WHEN i = j THEN cov END) AS tr,
                   sum(cov * cov) AS tr2
            FROM c
        ),
        cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e)
        SELECT cnt.n, agg.dim,
               {_sr_sql("tr", 6)} AS total_var,
               {_sr_sql("tr * tr / tr2", 6)} AS pr,
               {_sr_sql("tr * tr / tr2 / dim", 6)} AS pr_ratio
        FROM cnt CROSS JOIN agg
    """

    o["pinball"] = f"""
        WITH e AS (
            SELECT CAST(user_id AS VARCHAR) AS key, value, ts
            FROM events WHERE value IS NOT NULL
        ),
        r AS (
            SELECT key, value,
                   row_number() OVER (PARTITION BY key ORDER BY ts) AS rn,
                   count(*) OVER (PARTITION BY key) AS n
            FROM e
        ),
        c AS (
            SELECT key, value,
                   rn <= floor(CAST(0.8 AS DOUBLE) * n) AS cal
            FROM r
        ),
        q AS (
            SELECT key,
                   quantile_cont(value, 0.1) FILTER (WHERE cal) AS q1,
                   quantile_cont(value, 0.5) FILTER (WHERE cal) AS q5,
                   quantile_cont(value, 0.9) FILTER (WHERE cal) AS q9
            FROM c GROUP BY key
        ),
        t AS (
            SELECT c.key, c.value, q.q1, q.q5, q.q9
            FROM c JOIN q USING (key) WHERE NOT cal
        ),
        l AS (
            SELECT key, CAST(0.1 AS DOUBLE) AS tau, q1 AS q_hat, value
            FROM t
            UNION ALL
            SELECT key, CAST(0.5 AS DOUBLE), q5, value FROM t
            UNION ALL
            SELECT key, CAST(0.9 AS DOUBLE), q9, value FROM t
        )
        SELECT key, tau,
               {_sr_sql("q_hat", 6)} AS q_hat,
               CAST(count(*) AS BIGINT) AS n_test,
               {_sr_sql(
                   "avg(greatest(tau * (value - q_hat),"
                   " (tau - 1.0) * (value - q_hat)))", 6
               )} AS pinball
        FROM l GROUP BY key, tau, q_hat
    """

    o["cluster_separation"] = f"""
        WITH e AS (
            SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        x AS (
            SELECT label, CAST(i - 1 AS INT) AS i, v[i] AS xi
            FROM e, unnest(range(1, len(v) + 1)) AS r(i)
        ),
        per AS (
            SELECT label, i, sum(xi) AS s,
                   CAST(count(*) AS BIGINT) AS n, sum(xi * xi) AS ss
            FROM x GROUP BY 1, 2
        ),
        main AS (
            SELECT sum(ss) AS sumsq, sum(s * s / n) AS expl,
                   CAST(sum(CASE WHEN i = 0 THEN n END) AS BIGINT) AS ntot,
                   CAST(count(DISTINCT label) AS INT) AS k
            FROM per
        ),
        g AS (
            SELECT sum(si * si / ni) AS gm2
            FROM (
                SELECT i, sum(s) AS si, sum(n) AS ni FROM per GROUP BY i
            )
        )
        SELECT ntot AS n, k,
               {_sr_sql("sumsq - expl", 3)} AS within,
               {_sr_sql("expl - gm2", 3)} AS between,
               {_sr_sql(
                   "((expl - gm2) / (k - 1.0))"
                   " / ((sumsq - expl) / (ntot - CAST(k AS DOUBLE)))", 4
               )} AS ch_index
        FROM main CROSS JOIN g
    """

    o["spectral_flatness"] = _pgram_base + f"""
        , pw AS (SELECT key, (a*a + b*b) * 2 / n AS p FROM ag)
        SELECT key, CAST(count(*) AS BIGINT) AS m,
               {_sr_sql(
                   "CASE WHEN sum(CASE WHEN p <= 0 THEN 1 ELSE 0 END) > 0"
                   " THEN 0.0 ELSE"
                   " exp(avg(CASE WHEN p > 0 THEN ln(p) END)) / avg(p)"
                   " END", 6
               )} AS flatness
        FROM pw GROUP BY key
    """

    o["fdr"] = f"""
        WITH obs AS (
            SELECT CAST(user_id AS VARCHAR) AS k, value
            FROM events WHERE value IS NOT NULL
        ),
        c AS (
            SELECT k, value - avg(value) OVER (PARTITION BY k) AS c
            FROM obs
        ),
        a AS (
            SELECT k, CAST(count(*) AS BIGINT) AS n,
                   avg(c * c) AS m2, avg(c * c * c) AS m3,
                   avg(c * c * c * c) AS m4
            FROM c GROUP BY k
        ),
        j AS (
            SELECT k,
                   CAST(n AS DOUBLE) / 6.0
                       * ((m3 / sqrt(m2 * m2 * m2))
                              * (m3 / sqrt(m2 * m2 * m2))
                          + (m4 / (m2 * m2) - 3.0)
                              * (m4 / (m2 * m2) - 3.0) / 4.0) AS jb
            FROM a WHERE n >= 2
        ),
        pv AS (SELECT k, exp(-jb / 2.0) AS p FROM j),
        rk AS (
            SELECT k, p,
                   CAST(row_number() OVER (ORDER BY p) AS DOUBLE) AS i,
                   CAST(count(*) OVER () AS DOUBLE) AS m
            FROM pv
        ),
        qq AS (
            SELECT k, p,
                   least(min(p * m / i) OVER (
                       ORDER BY p ROWS BETWEEN CURRENT ROW
                       AND UNBOUNDED FOLLOWING), 1.0) AS q
            FROM rk
        )
        SELECT k AS key,
               {_sr_sql("p", 6)} AS p,
               {_sr_sql("q", 6)} AS q,
               CASE WHEN q <= 0.05 THEN 1 ELSE 0 END AS reject
        FROM qq
    """

    o["cuped"] = f"""
        WITH e AS (
            SELECT CAST(user_id AS VARCHAR) AS key, value,
                   ts < TIMESTAMP '2024-01-16' AS is_pre
            FROM events WHERE value IS NOT NULL
        ),
        per AS (
            SELECT key,
                   avg(value) FILTER (WHERE is_pre) AS pre,
                   avg(value) FILTER (WHERE NOT is_pre) AS post
            FROM e GROUP BY key
        ),
        pp AS (
            SELECT * FROM per
            WHERE pre IS NOT NULL AND post IS NOT NULL
        ),
        s AS (
            SELECT covar_pop(pre, post) / nullif(var_pop(pre), 0)
                       AS theta,
                   avg(pre) AS mx, var_pop(post) AS vy,
                   var_pop(post)
                       - covar_pop(pre, post) * covar_pop(pre, post)
                           / nullif(var_pop(pre), 0) AS vadj
            FROM pp
        )
        SELECT key,
               {_sr_sql("pre", 6)} AS pre,
               {_sr_sql("post", 6)} AS post,
               {_sr_sql("post - theta * (pre - mx)", 6)} AS post_cuped,
               {_sr_sql("theta", 6)} AS theta,
               {_sr_sql("1.0 - vadj / vy", 6)} AS var_reduction
        FROM pp CROSS JOIN s
    """

    o["srm"] = f"""
        WITH cnt AS (
            SELECT user_id % 3 AS v, CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1
        ),
        tot AS (
            SELECT CAST(sum(c) AS BIGINT) AS n,
                   CAST(count(*) AS INT) AS k
            FROM cnt
        ),
        chi AS (
            SELECT n, k,
                   sum((CAST(c AS DOUBLE) - CAST(n AS DOUBLE) / k)
                       * (CAST(c AS DOUBLE) - CAST(n AS DOUBLE) / k)
                       / (CAST(n AS DOUBLE) / k)) AS chi2
            FROM cnt CROSS JOIN tot GROUP BY n, k
        )
        SELECT n, k,
               {_sr_sql("chi2", 6)} AS chi2,
               {_sr_sql("CASE k - 1 WHEN 1 THEN 3.841 WHEN 2 THEN 5.991"
                        " WHEN 3 THEN 7.815 END", 6)} AS crit_05,
               CASE WHEN chi2 > (CASE k - 1 WHEN 1 THEN 3.841
                                 WHEN 2 THEN 5.991 WHEN 3 THEN 7.815 END)
                    THEN 1 ELSE 0 END AS srm_detected
        FROM chi
    """

    _Z975 = "1.959963984540054"
    o["ab_conv"] = f"""
        WITH per AS (
            SELECT CAST(user_id AS VARCHAR) AS k,
                   CAST(user_id % 2 AS VARCHAR) AS variant,
                   CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) >= 15
                        THEN 1 ELSE 0 END AS c
            FROM events GROUP BY 1, 2
        ),
        v AS (
            SELECT variant, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(c) AS BIGINT) AS conv
            FROM per GROUP BY 1
        ),
        w AS (
            SELECT variant, n, conv,
                   CAST(conv AS DOUBLE) / n AS p,
                   CAST(n AS DOUBLE) AS nd,
                   {_Z975} * {_Z975} AS z2
            FROM v
        ),
        wi AS (
            SELECT variant, n, conv, p,
                   (p + z2 / (2 * nd)) / (1 + z2 / nd) AS center,
                   {_Z975} * sqrt(p * (1 - p) / nd
                                  + z2 / (4 * nd * nd))
                       / (1 + z2 / nd) AS half
            FROM w
        ),
        pool AS (
            SELECT CAST(sum(n) AS DOUBLE) AS ntot,
                   CAST(sum(conv) AS DOUBLE) AS ctot,
                   min(p) AS pmin, max(p) AS pmax,
                   CAST(min(n) AS DOUBLE) AS n1,
                   CAST(max(n) AS DOUBLE) AS n2
            FROM w
        )
        SELECT variant, n, conv,
               {_sr_sql("p", 6)} AS rate,
               {_sr_sql("center - half", 6)} AS wilson_lo,
               {_sr_sql("center + half", 6)} AS wilson_hi,
               {_sr_sql(
                   "(pmax - pmin) / sqrt((ctot / ntot) * (1 - ctot / ntot)"
                   " * (1.0 / n1 + 1.0 / n2))", 6
               )} AS z,
               CASE WHEN (pmax - pmin)
                        / sqrt((ctot / ntot) * (1 - ctot / ntot)
                               * (1.0 / n1 + 1.0 / n2)) > {_Z975}
                    THEN 1 ELSE 0 END AS significant_05
        FROM wi CROSS JOIN pool
    """

    o["gpd"] = f"""
        WITH e AS (
            SELECT CAST(user_id AS VARCHAR) AS key, value
            FROM events WHERE value IS NOT NULL
        ),
        u AS (
            SELECT key, quantile_cont(value, 0.95) AS u,
                   CAST(count(*) AS BIGINT) AS n
            FROM e GROUP BY key
        ),
        exc AS (
            SELECT e.key, e.value - u.u AS y, u.u, u.n
            FROM e JOIN u USING (key) WHERE e.value > u.u
        ),
        r AS (
            SELECT key, y, u, n,
                   CAST(row_number() OVER (PARTITION BY key ORDER BY y)
                        AS DOUBLE) AS i,
                   CAST(count(*) OVER (PARTITION BY key) AS DOUBLE) AS m
            FROM exc
        ),
        a AS (
            SELECT key, max(n) AS n, CAST(count(*) AS BIGINT) AS n_exc,
                   max(u) AS threshold, avg(y) AS b0,
                   sum(y * (m - i) / nullif(m - 1.0, 0)) / max(m) AS a1
            FROM r GROUP BY key
        ),
        f AS (
            SELECT key, n, n_exc, threshold, b0, a1,
                   nullif(b0 - 2 * a1, 0) AS den,
                   CAST(n_exc AS DOUBLE) / n AS zeta
            FROM a
        )
        SELECT key, n, n_exc,
               {_sr_sql("threshold", 6)} AS threshold,
               {_sr_sql("2.0 - b0 / den", 6)} AS xi,
               {_sr_sql("2.0 * b0 * a1 / den", 6)} AS beta,
               {_sr_sql(
                   "threshold + (2.0 * b0 * a1 / den)"
                   " / (2.0 - b0 / den)"
                   " * (pow(zeta / 0.01, 2.0 - b0 / den) - 1.0)", 6
               )} AS var_p
        FROM f
    """

    o["brier"] = f"""
        WITH p AS (
            SELECT CAST(n_chars % 100 AS DOUBLE) / CAST(100.0 AS DOUBLE)
                       AS s,
                   CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS l
            FROM documents
            -- mirror the operator's NULL-row drop STRUCTURALLY (the
            -- mrr-oracle rule): a NULL lang maps to a NULL label on
            -- the Spark side and the row is dropped, not counted as 0
            WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        ),
        g AS (
            SELECT s, CAST(count(*) AS DOUBLE) AS nk, avg(l) AS yk,
                   -- exact positive count, NOT nk*avg (the long cast
                   -- would truncate 49*(1/49) = 0.999..)
                   sum(l) AS pk
            FROM p GROUP BY 1
        ),
        a AS (
            SELECT CAST(sum(nk) AS DOUBLE) AS n,
                   sum(pk) AS npos,
                   sum(nk * (s - yk) * (s - yk)) AS reln,
                   sum(nk * yk * yk) AS y2n
            FROM g
        ),
        d AS (
            SELECT n, npos,
                   reln / n AS rel,
                   y2n / n - (npos / n) * (npos / n) AS res,
                   (npos / n) * (1.0 - npos / n) AS unc
            FROM a
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(npos AS BIGINT) AS n_pos,
               {_sr_sql("rel - res + unc", 6)} AS brier,
               {_sr_sql("rel", 6)} AS reliability,
               {_sr_sql("res", 6)} AS resolution,
               {_sr_sql("unc", 6)} AS uncertainty
        FROM d
    """

    o["average_precision"] = f"""
        WITH p AS (
            SELECT CAST(n_chars AS DOUBLE) AS s,
                   CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS l
            FROM documents
            WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        ),
        g AS (
            SELECT s, sum(l) AS np, CAST(count(*) AS BIGINT) AS nt
            FROM p GROUP BY 1
        ),
        c AS (
            SELECT np, nt,
                   sum(np) OVER w / CAST(sum(nt) OVER w AS DOUBLE) AS prec
            FROM g
            WINDOW w AS (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        )
        SELECT CAST(sum(nt) AS BIGINT) AS n,
               CAST(sum(np) AS BIGINT) AS n_pos,
               CAST(sum(nt) - sum(np) AS BIGINT) AS n_neg,
               {_sr_sql("sum(np * prec) / nullif(sum(np), 0)", 6)} AS ap
        FROM c
    """

    o["concordance_index"] = f"""
        WITH s AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup'
                            THEN epoch_us(ts) END) AS st
            FROM events GROUP BY 1
        ),
        h AS (SELECT max(epoch_us(ts)) AS hor FROM events),
        e AS (
            SELECT ev.user_id, min(epoch_us(ev.ts)) AS en
            FROM events ev JOIN s ON s.user_id = ev.user_id
            WHERE ev.event_type = 'purchase' AND epoch_us(ev.ts) >= s.st
            GROUP BY 1
        ),
        cnt AS (
            SELECT user_id, CAST(count(*) AS DOUBLE) AS c
            FROM events GROUP BY 1
        ),
        t AS (
            SELECT ceil(CAST(coalesce(en, hor) - st AS DOUBLE)
                        / 3600000000.0) AS tt,
                   CASE WHEN en IS NOT NULL THEN 1 ELSE 0 END AS ev,
                   least(floor(c / 10.0), CAST(20 AS DOUBLE)) AS r
            FROM s CROSS JOIN h
            LEFT JOIN e ON e.user_id = s.user_id
            JOIN cnt ON cnt.user_id = s.user_id
            WHERE st IS NOT NULL
        ),
        cells AS (
            SELECT tt, r, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(ev) AS BIGINT) AS nev,
                   CAST(count(*) - sum(ev) AS BIGINT) AS ncens
            FROM t GROUP BY 1, 2
        ),
        tg AS (SELECT DISTINCT tt FROM cells),
        rg AS (SELECT DISTINCT r FROM cells),
        dense AS (
            SELECT tg.tt, rg.r,
                   coalesce(c.n, 0) AS n,
                   coalesce(c.nev, 0) AS nev,
                   coalesce(c.ncens, 0) AS ncens
            FROM tg CROSS JOIN rg
            LEFT JOIN cells c ON c.tt = tg.tt AND c.r = rg.r
        ),
        lat AS (
            SELECT *,
                   coalesce(sum(n) OVER (PARTITION BY r ORDER BY tt
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
                       0) + ncens AS later
            FROM dense
        ),
        av AS (
            SELECT *,
                   coalesce(sum(later) OVER (PARTITION BY tt ORDER BY r
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS ca,
                   coalesce(sum(later) OVER (PARTITION BY tt ORDER BY r
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
                       0) AS da
            FROM lat
        )
        SELECT CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(nev) AS BIGINT) AS n_events,
               CAST(sum(nev * (ca + later + da)) AS BIGINT) AS comparable,
               CAST(sum(nev * ca) AS BIGINT) AS concordant,
               CAST(sum(nev * later) AS BIGINT) AS tied_risk,
               {_sr_sql(
                   "(CAST(sum(nev * ca) AS DOUBLE)"
                   " + CAST(sum(nev * later) AS DOUBLE) / 2.0)"
                   " / nullif(CAST(sum(nev * (ca + later + da))"
                   " AS DOUBLE), 0)", 6
               )} AS c_index
        FROM av
    """

    o["log_loss"] = f"""
        WITH p AS (
            SELECT greatest(least(
                       CAST(n_chars % 100 AS DOUBLE)
                           / CAST(100.0 AS DOUBLE),
                       1.0 - 1e-15), 1e-15) AS s,
                   CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS l
            FROM documents
            WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        )
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(l) AS BIGINT) AS n_pos,
               {_sr_sql(
                   "avg(-(l * ln(s) + (1.0 - l) * ln(1.0 - s)))", 6
               )} AS log_loss
        FROM p
    """

    o["classification_report"] = f"""
        WITH p AS (
            SELECT CASE WHEN CAST(n_chars AS DOUBLE) >= 300.0
                        THEN 1.0 ELSE 0.0 END AS pr,
                   CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS l
            FROM documents
            WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        ),
        a AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(pr * l) AS BIGINT) AS tp,
                   CAST(sum(pr * (1.0 - l)) AS BIGINT) AS fp,
                   CAST(sum((1.0 - pr) * (1.0 - l)) AS BIGINT) AS tn,
                   CAST(sum((1.0 - pr) * l) AS BIGINT) AS fn
            FROM p
        ),
        d AS (
            SELECT n, tp, fp, tn, fn,
                   CAST(tp AS DOUBLE) AS tpd, CAST(fp AS DOUBLE) AS fpd,
                   CAST(tn AS DOUBLE) AS tnd, CAST(fn AS DOUBLE) AS fnd
            FROM a
        ),
        r AS (
            SELECT *,
                   tpd / nullif(tpd + fpd, 0) AS prec,
                   tpd / nullif(tpd + fnd, 0) AS rec
            FROM d
        )
        SELECT n, tp, fp, tn, fn,
               {_sr_sql("(tpd + tnd) / CAST(n AS DOUBLE)", 6)} AS accuracy,
               {_sr_sql("prec", 6)} AS precision,
               {_sr_sql("rec", 6)} AS recall,
               {_sr_sql("tnd / nullif(tnd + fpd, 0)", 6)} AS specificity,
               {_sr_sql("2.0 * prec * rec / nullif(prec + rec, 0)", 6)}
                   AS f1,
               {_sr_sql(
                   "(tpd * tnd - fpd * fnd) / nullif(sqrt((tpd + fpd)"
                   " * (tpd + fnd) * (tnd + fpd) * (tnd + fnd)), 0)", 6
               )} AS mcc
        FROM r
    """

    o["lift_table"] = f"""
        WITH p AS (
            SELECT CAST(n_chars AS DOUBLE) AS s,
                   CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS l
            FROM documents
            WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        ),
        g AS (
            SELECT s, CAST(count(*) AS BIGINT) AS nt, sum(l) AS np
            FROM p GROUP BY 1
        ),
        c AS (
            SELECT nt, np,
                   sum(nt) OVER w AS cn, sum(np) OVER w AS cp,
                   sum(nt) OVER () AS nn, sum(np) OVER () AS pp
            FROM g
            WINDOW w AS (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        ),
        per AS (
            SELECT CAST(ceil(10.0 * CAST(cn AS DOUBLE)
                             / CAST(nn AS DOUBLE)) AS INT) AS bucket,
                   CAST(sum(nt) AS BIGINT) AS n,
                   CAST(sum(np) AS BIGINT) AS n_pos,
                   CAST(max(cn) AS BIGINT) AS cum_n,
                   CAST(max(cp) AS BIGINT) AS cum_pos,
                   CAST(max(nn) AS DOUBLE) AS nd,
                   CAST(max(pp) AS DOUBLE) AS pd
            FROM c GROUP BY 1
        )
        SELECT bucket, n, n_pos,
               {_sr_sql(
                   "CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)", 6
               )} AS pos_rate,
               cum_n, cum_pos,
               {_sr_sql(
                   "CAST(cum_pos AS DOUBLE) / nullif(pd, 0)", 6
               )} AS gain,
               {_sr_sql(
                   "(CAST(cum_pos AS DOUBLE) / nullif(pd, 0))"
                   " / (CAST(cum_n AS DOUBLE) / nd)", 6
               )} AS lift
        FROM per ORDER BY bucket
    """

    _chi2_crit_sql = (
        "CASE dof WHEN 1 THEN 3.841 WHEN 2 THEN 5.991"
        " WHEN 3 THEN 7.815 WHEN 4 THEN 9.488"
        " WHEN 5 THEN 11.070 WHEN 6 THEN 12.592"
        " WHEN 7 THEN 14.067 WHEN 8 THEN 15.507"
        " WHEN 9 THEN 16.919 WHEN 10 THEN 18.307"
        " ELSE dof * pow(1.0 - 2.0 / (9.0 * dof)"
        " + 1.6448536269514722 * sqrt(2.0 / (9.0 * dof)), 3.0)"
        " END"
    )
    o["g_test"] = f"""
        WITH p AS (
            SELECT lang AS a, source AS b FROM documents
            WHERE lang IS NOT NULL AND source IS NOT NULL
        ),
        cells AS (
            SELECT a, b, CAST(count(*) AS DOUBLE) AS oo
            FROM p GROUP BY 1, 2
        ),
        m AS (
            SELECT *, sum(oo) OVER (PARTITION BY a) AS ra,
                   sum(oo) OVER (PARTITION BY b) AS cb
            FROM cells
        ),
        agg AS (
            SELECT CAST(sum(oo) AS BIGINT) AS n,
                   CAST(count(DISTINCT a) AS INT) AS r,
                   CAST(count(DISTINCT b) AS INT) AS c,
                   sum(oo * ln(oo / (ra * cb))) AS s,
                   sum(oo) AS nd
            FROM m
        ),
        fin AS (
            SELECT n, r, c,
                   2.0 * (s + nd * ln(nd)) AS g,
                   CAST((r - 1) * (c - 1) AS INT) AS dof
            FROM agg
        )
        SELECT n, r, c, {_sr_sql("g", 6)} AS g, dof,
               {_sr_sql(_chi2_crit_sql, 6)} AS crit_05,
               g > ({_chi2_crit_sql}) AS reject_05
        FROM fin
    """

    o["cohen_kappa"] = f"""
        WITH p AS (
            SELECT CASE WHEN lang = 'en' THEN 'y' ELSE 'n' END AS a,
                   CASE WHEN n_chars % 2 = 0 THEN 'y' ELSE 'n' END AS b
            FROM documents
        ),
        cells AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS oo
            FROM p GROUP BY 1, 2
        ),
        ma AS (SELECT a AS v, sum(oo) AS ra FROM cells GROUP BY 1),
        mb AS (SELECT b AS v, sum(oo) AS cb FROM cells GROUP BY 1),
        marg AS (
            SELECT coalesce(ma.v, mb.v) AS v,
                   coalesce(ra, 0) AS ra, coalesce(cb, 0) AS cb
            FROM ma FULL OUTER JOIN mb ON ma.v = mb.v
        ),
        d AS (
            SELECT CAST(sum(oo) AS DOUBLE) AS nd,
                   CAST(sum(oo) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN a = b THEN oo ELSE 0 END)
                        AS DOUBLE) AS agree
            FROM cells
        ),
        pe AS (
            SELECT CAST(count(*) AS INT) AS k,
                   sum(CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)) AS pesum
            FROM marg
        ),
        fin AS (
            SELECT n, k, agree / nd AS po, pesum / (nd * nd) AS pe
            FROM d CROSS JOIN pe
        )
        SELECT n, k AS n_categories,
               {_sr_sql("po", 6)} AS po,
               {_sr_sql("pe", 6)} AS pe,
               {_sr_sql("(po - pe) / nullif(1.0 - pe, 0)", 6)} AS kappa
        FROM fin
    """

    o["cochran_armitage"] = f"""
        WITH p AS (
            SELECT CAST(user_id % 5 AS DOUBLE) AS s,
                   CASE WHEN event_type = 'purchase'
                        THEN 1.0 ELSE 0.0 END AS l
            FROM events
            WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        ),
        a AS (
            -- stable covar_pop/var_pop form, mirroring the operator
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT s) AS INT) AS k,
                   sum(l) AS rr,
                   covar_pop(l, s) AS cls, var_pop(s) AS vs
            FROM p
        ),
        d AS (
            SELECT n, k, rr,
                   CAST(n AS DOUBLE) * cls AS t,
                   (rr / CAST(n AS DOUBLE))
                       * (1.0 - rr / CAST(n AS DOUBLE))
                       * CAST(n AS DOUBLE) * vs AS v
            FROM a
        ),
        z AS (
            SELECT n, k, rr, t, v,
                   CASE WHEN v > 0.0 THEN t / sqrt(v) END AS zz
            FROM d
        )
        SELECT n, k, CAST(rr AS BIGINT) AS n_pos,
               {_sr_sql("t", 6)} AS t_stat,
               {_sr_sql("v", 6)} AS var_t,
               {_sr_sql("zz", 6)} AS z,
               {_sr_sql("zz * zz", 6)} AS chi2,
               zz * zz > 3.841 AS reject_05
        FROM z
    """

    o["anova_oneway"] = f"""
        WITH p AS (
            SELECT event_type AS g, value AS v FROM events
            WHERE value IS NOT NULL
        ),
        gm AS (
            SELECT g, CAST(count(*) AS DOUBLE) AS n, avg(v) AS m,
                   var_samp(v) AS vv
            FROM p GROUP BY 1
        ),
        a AS (
            SELECT sum(n) AS nn, CAST(count(*) AS INT) AS k,
                   sum(n * m) AS snm, sum(n * m * m) AS snm2,
                   sum((n - 1.0) * coalesce(vv, 0.0)) AS ssw
            FROM gm
        ),
        d AS (
            SELECT nn, k, snm2 - snm * snm / nn AS ssb, ssw FROM a
        )
        SELECT CAST(nn AS BIGINT) AS n, k,
               {_sr_sql("ssb", 4)} AS ss_between,
               {_sr_sql("ssw", 4)} AS ss_within,
               {_sr_sql(
                   "CASE WHEN nn > k AND ssw > 0.0 THEN"
                   " (ssb / (CAST(k AS DOUBLE) - 1.0))"
                   " / (ssw / (nn - CAST(k AS DOUBLE))) END", 6
               )} AS f_stat,
               CAST(k - 1 AS INT) AS df1,
               CAST(nn - k AS INT) AS df2,
               {_sr_sql("ssb / nullif(ssb + ssw, 0)", 6)} AS eta_sq
        FROM d
    """

    o["kendall_tau_b"] = f"""
        WITH p AS (
            SELECT CAST(user_id % 20 AS DOUBLE) AS x,
                   floor(value * 10 + 0.5) / 10 AS y
            FROM events
            WHERE value IS NOT NULL AND user_id IS NOT NULL
        ),
        cells AS (
            SELECT x, y, CAST(count(*) AS BIGINT) AS n
            FROM p GROUP BY 1, 2
        ),
        xg AS (SELECT DISTINCT x FROM cells),
        yg AS (SELECT DISTINCT y FROM cells),
        dense AS (
            SELECT xg.x, yg.y, coalesce(c.n, 0) AS n
            FROM xg CROSS JOIN yg
            LEFT JOIN cells c ON c.x = xg.x AND c.y = yg.y
        ),
        l1 AS (
            SELECT *,
                   coalesce(sum(n) OVER (PARTITION BY x ORDER BY y
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
                       0) AS gty,
                   coalesce(sum(n) OVER (PARTITION BY x ORDER BY y
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS lty
            FROM dense
        ),
        l2 AS (
            SELECT *,
                   coalesce(sum(gty) OVER (PARTITION BY y ORDER BY x
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
                       0) AS cc,
                   coalesce(sum(lty) OVER (PARTITION BY y ORDER BY x
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
                       0) AS dd
            FROM l1
        ),
        pa AS (
            SELECT CAST(sum(n) AS DOUBLE) AS nt,
                   sum(CAST(n AS DOUBLE) * cc) AS c,
                   sum(CAST(n AS DOUBLE) * dd) AS d
            FROM l2
        ),
        mx AS (
            SELECT sum(t * (t - 1.0) / 2.0) AS n1,
                   sum(t * (t - 1.0) * (2.0 * t + 5.0)) AS vt,
                   sum(t * (t - 1.0)) AS xt1,
                   sum(t * (t - 1.0) * (t - 2.0)) AS xt2
            FROM (SELECT CAST(sum(n) AS DOUBLE) AS t
                  FROM cells GROUP BY x)
        ),
        my AS (
            SELECT sum(t * (t - 1.0) / 2.0) AS n2,
                   sum(t * (t - 1.0) * (2.0 * t + 5.0)) AS vu,
                   sum(t * (t - 1.0)) AS yt1,
                   sum(t * (t - 1.0) * (t - 2.0)) AS yt2
            FROM (SELECT CAST(sum(n) AS DOUBLE) AS t
                  FROM cells GROUP BY y)
        ),
        fin AS (
            SELECT nt, c, d, n1, n2, vt, vu, xt1, xt2, yt1, yt2,
                   nt * (nt - 1.0) / 2.0 AS n0,
                   c - d AS s,
                   nt * (nt - 1.0) * (2.0 * nt + 5.0) AS v0
            FROM pa CROSS JOIN mx CROSS JOIN my
        )
        SELECT CAST(nt AS BIGINT) AS n,
               CAST(c AS BIGINT) AS concordant,
               CAST(d AS BIGINT) AS discordant,
               CAST(s AS BIGINT) AS s,
               {_sr_sql(
                   "s / nullif(sqrt((n0 - n1) * (n0 - n2)), 0)", 6
               )} AS tau_b,
               {_sr_sql(
                   "CASE WHEN (v0 - vt - vu) / 18.0"
                   " + coalesce(xt1 * yt1 / nullif(2.0 * nt"
                   " * (nt - 1.0), 0), 0)"
                   " + coalesce(xt2 * yt2 / nullif(9.0 * nt * (nt - 1.0)"
                   " * (nt - 2.0), 0), 0) > 0.0 THEN"
                   " s / sqrt((v0 - vt - vu) / 18.0"
                   " + coalesce(xt1 * yt1 / nullif(2.0 * nt"
                   " * (nt - 1.0), 0), 0)"
                   " + coalesce(xt2 * yt2 / nullif(9.0 * nt * (nt - 1.0)"
                   " * (nt - 2.0), 0), 0)) END", 6
               )} AS z
        FROM fin
    """

    o["energy_distance"] = f"""
        WITH p AS (
            SELECT CAST(user_id % 2 AS INT) AS g,
                   floor(value * 100 + 0.5) / 100 AS v
            FROM events
            WHERE value IS NOT NULL AND user_id IS NOT NULL
        ),
        cells AS (
            SELECT v,
                   CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)
                        AS DOUBLE) AS na,
                   CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
                        AS DOUBLE) AS nb
            FROM p GROUP BY 1
        ),
        l AS (
            SELECT *,
                   coalesce(sum(na) OVER w, 0) AS ca,
                   coalesce(sum(na * v) OVER w, 0) AS sa,
                   coalesce(sum(nb) OVER w, 0) AS cb,
                   coalesce(sum(nb * v) OVER w, 0) AS sb
            FROM cells
            WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING)
        ),
        a AS (
            SELECT sum(na) AS n1, sum(nb) AS n2,
                   sum(na * (v * cb - sb) + nb * (v * ca - sa)) AS sab,
                   sum(na * (v * ca - sa)) AS saa,
                   sum(nb * (v * cb - sb)) AS sbb
            FROM l
        ),
        d AS (
            SELECT n1, n2,
                   sab / nullif(n1 * n2, 0) AS exy,
                   2.0 * saa / nullif(n1 * n1, 0) AS exx,
                   2.0 * sbb / nullif(n2 * n2, 0) AS eyy
            FROM a
        )
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               {_sr_sql("exy", 6)} AS e_xy,
               {_sr_sql("exx", 6)} AS e_xx,
               {_sr_sql("eyy", 6)} AS e_yy,
               {_sr_sql("2.0 * exy - exx - eyy", 6)} AS energy,
               {_sr_sql(
                   "n1 * n2 / (n1 + n2) * (2.0 * exy - exx - eyy)", 6
               )} AS e_stat
        FROM d
    """

    o["partial_corr"] = f"""
        WITH p AS (
            SELECT CAST(l_extendedprice AS DOUBLE) AS x,
                   CAST(l_quantity AS DOUBLE) AS y,
                   CAST(l_discount AS DOUBLE) AS z
            FROM lineitem
            WHERE l_extendedprice IS NOT NULL
              AND l_quantity IS NOT NULL AND l_discount IS NOT NULL
        ),
        a AS (
            -- stable covar_samp/var_samp builtins, mirroring the
            -- operator (raw-moment algebra cancels catastrophically
            -- on large-offset inputs)
            SELECT CAST(count(*) AS BIGINT) AS n,
                   covar_samp(x, y) AS cxy, covar_samp(x, z) AS cxz,
                   covar_samp(y, z) AS cyz,
                   var_samp(x) AS vx, var_samp(y) AS vy,
                   var_samp(z) AS vz
            FROM p
        ),
        r AS (
            SELECT n,
                   cxy / nullif(sqrt(vx * vy), 0) AS rxy,
                   cxz / nullif(sqrt(vx * vz), 0) AS rxz,
                   cyz / nullif(sqrt(vy * vz), 0) AS ryz
            FROM a
        )
        SELECT n,
               {_sr_sql("rxy", 6)} AS r_xy,
               {_sr_sql("rxz", 6)} AS r_xz,
               {_sr_sql("ryz", 6)} AS r_yz,
               {_sr_sql(
                   "(rxy - rxz * ryz) / nullif(sqrt((1.0 - rxz * rxz)"
                   " * (1.0 - ryz * ryz)), 0)", 6
               )} AS r_partial
        FROM r
    """

    o["theil_u"] = f"""
        WITH p AS (
            SELECT lang AS a, source AS b FROM documents
            WHERE lang IS NOT NULL AND source IS NOT NULL
        ),
        cells AS (
            SELECT a, b, CAST(count(*) AS DOUBLE) AS oo
            FROM p GROUP BY 1, 2
        ),
        m AS (
            SELECT *, sum(oo) OVER (PARTITION BY a) AS ra,
                   sum(oo) OVER (PARTITION BY b) AS cb
            FROM cells
        ),
        mia AS (
            SELECT sum(oo) AS nd, sum(oo * ln(oo / (ra * cb))) AS s
            FROM m
        ),
        ea AS (
            SELECT sum(t * ln(t)) AS e FROM (
                SELECT sum(oo) AS t FROM cells GROUP BY a)
        ),
        eb AS (
            SELECT sum(t * ln(t)) AS e FROM (
                SELECT sum(oo) AS t FROM cells GROUP BY b)
        ),
        fin AS (
            SELECT nd,
                   ln(nd) - ea.e / nd AS ha,
                   ln(nd) - eb.e / nd AS hb,
                   (s + nd * ln(nd)) / nd AS mi
            FROM mia CROSS JOIN ea CROSS JOIN eb
        )
        SELECT CAST(nd AS BIGINT) AS n,
               {_sr_sql("ha", 6)} AS h_a,
               {_sr_sql("hb", 6)} AS h_b,
               {_sr_sql("mi", 6)} AS mi,
               {_sr_sql("mi / nullif(ha, 0)", 6)} AS u_a_given_b,
               {_sr_sql("mi / nullif(hb, 0)", 6)} AS u_b_given_a
        FROM fin
    """

    o["hellinger"] = f"""
        WITH p AS (
            SELECT CAST(user_id % 2 AS INT) AS g,
                   floor(value * 10 + 0.5) / 10 AS v
            FROM events
            WHERE value IS NOT NULL AND user_id IS NOT NULL
        ),
        cells AS (
            SELECT v,
                   CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)
                        AS DOUBLE) AS na,
                   CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
                        AS DOUBLE) AS nb
            FROM p GROUP BY 1
        ),
        a AS (
            SELECT sum(na) AS n1, sum(nb) AS n2,
                   sum(sqrt(na * nb)) AS sroot
            FROM cells
        ),
        d AS (
            SELECT n1, n2, sroot / nullif(sqrt(n1 * n2), 0) AS bc
            FROM a
        )
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               {_sr_sql("bc", 6)} AS bc,
               {_sr_sql("sqrt(greatest(0.0, 1.0 - bc))", 6)} AS hellinger,
               {_sr_sql(
                   "CASE WHEN bc > 0.0 THEN -ln(bc) END", 6
               )} AS bhattacharyya
        FROM d
    """
    return o
