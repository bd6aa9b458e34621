"""TimeSeriesDataFrame — the user-facing handle (reference:
``TimeSeriesRDD``, ``/root/reference/src/main/scala/com/cloudera/sparkts/TimeSeriesRDD.scala:41-54``).

A thin immutable wrapper around a *conformed* observations DataFrame
``(key STRING, loc BIGINT, ts TIMESTAMP, value DOUBLE)`` — one row per
key×index-instant, NULL value = missing — plus the shared
:class:`~spark_timeseries_spark.index.DateTimeIndex`. Every method returns a
new wrapper; all heavy lifting is the declarative operators in
``spark_timeseries_spark.operators`` so Catalyst/AQE own the physical plan.

Unlike the reference, series are NOT one-JVM-object-per-series: a single
series larger than executor memory is fine because it is just rows. The
"each series fits in memory" envelope of the reference
(``src/site/markdown/index.md:35-40``) only returns at explicit pandas-UDF
boundaries (``map_series``, model fitting).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .index import DateTimeIndex, LazyIrregularDateTimeIndex
from .operators import align, fill as fill_ops, filters, lag as lag_ops, layout, resample as resample_ops, rolling
from .parallel import map_groups


class TimeSeriesDataFrame:
    KEY, LOC, TS, VALUE = "key", "loc", "ts", "value"

    def __init__(self, df: DataFrame, index: DateTimeIndex):
        self.df = df
        self.index = index

    # -- construction ------------------------------------------------------
    @classmethod
    def from_observations(
        cls,
        df: DataFrame,
        index: DateTimeIndex,
        ts_col: str = "ts",
        key_col: str = "key",
        value_col: str = "value",
        duplicates: str = "max",
    ) -> "TimeSeriesDataFrame":
        """``timeSeriesRDDFromObservations`` (``TimeSeriesRDD.scala:694-745``).
        ``duplicates``: "max" (default) / "min" / "fail" — see
        :func:`operators.align.from_observations`. Every key of ``df`` gets
        the full grid, including one with no observation on ``index``
        (all NULL); a NULL key is one series with its own cells."""
        return cls(
            align.from_observations(
                df, index, ts_col, key_col, value_col, duplicates=duplicates
            ),
            index,
        )

    # -- layout ------------------------------------------------------------
    def to_observations(self) -> DataFrame:
        return layout.to_observations(self.df)

    def to_instants_df(
        self,
        keys: list[str] | None = None,
        max_pivot_keys: int | None = None,
    ) -> DataFrame:
        return layout.to_instants_df(
            self.df, keys, max_pivot_keys=max_pivot_keys
        )

    def to_instants_map(self) -> DataFrame:
        return layout.to_instants_map(self.df)

    def to_series(self) -> DataFrame:
        return layout.to_series(self.df)

    def series_stats(self) -> DataFrame:
        return layout.series_stats(self.df)

    def to_indexed_row_matrix(self):
        """Instants → MLlib ``IndexedRowMatrix`` (``TimeSeriesRDD.scala:456-476``);
        uniform indices only, row index = loc, columns = sorted keys."""
        return layout.to_indexed_row_matrix(self.df, self.index)

    def to_row_matrix(self):
        """Instants → MLlib ``RowMatrix`` (``TimeSeriesRDD.scala:478-486``)."""
        return layout.to_row_matrix(self.df)

    def to_pandas(self) -> pd.DataFrame:
        """Driver-side instants matrix (``collectAsTimeSeries``,
        ``TimeSeriesRDD.scala:61-75``). Small data only."""
        pdf = self.df.toPandas()
        return pdf.pivot_table(
            index=self.TS, columns=self.KEY, values=self.VALUE, dropna=False
        )

    # -- filtering / slicing ----------------------------------------------
    def filter(self, predicate: Column) -> "TimeSeriesDataFrame":
        return TimeSeriesDataFrame(self.df.where(predicate), self.index)

    def find_series(self, key: str) -> "TimeSeriesDataFrame":
        return TimeSeriesDataFrame(filters.find_series(self.df, key), self.index)

    def filter_starting_before(self, dt) -> "TimeSeriesDataFrame":
        return TimeSeriesDataFrame(filters.filter_starting_before(self.df, dt), self.index)

    def filter_ending_after(self, dt) -> "TimeSeriesDataFrame":
        return TimeSeriesDataFrame(filters.filter_ending_after(self.df, dt), self.index)

    def slice(self, start, end) -> "TimeSeriesDataFrame":
        return TimeSeriesDataFrame(
            filters.slice_by_time(self.df, start, end), self.index.slice(start, end)
        )

    def islice(self, start: int, end: int) -> "TimeSeriesDataFrame":
        return TimeSeriesDataFrame(
            filters.islice(self.df, start, end), self.index.islice(start, end)
        )

    def filter_by_instant(self, predicate: Column, keys=None) -> "TimeSeriesDataFrame":
        out = filters.filter_by_instant(self.df, predicate, keys)
        return TimeSeriesDataFrame(out, self._irregular_from(out))

    def remove_instants_with_nans(self) -> "TimeSeriesDataFrame":
        out = filters.remove_instants_with_nans(self.df)
        return TimeSeriesDataFrame(out, self._irregular_from(out))

    def _irregular_from(self, df: DataFrame) -> DateTimeIndex:
        """Surviving-instant index after instant-level filtering. Genuinely
        lazy: constructing the returned wrapper triggers NO Spark job — the
        distinct-instant collect runs only if the index's instants are
        actually read driver-side (and the O(#instants) driver memory is only
        paid then)."""
        zone = self.index.zone
        return LazyIrregularDateTimeIndex(
            lambda: [
                r[0]
                for r in df.select(self.TS).distinct().orderBy(self.TS).collect()
            ],
            zone,
        )

    # -- alignment ---------------------------------------------------------
    def with_index(self, new_index: DateTimeIndex) -> "TimeSeriesDataFrame":
        return TimeSeriesDataFrame(align.with_index(self.df, new_index), new_index)

    # -- imputation --------------------------------------------------------
    def fill(self, method: str) -> "TimeSeriesDataFrame":
        return TimeSeriesDataFrame(fill_ops.fill(self.df, method), self.index)

    def fill_value(self, value: float) -> "TimeSeriesDataFrame":
        return TimeSeriesDataFrame(fill_ops.fill_value(self.df, value), self.index)

    # -- windowed transforms ----------------------------------------------
    def lags(self, max_lag: int, include_originals: bool = True) -> "TimeSeriesDataFrame":
        out = lag_ops.lags(self.df, max_lag, include_originals)
        return TimeSeriesDataFrame(
            out.withColumn(self.LOC, F.col(self.LOC) - max_lag),
            self.index.islice(max_lag, self.index.size),
        )

    def differences(self, n: int = 1) -> "TimeSeriesDataFrame":
        out = lag_ops.differences(self.df, n).withColumn(self.LOC, F.col(self.LOC) - n)
        return TimeSeriesDataFrame(out, self.index.islice(n, self.index.size))

    def quotients(self, n: int = 1) -> "TimeSeriesDataFrame":
        out = lag_ops.quotients(self.df, n).withColumn(self.LOC, F.col(self.LOC) - n)
        return TimeSeriesDataFrame(out, self.index.islice(n, self.index.size))

    def return_rates(self) -> "TimeSeriesDataFrame":
        out = lag_ops.return_rates(self.df).withColumn(self.LOC, F.col(self.LOC) - 1)
        return TimeSeriesDataFrame(out, self.index.islice(1, self.index.size))

    def roll_sum(self, n: int, align_: str = "right") -> "TimeSeriesDataFrame":
        return self._roll("sum", n, align_)

    def roll_mean(self, n: int, align_: str = "right") -> "TimeSeriesDataFrame":
        return self._roll("avg", n, align_)

    def roll_min(self, n: int, align_: str = "right") -> "TimeSeriesDataFrame":
        return self._roll("min", n, align_)

    def roll_max(self, n: int, align_: str = "right") -> "TimeSeriesDataFrame":
        return self._roll("max", n, align_)

    def roll_std(self, n: int, align_: str = "right") -> "TimeSeriesDataFrame":
        """Rolling sample std (n−1 denominator) — beyond-reference."""
        return self._roll("stddev", n, align_)

    def roll_var(self, n: int, align_: str = "right") -> "TimeSeriesDataFrame":
        return self._roll("variance", n, align_)

    def roll_quantile(
        self, n: int, q: float, align_: str = "right"
    ) -> "TimeSeriesDataFrame":
        """Exact interpolated rolling quantile (numpy-default linear at
        (n−1)·q) — robust beyond-reference companion of :meth:`roll_mean`;
        see :func:`operators.rolling.roll_quantile`."""
        out = rolling.roll_quantile(self.df, n, q, align_)
        lo, hi = rolling._frame(n, align_)
        out = out.withColumn(self.LOC, F.col(self.LOC) + lo)
        return TimeSeriesDataFrame(out, self.index.islice(-lo, self.index.size - hi))

    def roll_median(self, n: int, align_: str = "right") -> "TimeSeriesDataFrame":
        """Exact rolling median (interpolated on even windows)."""
        return self.roll_quantile(n, 0.5, align_)

    def roll_rank(
        self, n: int, align_: str = "right"
    ) -> "TimeSeriesDataFrame":
        """Rolling percentile rank of each value within its own n-window
        — beyond-reference; see :func:`operators.rolling.roll_rank`."""
        out = rolling.roll_rank(self.df, n, align_)
        lo, hi = rolling._frame(n, align_)
        out = out.withColumn(self.LOC, F.col(self.LOC) + lo)
        return TimeSeriesDataFrame(
            out, self.index.islice(-lo, self.index.size - hi)
        )

    def downsample_minmax(self, buckets: int) -> DataFrame:
        """Extrema-preserving plot downsample — beyond-reference; see
        :func:`operators.layout.downsample_minmax`."""
        from .operators.layout import downsample_minmax

        return downsample_minmax(self.df, buckets)

    def roll_skew(self, n: int, align_: str = "right") -> "TimeSeriesDataFrame":
        """Rolling adjusted Fisher–Pearson skewness (pandas
        ``rolling().skew()`` convention); see
        :func:`operators.rolling.roll_skew`."""
        return self._roll_via(rolling.roll_skew, n, align_)

    def roll_kurt(self, n: int, align_: str = "right") -> "TimeSeriesDataFrame":
        """Rolling adjusted excess kurtosis (pandas ``rolling().kurt()``
        convention); see :func:`operators.rolling.roll_kurt`."""
        return self._roll_via(rolling.roll_kurt, n, align_)

    def roll_corr(self, key_a: str, key_b: str, n: int) -> DataFrame:
        """Rolling Pearson correlation between two series — windowed
        companion of :meth:`crosscorr`."""
        return rolling.roll_corr(self.df, key_a, key_b, n)

    def roll_beta(self, key_a: str, key_b: str, n: int) -> DataFrame:
        """Rolling OLS beta/alpha of one series on another — windowed
        hedge-ratio companion of :meth:`roll_corr`; see
        :func:`operators.rolling.roll_beta`."""
        return rolling.roll_beta(self.df, key_a, key_b, n)

    def scale(self, method: str = "zscore") -> DataFrame:
        """Per-series scaling (zscore / robust / minmax) —
        beyond-reference; see :func:`operators.scale.scale`."""
        from .operators.scale import scale as _scale

        return _scale(self.df, method)

    def _roll_via(self, fn, n: int, align_: str) -> "TimeSeriesDataFrame":
        out = fn(self.df, n, align_)
        lo, hi = rolling._frame(n, align_)
        out = out.withColumn(self.LOC, F.col(self.LOC) + lo)
        return TimeSeriesDataFrame(out, self.index.islice(-lo, self.index.size - hi))

    def crosscorr(self, key_a: str, key_b: str, max_lag: int) -> DataFrame:
        """Cross-correlation (lag 0..max_lag) between two series —
        beyond-reference companion of :meth:`autocorr`."""
        return rolling.crosscorr(self.df, key_a, key_b, max_lag)

    def corr_matrix(self, min_overlap: int = 2) -> DataFrame:
        """Pairwise Pearson correlation across all series (strict upper
        triangle, pairwise-complete) — beyond-reference; see
        :func:`operators.rolling.corr_matrix`."""
        return rolling.corr_matrix(self.df, min_overlap)

    def _roll(self, agg: str, n: int, align_: str) -> "TimeSeriesDataFrame":
        out = rolling.roll_agg(self.df, n, agg, align_)
        lo, hi = rolling._frame(n, align_)
        # surviving locs are [-lo, size-1-hi]; renumber to 0-based
        out = out.withColumn(self.LOC, F.col(self.LOC) + lo)
        return TimeSeriesDataFrame(out, self.index.islice(-lo, self.index.size - hi))

    def autocorr(self, max_lag: int) -> DataFrame:
        return rolling.autocorr(self.df, max_lag)

    def ts_features(self, tile: int = 10) -> DataFrame:
        """Per-series feature catalog (acf1, crossing points, tiled
        stability/lumpiness) — beyond-reference; see
        :func:`operators.features.ts_features`."""
        from .operators.features import ts_features

        return ts_features(self.df, tile)

    def stl_decompose(self, period: int, robust: bool = False) -> DataFrame:
        """STL-style decomposition (periodic seasonal, LOESS trend,
        optional bisquare robustness) — beyond-reference; see
        :func:`operators.stl.stl_decompose`."""
        from .operators.stl import stl_decompose

        return stl_decompose(self.df, period, robust=robust)

    def seasonal_decompose(self, period: int) -> DataFrame:
        """Classical additive decomposition (trend / seasonal / resid) —
        beyond-reference companion of Holt-Winters; see
        :func:`operators.decompose.seasonal_decompose`."""
        from .operators.decompose import seasonal_decompose

        return seasonal_decompose(self.df, period)

    def drawdown(self, mode: str = "ratio") -> "TimeSeriesDataFrame":
        """Running peak + drawdown per row — beyond-reference; see
        :func:`operators.cumulative.drawdown`."""
        from .operators.cumulative import drawdown

        return TimeSeriesDataFrame(drawdown(self.df, mode), self.index)

    def max_drawdown(self, mode: str = "ratio") -> DataFrame:
        """Per-series worst drawdown with trough location —
        beyond-reference; see :func:`operators.cumulative.max_drawdown`."""
        from .operators.cumulative import max_drawdown

        return max_drawdown(self.df, mode)

    def changepoint_mean(self, minseg: int = 2) -> DataFrame:
        """Single mean-shift changepoint per series (binary-segmentation
        step) — beyond-reference; see
        :func:`operators.changepoint.changepoint_mean`."""
        from .operators.changepoint import changepoint_mean

        return changepoint_mean(self.df, minseg)

    def hurst_rs(
        self, block_sizes: tuple[int, ...] = (8, 16, 32)
    ) -> DataFrame:
        """Hurst exponent per series (R/S analysis) — beyond-reference;
        see :func:`operators.features.hurst_rs`."""
        from .operators.features import hurst_rs

        return hurst_rs(self.df, block_sizes)

    def half_life(self) -> DataFrame:
        """AR(1) mean-reversion half-life per series — beyond-reference;
        see :func:`operators.features.half_life`."""
        from .operators.features import half_life

        return half_life(self.df)

    def permutation_entropy(self, m: int = 3) -> DataFrame:
        """Bandt-Pompe ordinal-pattern entropy per series —
        beyond-reference; see
        :func:`operators.features.permutation_entropy`."""
        from .operators.features import permutation_entropy

        return permutation_entropy(self.df, m)

    def interarrival_stats(self) -> DataFrame:
        """Per-series inter-arrival statistics + burstiness over the raw
        stamps — beyond-reference; see
        :func:`operators.features.interarrival_stats`."""
        from .operators.features import interarrival_stats

        return interarrival_stats(self.df)

    def sax(self, w: int = 8, a: int = 4) -> DataFrame:
        """SAX symbolic word per series — beyond-reference; see
        :func:`operators.sax.sax`."""
        from .operators.sax import sax as _sax

        return _sax(self.df, w, a)

    def threshold_runs(
        self, threshold: float, min_length: int = 1
    ) -> DataFrame:
        """Maximal above-threshold exceedance episodes per series —
        beyond-reference; see
        :func:`operators.features.threshold_runs`."""
        from .operators.features import threshold_runs

        return threshold_runs(self.df, threshold, min_length)

    def find_peaks(self, k: int = 1) -> DataFrame:
        """Strict local maxima with windowed depth — beyond-reference;
        see :func:`operators.features.find_peaks`."""
        from .operators.features import find_peaks

        return find_peaks(self.df, k)

    def cusum_changepoints(
        self, k: float = 0.5, h: float = 5.0, standardize: bool = True
    ) -> DataFrame:
        """Per-series CUSUM change-point summary — beyond-reference; see
        :func:`operators.cusum.cusum_changepoints`."""
        from .operators.cusum import cusum_changepoints

        return cusum_changepoints(self.df, k, h, standardize=standardize)

    def dtw_nearest(
        self, query_key: str, k: int = 5, band: int | None = None
    ) -> DataFrame:
        """k nearest series under Dynamic Time Warping —
        beyond-reference; see :func:`operators.dtw.dtw_nearest`."""
        from .operators.dtw import dtw_nearest

        return dtw_nearest(self.df, query_key, k, band)

    def matrix_profile(
        self, m: int, exclusion: int | None = None
    ) -> DataFrame:
        """Per-series matrix profile (motif/discord distances) —
        beyond-reference; see
        :func:`operators.matrixprofile.matrix_profile`."""
        from .operators.matrixprofile import matrix_profile

        return matrix_profile(self.df, m, exclusion)

    def pettitt(self) -> DataFrame:
        """Pettitt rank-based single-changepoint test per series —
        beyond-reference; see
        :func:`operators.changepoint.pettitt`."""
        from .operators.changepoint import pettitt

        return pettitt(self.df)

    def mann_kendall(self) -> DataFrame:
        """Per-series Mann-Kendall nonparametric trend test —
        beyond-reference; see :func:`operators.cusum.mann_kendall`."""
        from .operators.cusum import mann_kendall

        return mann_kendall(self.df)

    def seasonal_mann_kendall(self, period: int) -> DataFrame:
        """Seasonal Mann-Kendall trend test per series —
        beyond-reference; see
        :func:`operators.cusum.seasonal_mann_kendall`."""
        from .operators.cusum import seasonal_mann_kendall

        return seasonal_mann_kendall(self.df, period)

    def theil_sen(self) -> DataFrame:
        """Per-series Theil–Sen robust trend — beyond-reference; see
        :func:`operators.cusum.theil_sen`."""
        from .operators.cusum import theil_sen

        return theil_sen(self.df)

    def outliers(
        self, method: str = "mad", threshold: float = 3.5
    ) -> DataFrame:
        """Per-series outlier flagging (z-score / robust MAD) —
        beyond-reference; see :func:`operators.outliers.outliers`."""
        from .operators.outliers import outliers as _outliers

        return _outliers(self.df, method, threshold)

    def hampel(
        self, half_window: int = 3, n_sigmas: float = 3.0
    ) -> DataFrame:
        """Per-series LOCAL outlier flagging vs a rolling median/MAD —
        beyond-reference; see :func:`operators.outliers.hampel`."""
        from .operators.outliers import hampel as _hampel

        return _hampel(self.df, half_window, n_sigmas)

    def winsorize(
        self, lower: float = 0.1, upper: float = 0.9
    ) -> DataFrame:
        """Per-series quantile clipping — beyond-reference; see
        :func:`operators.outliers.winsorize`."""
        from .operators.outliers import winsorize as _winsorize

        return _winsorize(self.df, lower, upper)

    def theta_forecast(self, h: int, alpha: float = 0.4) -> DataFrame:
        """Classical Theta-method h-step forecast — beyond-reference; see
        :func:`models.baselines.theta_forecast`."""
        from .models.baselines import theta_forecast as _theta

        return _theta(self.df, h, alpha)

    def periodogram(self) -> DataFrame:
        """Schuster periodogram at the Fourier frequencies per series —
        beyond-reference; see :func:`operators.spectral.periodogram`."""
        from .operators.spectral import periodogram as _periodogram

        return _periodogram(self.df)

    def dominant_period(self, tie_digits: int | None = None) -> DataFrame:
        """Argmax-power Fourier frequency / period per series —
        beyond-reference; see
        :func:`operators.spectral.dominant_period`."""
        from .operators.spectral import dominant_period as _dominant

        return _dominant(self.df, tie_digits=tie_digits)

    # -- resampling --------------------------------------------------------
    def resample(
        self,
        target_index: DateTimeIndex,
        aggr: str | Column = "avg",
        closed_right: bool = False,
        stamp_right: bool = False,
    ) -> "TimeSeriesDataFrame":
        out = resample_ops.resample(
            self.to_observations(), target_index, aggr, closed_right, stamp_right
        )
        return TimeSeriesDataFrame(out, target_index)

    # -- escape hatches (reference §2.13 UDF surface) ----------------------
    def map_series(
        self, fn: Callable[..., pd.Series], with_key: bool = False
    ) -> "TimeSeriesDataFrame":
        """``mapSeries`` (``TimeSeriesRDD.scala:246-260``): apply a
        same-length transform to each series as a pandas Series indexed by
        loc. Grouped-map pandas UDF — the documented slow path.

        ``with_key=True`` is ``mapSeriesWithKey``
        (``TimeSeries.scala:337-346``): ``fn(key, series)`` instead of
        ``fn(series)``, for transforms that branch on which series they
        are rewriting."""
        value = self.VALUE
        key_col = self.KEY

        def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("loc")
            s = pd.Series(pdf[value].to_numpy(), index=pdf["loc"].to_numpy())
            out = fn(pdf[key_col].iloc[0], s) if with_key else fn(s)
            pdf[value] = out.to_numpy()
            return pdf

        out = map_groups(self.df, self.KEY, _apply, self.df.schema)
        return TimeSeriesDataFrame(out, self.index)

    def aggr_series(self, fn: Callable[[pd.DataFrame], pd.DataFrame], schema):
        """Per-series arbitrary aggregation → caller-defined schema
        (``mapValues``, ``TimeSeries.scala:361-363``)."""
        return map_groups(self.df, self.KEY, fn, schema)

    # -- basic sugar -------------------------------------------------------
    def sum(self) -> DataFrame:
        return self.df.groupBy(self.KEY).agg(F.sum(self.VALUE).alias("sum"))

    def mean(self) -> DataFrame:
        return self.df.groupBy(self.KEY).agg(F.avg(self.VALUE).alias("mean"))

    def count(self) -> int:
        return self.df.count()

    def cache(self) -> "TimeSeriesDataFrame":
        self.df.cache()
        return self
