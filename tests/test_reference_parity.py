"""Spec-by-example parity tests ported from the reference's suites:
ResampleSuite ASCII tables (all four boundary regimes), FillSuite arrays,
lags worked example, index algebra, business-day frequency
(cf. SURVEY.md §5 items 3-5)."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import spark_timeseries_spark as sts
from spark_timeseries_spark import (
    BusinessDayFrequency,
    DayFrequency,
    HourFrequency,
    MonthFrequency,
    TimeSeriesDataFrame,
    irregular,
    uniform,
)
from spark_timeseries_spark.operators import fill as fill_ops
from spark_timeseries_spark.operators import lag as lag_ops
from spark_timeseries_spark.operators import resample as resample_ops

BASE = pd.Timestamp("2015-04-08")


def _parse_ascii(s: str):
    """Parse the reference's ASCII series strings: digit (possibly two-digit)
    at char offset i = value at day BASE+i; 'N' = NaN
    (ResampleSuite.scala:32-52)."""
    points = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == " ":
            i += 1
            continue
        if c == "N":
            points.append((float("nan"), i))
            i += 1
            continue
        j = i
        while j + 1 < len(s) and s[j + 1].isdigit():
            j += 1
        points.append((float(s[i : j + 1]), i))
        i = j + 1
    return points


DOWNSAMPLE_CASES = [
    ("0  1  2  3  4  5  6  7  8", False, False, "3        12       21"),
    ("0  1  2  3  4  5  6  7  8", True, False, "6        15       15"),
    ("1  2  3  4  5  6  7  8  9", False, True, "N        6        15"),
    ("0  1  2  3  4  5  6  7  8", True, True, "0        6        15"),
    ("0  1  2  3  4  5  6  7  8", False, False, "         12       21       N"),
    ("1  2  3  4  5  6  7  8  9", True, False, "         18       17        N"),
    ("0  1  2  3  4  5  6  7  8", False, True, "         3        12       21"),
    ("1  2  3  4  5  6  7  8  9", True, True, "         10       18       17"),
    ("0  1  2  3  4  5  6  7  8", False, False, "6         15       15"),
    ("0  1  2  3  4  5  6  7  8", True, False, "6         15       15"),
    ("1  2  3  4  5  6  7  8  9", False, True, "N         10       18"),
    ("0  1  2  3  4  5  6  7  8", True, True, "0         6        15"),
    ("1    2    3    4    5", False, False, "1 N  2  N 3 N  4 N  5"),
    ("1    2    3    4    5", False, False, "1   2   N 3 N  4 N  5"),
]


@pytest.mark.parametrize("series,closed_right,stamp_right,expected", DOWNSAMPLE_CASES)
def test_resample_regimes_ascii(spark, series, closed_right, stamp_right, expected):
    src = _parse_ascii(series)
    want = _parse_ascii(expected)
    obs = spark.createDataFrame(
        [
            ((BASE + pd.Timedelta(days=off)).to_pydatetime(), "x", v)
            for v, off in src
            if not math.isnan(v)
        ],
        "ts timestamp, key string, value double",
    )
    target = irregular([BASE + pd.Timedelta(days=off) for _, off in want])
    out = resample_ops.resample(
        obs, target, "sum", closed_right=closed_right, stamp_right=stamp_right
    )
    got = out.orderBy("loc").toPandas()
    got_vals = got.value.to_numpy(dtype=float)
    want_vals = np.array([v for v, _ in want])
    np.testing.assert_allclose(got_vals, want_vals, equal_nan=True)


FILL_CASES = {
    "previous": [
        ([1.0], [1.0]),
        ([1.0, 1.0, 2.0], [1.0, 1.0, 2.0]),
        ([1.0, None, 2.0], [1.0, 1.0, 2.0]),
        ([1.0, None, None, 2.0], [1.0, 1.0, 1.0, 2.0]),
        ([1.0, None, None, None, 2.0], [1.0, 1.0, 1.0, 1.0, 2.0]),
        ([1.0, None, 3.0, None, 2.0], [1.0, 1.0, 3.0, 3.0, 2.0]),
    ],
    "next": [
        ([1.0, None, 2.0], [1.0, 2.0, 2.0]),
        ([1.0, None, None, 2.0], [1.0, 2.0, 2.0, 2.0]),
        ([1.0, None, 3.0, None, 2.0], [1.0, 3.0, 3.0, 2.0, 2.0]),
        # leading and trailing NULL runs
        ([None, None, 1.0, None, 2.0, None, None],
         [1.0, 1.0, 1.0, 2.0, 2.0, None, None]),
        ([None, None, None], [None, None, None]),
        ([None, 3.0, None], [3.0, 3.0, None]),
        # third element: loc per row; a NULL loc sorts first
        ([None, None, 2.0, None], [2.0, 2.0, 2.0, None], [None, 0, 1, 2]),
    ],
    "linear": [
        ([1.0, None, 2.0], [1.0, 1.5, 2.0]),
        ([2.0, None, 1.0], [2.0, 1.5, 1.0]),
        ([1.0, None, None, 4.0], [1.0, 2.0, 3.0, 4.0]),
        ([1.0, None, None, None, 5.0], [1.0, 2.0, 3.0, 4.0, 5.0]),
        ([1.0, None, 3.0, None, 2.0], [1.0, 2.0, 3.0, 2.5, 2.0]),
        ([None, None, 1.0, None, 3.0, None, None],
         [None, None, 1.0, 2.0, 3.0, None, None]),
        ([None, None, None], [None, None, None]),
        ([None, 3.0, None], [None, 3.0, None]),
        ([None, 1.0, None, 3.0], [None, 1.0, 2.0, 3.0], [None, 0, 1, 2]),
    ],
    "nearest": [
        ([1.0, None, 2.0], [1.0, 1.0, 2.0]),  # prev wins ties
        ([1.0, None, None, 2.0], [1.0, 1.0, 2.0, 2.0]),
        ([None, 1.0], [1.0, 1.0]),
        ([None, None, 1.0, None, None, 4.0, None, None],
         [1.0, 1.0, 1.0, 1.0, 4.0, 4.0, 4.0, 4.0]),
        ([None, None, None], [None, None, None]),
        ([None, 3.0, None], [3.0, 3.0, 3.0]),
        ([None, None, 2.0, None], [2.0, 2.0, 2.0, 2.0], [None, 0, 1, 2]),
    ],
}


@pytest.mark.parametrize(
    "method,case",
    [(m, c) for m, cases in FILL_CASES.items() for c in cases],
    ids=lambda x: str(x)[:40],
)
def test_fill_methods_reference_examples(spark, method, case):
    vals, want, *locs = case
    locs = locs[0] if locs else range(len(vals))
    df = spark.createDataFrame(
        list(zip(["k"] * len(vals), locs, vals)),
        "key string, loc long, value double",
    )
    out = (
        fill_ops.fill(df, method)
        .orderBy("loc")
        .toPandas()
        .value.to_numpy(dtype=float)
    )
    np.testing.assert_allclose(out, np.array(want, dtype=float), equal_nan=True)


def test_lags_worked_example(spark):
    idx = uniform("2015-04-09", 10, DayFrequency(1))
    obs = spark.createDataFrame(
        [
            ((pd.Timestamp("2015-04-09") + pd.Timedelta(days=i)).to_pydatetime(), "a", float(i))
            for i in range(10)
        ],
        "ts timestamp, key string, value double",
    )
    t = TimeSeriesDataFrame.from_observations(obs, idx)
    lagged = t.lags(2, include_originals=True)
    assert lagged.index.size == 8
    assert lagged.index.first() == pd.Timestamp("2015-04-11")
    pdf = lagged.df.toPandas().pivot_table(
        index="loc", columns="key", values="value", dropna=False
    )
    assert set(pdf.columns) == {"a", "lag1(a)", "lag2(a)"}
    np.testing.assert_allclose(pdf["a"], np.arange(2.0, 10.0))
    np.testing.assert_allclose(pdf["lag1(a)"], np.arange(1.0, 9.0))
    np.testing.assert_allclose(pdf["lag2(a)"], np.arange(0.0, 8.0))


def test_differences_and_quotients(spark):
    df = spark.createDataFrame(
        [("k", i, float(2**i)) for i in range(5)], "key string, loc long, value double"
    )
    d = lag_ops.differences(df, 1).orderBy("loc").toPandas()
    np.testing.assert_allclose(d.value, [1.0, 2.0, 4.0, 8.0])
    q = lag_ops.quotients(df, 1).orderBy("loc").toPandas()
    np.testing.assert_allclose(q.value, [2.0, 2.0, 2.0, 2.0])
    r = lag_ops.return_rates(df).orderBy("loc").toPandas()
    np.testing.assert_allclose(r.value, [1.0, 1.0, 1.0, 1.0])


# -- index algebra ----------------------------------------------------------

def test_uniform_index_loc_arithmetic():
    idx = uniform("2015-04-09", 10, DayFrequency(1))
    assert idx.loc_at_datetime("2015-04-09") == 0
    assert idx.loc_at_datetime("2015-04-14") == 5
    assert idx.loc_at_datetime("2015-04-14 12:00") == -1  # off grid
    assert idx.loc_at_datetime("2015-05-01") == -1  # out of range
    assert idx.datetime_at_loc(9) == pd.Timestamp("2015-04-18")
    assert idx.loc_at_or_before("2015-04-14 12:00") == 5
    assert idx.loc_at_or_after("2015-04-14 12:00") == 6


def test_index_slicing_and_islice():
    idx = uniform("2015-04-09", 10, DayFrequency(1))
    s = idx.slice("2015-04-11", "2015-04-14")
    assert s.size == 4 and s.first() == pd.Timestamp("2015-04-11")
    i = idx.islice(2, 6)
    assert i.size == 4 and i.first() == pd.Timestamp("2015-04-11")


def test_irregular_index_binary_search():
    idx = irregular(["2015-01-01", "2015-01-03", "2015-01-07"])
    assert idx.loc_at_datetime("2015-01-03") == 1
    assert idx.loc_at_datetime("2015-01-04") == -1
    assert idx.loc_at_or_before("2015-01-04") == 1
    assert idx.loc_at_or_after("2015-01-04") == 2
    assert idx.insertion_loc("2015-01-03") == 2


def test_hybrid_index_prefix_sums():
    h = sts.hybrid(
        [
            uniform("2015-01-01", 3, DayFrequency(1)),
            irregular(["2015-02-01", "2015-02-05"]),
            uniform("2015-03-01", 2, DayFrequency(1)),
        ]
    )
    assert h.size == 7
    assert h.datetime_at_loc(0) == pd.Timestamp("2015-01-01")
    assert h.datetime_at_loc(3) == pd.Timestamp("2015-02-01")
    assert h.datetime_at_loc(6) == pd.Timestamp("2015-03-02")
    assert h.loc_at_datetime("2015-02-05") == 4
    rt = sts.from_string(h.to_string())
    assert rt.to_string() == h.to_string()


def test_index_union():
    a = uniform("2015-01-01", 3, DayFrequency(1))
    b = irregular(["2015-01-02", "2015-01-10"])
    u = sts.union([a, b])
    assert u.size == 4  # 01,02,03,10 (02 deduplicated)
    assert u.datetime_at_loc(3) == pd.Timestamp("2015-01-10")


def test_index_to_df_matches_driver_side(spark):
    for idx in [
        uniform("2015-04-09", 10, DayFrequency(1)),
        uniform("2015-04-09", 24, HourFrequency(2)),
        uniform("2015-01-31", 4, MonthFrequency(1)),
        uniform("2015-04-09", 9, BusinessDayFrequency(1)),
        irregular(["2015-01-01", "2015-01-03 12:30", "2015-02-07"]),
    ]:
        got = idx.to_df(spark).orderBy("loc").toPandas()
        want = idx.to_pandas()
        assert len(got) == idx.size
        assert list(pd.to_datetime(got.ts)) == list(want), idx


def test_business_day_frequency():
    f = BusinessDayFrequency(1)
    fri = pd.Timestamp("2015-04-10")  # Friday
    assert f.advance(fri, 1) == pd.Timestamp("2015-04-13")  # Monday
    assert f.advance(fri, 5) == pd.Timestamp("2015-04-17")
    assert f.difference(fri, pd.Timestamp("2015-04-13")) == 1
    assert f.difference(pd.Timestamp("2015-04-06"), pd.Timestamp("2015-04-17")) == 9
    with pytest.raises(ValueError):
        f.advance(pd.Timestamp("2015-04-11"), 1)  # Saturday anchor
    # negative advance back across a weekend
    mon = pd.Timestamp("2015-04-13")
    assert f.advance(mon, -1) == fri


def test_month_frequency_end_clamping():
    f = MonthFrequency(1)
    jan31 = pd.Timestamp("2015-01-31")
    assert f.advance(jan31, 1) == pd.Timestamp("2015-02-28")
    assert f.difference(jan31, pd.Timestamp("2015-03-31")) == 2


def test_next_business_day():
    assert sts.next_business_day("2015-04-11") == pd.Timestamp("2015-04-13")
    assert sts.next_business_day("2015-04-12") == pd.Timestamp("2015-04-13")
    assert sts.next_business_day("2015-04-13") == pd.Timestamp("2015-04-13")


def test_index_string_roundtrip_formats():
    cases = [
        uniform("2015-04-09", 10, DayFrequency(1)),
        uniform("2015-04-09", 5, BusinessDayFrequency(1, 1)),
        irregular(["2015-01-01", "2015-01-03"]),
    ]
    for idx in cases:
        assert sts.from_string(idx.to_string()).to_string() == idx.to_string()


def test_business_day_column_exprs_match_driver_kernels(spark):
    """The JVM column expressions (functions/datetime.py) must agree with the
    driver-side BusinessDayFrequency arithmetic over a long date span
    (weekends, month/year rollovers)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from spark_timeseries_spark import functions as ts_fns

    start = pd.Timestamp("2024-01-01")  # a Monday
    days = [start + pd.Timedelta(days=i) for i in range(120)]
    df = spark.createDataFrame(
        [(d.to_pydatetime(),) for d in days], "ts timestamp"
    )
    got = (
        df.select(
            "ts",
            ts_fns.next_business_day(F.col("ts")).alias("nbd"),
            ts_fns.business_day_difference(
                F.lit("2024-01-01").cast("timestamp"), F.col("ts")
            ).alias("bd"),
        )
        .orderBy("ts")
        .collect()
    )
    f = BusinessDayFrequency(1, 1)
    for row in got:
        d = pd.Timestamp(row.ts)
        assert pd.Timestamp(row.nbd) == sts.next_business_day(d)
        assert row.bd == f.difference(start, d)


def test_differences_by_frequency_asof_semantics(spark):
    """Backward as-of base: value at/just-before t − freq
    (``TimeSeries.scala:200-235``), first rows without a base dropped."""
    import datetime as dt

    from spark_timeseries_spark.operators.lag import differences_by_frequency

    rows = [
        ("a", dt.datetime(2024, 1, 1), 1.0),
        ("a", dt.datetime(2024, 1, 2), 5.0),
        ("a", dt.datetime(2024, 1, 4), 10.0),
        ("a", dt.datetime(2024, 1, 5, 12), 20.0),
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    out = differences_by_frequency(df, 2 * 86_400_000_000)  # 2 days
    got = {r.ts: r.value for r in out.collect()}
    # Jan 4: base = value at/just-before Jan 2 → 5.0; diff 5.0
    # Jan 5 12:00: base = at/just-before Jan 3 12:00 → Jan 2 (5.0); diff 15.0
    assert got == {
        dt.datetime(2024, 1, 4): 5.0,
        dt.datetime(2024, 1, 5, 12): 15.0,
    }


def test_apply_model_effects_ewma_roundtrip(spark):
    """add_effects ∘ remove_effects ≈ identity for a fixed EWMA parameter
    (``models/TimeSeriesModel.scala:23-45`` surface)."""
    import datetime as dt

    from spark_timeseries_spark.models import apply_model_effects

    rows = [
        ("k", i, dt.datetime(2024, 1, 1 + i), float(v))
        for i, v in enumerate([3.0, 7.0, 2.0, 9.0, 4.0, 6.0])
    ]
    df = spark.createDataFrame(rows, "key string, loc long, ts timestamp, value double")
    smoothed = apply_model_effects(df, "ewma", [0.4], add=True)
    back = apply_model_effects(smoothed, "ewma", [0.4], add=False)
    got = [r.value for r in back.orderBy("loc").collect()]
    assert np.allclose(got, [3.0, 7.0, 2.0, 9.0, 4.0, 6.0])


def test_easyplot_data_surfaces(spark):
    """EasyPlot parity (``EasyPlot.scala:62-120``): the numbers behind
    acfPlot/pacfPlot, with plotting gated behind matplotlib. local_autocorr
    must agree with the distributed rolling.autocorr, pacf_plot's vector is
    the AR(n) coefficients, and corr_plot_data reproduces drawCorrPlot's
    line geometry."""
    import datetime as dt

    from spark_timeseries_spark.stats import (
        conf_bound,
        corr_plot_data,
        local_autocorr,
    )
    from spark_timeseries_spark.operators import rolling

    rng = np.random.RandomState(7)
    y = np.cumsum(rng.randn(60))  # persistent series, non-trivial ACF

    # parity: local kernel vs distributed window+agg implementation
    rows = [
        ("k", i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), float(v))
        for i, v in enumerate(y)
    ]
    df = spark.createDataFrame(rows, "key string, loc long, ts timestamp, value double")
    dist = {
        r.lag: r.acf
        for r in rolling.autocorr(df, 3, order_col="loc").collect()
    }
    loc = local_autocorr(y, 3)
    for k in range(1, 4):
        assert abs(dist[k] - loc[k - 1]) < 1e-9, (k, dist[k], loc[k - 1])

    # geometry: one vertical (lag, 0→corr) per lag + two red conf lines
    cv = conf_bound(0.95, len(y))
    geom = corr_plot_data(loc, cv)
    assert len(geom["vertical_lines"]) == 3
    assert geom["vertical_lines"][0] == ([1.0, 1.0], [0.0, float(loc[0])])
    assert geom["conf_lines"] == [([0.0, 3.0], [cv, cv]), ([0.0, 3.0], [-cv, -cv])]

    # plot entrypoints exist and either render (matplotlib present) or
    # raise the documented ImportError (this container has no matplotlib)
    from spark_timeseries_spark.stats import acf_plot

    try:
        fig = acf_plot(y, 3)
        assert fig is not None
    except ImportError as e:
        assert "matplotlib" in str(e)


def test_sessionize_matches_native_session_window(spark):
    """Per-event session ids must induce the same partitions as Spark's
    native session_window aggregate, including the exact-gap boundary
    (diff == gap CONTINUES a session in both)."""
    import datetime as dt

    from spark_timeseries_spark.operators.sessionize import (
        session_stats,
        sessionize,
    )

    base = dt.datetime(2024, 1, 1)
    offsets = [0, 600, 1500, 1800, 9999, 10599, 11200]  # gaps incl. == 600
    rows = [("a", base + dt.timedelta(seconds=s), float(i))
            for i, s in enumerate(offsets)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")

    ids = sessionize(df, 600, ts_col="ts")
    got = [r.session_id for r in ids.orderBy("ts").collect()]
    # 0: start; +600 continues; +900 new; +300 continues; +8199 new;
    # +600 continues; +601 new
    assert got == [0, 0, 1, 1, 2, 2, 3]

    stats = session_stats(df, 600).orderBy("session_start").collect()
    assert [r.n_events for r in stats] == [2, 2, 2, 1]
    assert stats[0].duration_seconds == 600.0
    assert stats[0].session_end_ts == base + dt.timedelta(seconds=600)


def test_hybrid_islice_is_structural_and_correct(spark):
    """Hybrid islice/slice compose per-sub-index structurally (reference
    DateTimeIndex.scala:434-553): results equal the materialized slice,
    single-sub-index answers collapse to the sub type, and crossing
    pieces come back as a hybrid — never via a driver concat of the
    whole index."""
    import pandas as pd

    import spark_timeseries_spark as sts

    h = sts.hybrid([
        sts.uniform("2024-01-01", 5, sts.DayFrequency(1)),
        sts.uniform("2024-03-01", 4, sts.DayFrequency(1)),
    ])
    want = h.to_pandas()

    mid = h.islice(3, 7)           # crosses the seam → 2 pieces
    assert list(mid.to_pandas()) == list(want[3:7])
    assert isinstance(mid, sts.index.HybridDateTimeIndex)

    one = h.islice(1, 4)           # inside sub 0 → collapses to uniform
    assert list(one.to_pandas()) == list(want[1:4])
    assert isinstance(one, sts.index.UniformDateTimeIndex)

    empty = h.islice(9, 9)
    assert empty.size == 0

    sl = h.slice("2024-01-04", "2024-03-02")
    assert list(sl.to_pandas()) == list(
        want[(want >= pd.Timestamp("2024-01-04"))
             & (want <= pd.Timestamp("2024-03-02"))]
    )


def test_roll_std_minmax_vs_pandas(spark):
    """Rolling std/var/min/max through the tsdf surface match pandas
    rolling with the same sample (n−1) convention; alignment and
    index-trim semantics are the roll_sum machinery (already pinned)."""
    import numpy as np
    import pandas as pd

    from spark_timeseries_spark import (
        DayFrequency,
        TimeSeriesDataFrame,
        uniform,
    )

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    idx = uniform("2024-01-01", len(vals), DayFrequency(1))
    rows = [((pd.Timestamp("2024-01-01")
              + pd.Timedelta(days=i)).to_pydatetime(), "a", v)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "ts timestamp, key string, value double")
    ts = TimeSeriesDataFrame.from_observations(df, idx)
    s = pd.Series(vals)
    for meth, want in (
        ("roll_std", s.rolling(3).std()),
        ("roll_var", s.rolling(3).var()),
        ("roll_min", s.rolling(3).min()),
        ("roll_max", s.rolling(3).max()),
    ):
        got = (getattr(ts, meth)(3, "right").df.toPandas()
               .sort_values("loc").value.to_numpy())
        np.testing.assert_allclose(got, want.dropna().to_numpy(),
                                   rtol=1e-12, err_msg=meth)


def test_roll_quantile_vs_numpy(spark):
    """Rolling quantile matches numpy's default linear interpolation at
    (n−1)·q for exact-pick and interpolated quantiles, even/odd windows,
    and the q=0/q=1 extremes; windows containing a NULL yield NULL;
    n=1 degenerates to identity; fp-dust quantiles (10·0.7 =
    7.000000000000001) stay exact picks."""
    import numpy as np

    from spark_timeseries_spark.operators import rolling

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0]
    rows = [(i, "a", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "loc long, key string, value double")

    for n, q in [(3, 0.5), (4, 0.5), (3, 0.0), (3, 1.0), (4, 0.25),
                 (5, 0.1), (1, 0.5), (11, 0.7), (4, 1.0), (4, 0.0)]:
        got = (rolling.roll_quantile(df, n, q).toPandas()
               .sort_values("loc").value.to_numpy())
        want = np.array([
            np.quantile(vals[i - n + 1:i + 1], q)
            for i in range(n - 1, len(vals))
        ])
        np.testing.assert_allclose(got, want, rtol=0, atol=0,
                                   err_msg=f"n={n} q={q}")

    # NULL in window → NULL result at that stamp (matches roll_agg contract)
    rows_n = [(i, "a", None if i == 3 else v) for i, v in enumerate(vals)]
    dfn = spark.createDataFrame(rows_n, "loc long, key string, value double")
    got = (rolling.roll_quantile(dfn, 3, 0.5).toPandas()
           .sort_values("loc").value.to_numpy())
    assert np.isnan(got[1:4]).all() and not np.isnan(got[0])

    # tsdf wrapper: roll_median trims the index like roll_mean does
    import pandas as pd

    from spark_timeseries_spark import DayFrequency, TimeSeriesDataFrame, uniform

    idx = uniform("2024-01-01", len(vals), DayFrequency(1))
    obs = [((pd.Timestamp("2024-01-01") + pd.Timedelta(days=i)).to_pydatetime(),
            "a", v) for i, v in enumerate(vals)]
    ts = TimeSeriesDataFrame.from_observations(
        spark.createDataFrame(obs, "ts timestamp, key string, value double"), idx)
    med = ts.roll_median(4, "right")
    assert med.index.size == len(vals) - 3
    got = med.df.toPandas().sort_values("loc").value.to_numpy()
    want = pd.Series(vals).rolling(4).median().dropna().to_numpy()
    np.testing.assert_allclose(got, want, rtol=0, atol=0)

    # invalid args
    import pytest as _pytest
    with _pytest.raises(ValueError):
        rolling.roll_quantile(df, 3, 1.5)
    with _pytest.raises(ValueError):
        rolling.roll_quantile(df, 0, 0.5)


def test_roll_skew_kurt_corr_vs_pandas(spark):
    """Rolling skew/kurt match pandas' adjusted conventions
    (rolling().skew()/kurt()); roll_corr matches pandas rolling
    correlation of the aligned pair; NULL windows and zero-variance
    windows yield NULL; invalid n raises."""
    import numpy as np
    import pandas as pd

    from spark_timeseries_spark.operators import rolling

    rng = np.random.RandomState(3)
    vals = list(rng.randn(20) * 4 + 10)
    vals[5] = 30.0  # a spike so skew/kurt are far from 0
    rows = [(i, "a", float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "loc long, key string, value double")
    s = pd.Series(vals)

    got = (rolling.roll_skew(df, 5).toPandas()
           .sort_values("loc").value.to_numpy())
    np.testing.assert_allclose(got, s.rolling(5).skew().dropna().to_numpy(),
                               rtol=1e-9, atol=1e-9)
    got = (rolling.roll_kurt(df, 6).toPandas()
           .sort_values("loc").value.to_numpy())
    np.testing.assert_allclose(got, s.rolling(6).kurt().dropna().to_numpy(),
                               rtol=1e-9, atol=1e-9)

    # constant window → NULL (m2 == 0), NULL cell → NULL
    vals2 = [1.0, 1.0, 1.0, 1.0, 2.0, None, 3.0, 4.0, 5.0, 6.0]
    df2 = spark.createDataFrame(
        [(i, "a", v) for i, v in enumerate(vals2)],
        "loc long, key string, value double")
    sk = (rolling.roll_skew(df2, 3).toPandas()
          .sort_values("loc").value.to_numpy())
    assert np.isnan(sk[0]) and np.isnan(sk[1])   # constant windows
    assert np.isnan(sk[3]) and np.isnan(sk[4]) and np.isnan(sk[5])  # NULL cell

    # roll_corr: two keys, aligned; compare vs pandas rolling corr
    vb = list(rng.randn(20) + 0.3 * np.array(vals))
    rows2 = rows + [(i, "b", float(v)) for i, v in enumerate(vb)]
    dfc = spark.createDataFrame(rows2, "loc long, key string, value double")
    got = (rolling.roll_corr(dfc, "a", "b", 6).toPandas()
           .sort_values("loc")["corr"].to_numpy())
    want = (pd.Series(vals).rolling(6).corr(pd.Series(vb))
            .dropna().to_numpy())
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        rolling.roll_skew(df, 2)
    with _pytest.raises(ValueError):
        rolling.roll_kurt(df, 3)
    with _pytest.raises(ValueError):
        rolling.roll_corr(dfc, "a", "b", 1)

    # tsdf wrappers trim the index like the other rolling ops
    from spark_timeseries_spark import DayFrequency, TimeSeriesDataFrame, uniform

    idx = uniform("2024-01-01", len(vals), DayFrequency(1))
    obs = [((pd.Timestamp("2024-01-01") + pd.Timedelta(days=i)).to_pydatetime(),
            "a", float(v)) for i, v in enumerate(vals)]
    ts = TimeSeriesDataFrame.from_observations(
        spark.createDataFrame(obs, "ts timestamp, key string, value double"),
        idx)
    sk = ts.roll_skew(5, "right")
    assert sk.index.size == len(vals) - 4


def test_crosscorr_vs_numpy(spark):
    """Cross-correlation: ccf(0) == corr(a,b); at the planted lag the
    correlation of a_t with b_{t-lag} is ~1 (a is b delayed by 2); the
    per-overlap Pearson convention matches numpy's corrcoef on the
    aligned slices."""
    import numpy as np
    import pandas as pd

    from spark_timeseries_spark import (
        DayFrequency,
        TimeSeriesDataFrame,
        uniform,
    )

    rng = np.random.default_rng(5)
    b = rng.standard_normal(40)
    a = np.roll(b, 2)  # a lags b by 2
    idx = uniform("2024-01-01", 40, DayFrequency(1))
    rows = []
    for i in range(40):
        t = (pd.Timestamp("2024-01-01") + pd.Timedelta(days=i)).to_pydatetime()
        rows += [(t, "a", float(a[i])), (t, "b", float(b[i]))]
    df = spark.createDataFrame(rows, "ts timestamp, key string, value double")
    ts = TimeSeriesDataFrame.from_observations(df, idx)
    got = {r.lag: r.ccf for r in ts.crosscorr("a", "b", 3).collect()}
    assert set(got) == {0, 1, 2, 3}
    np.testing.assert_allclose(got[0], np.corrcoef(a, b)[0, 1], rtol=1e-9)
    np.testing.assert_allclose(
        got[2], np.corrcoef(a[2:], b[:-2])[0, 1], rtol=1e-9)
    assert got[2] > 0.99 and abs(got[1]) < 0.6

    import pytest as _pytest

    with _pytest.raises(ValueError):
        ts.crosscorr("a", "b", -1)


def test_seasonal_decompose_vs_statsmodels_formula(spark):
    """Classical additive decomposition matches a pure-python replay of
    the statsmodels algebra (centered 2xMA trend for even periods, plain
    MA for odd, re-centered per-position seasonal means, NULL edges) on
    a constructed trend+season+noise series; y == trend+seasonal+resid
    wherever trend is defined."""
    import numpy as np
    import pandas as pd

    from spark_timeseries_spark import (
        DayFrequency,
        TimeSeriesDataFrame,
        uniform,
    )
    from spark_timeseries_spark.operators.decompose import seasonal_decompose

    n = 42
    rng = np.random.default_rng(3)
    season = np.array([2.0, -1.0, 0.5, -0.5, 1.0, -2.0, 0.0])
    y = (0.3 * np.arange(n) + np.tile(season, n // 7)
         + 0.01 * rng.standard_normal(n))
    idx = uniform("2024-01-01", n, DayFrequency(1))
    rows = [((pd.Timestamp("2024-01-01") + pd.Timedelta(days=i))
             .to_pydatetime(), "a", float(y[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "ts timestamp, key string, value double")
    grid = TimeSeriesDataFrame.from_observations(df, idx).df

    for period in (7, 6):
        out = (seasonal_decompose(grid, period)
               .toPandas().sort_values("loc").reset_index(drop=True))
        # python replay
        if period % 2 == 1:
            h = (period - 1) // 2
            trend = np.full(n, np.nan)
            for t in range(h, n - h):
                trend[t] = y[t - h:t + h + 1].mean()
        else:
            h = period // 2
            trend = np.full(n, np.nan)
            for t in range(h, n - h):
                win = y[t - h:t + h + 1].copy()
                win[0] *= 0.5
                win[-1] *= 0.5
                trend[t] = win.sum() / period
        dt = y - trend
        sm = np.array([np.nanmean(dt[pos::period])
                       for pos in range(period)])
        sm = sm - sm.mean()
        seas = np.array([sm[i % period] for i in range(n)])
        np.testing.assert_allclose(
            out.trend.to_numpy(), trend, rtol=1e-12, equal_nan=True)
        np.testing.assert_allclose(
            out.seasonal.to_numpy(), seas, rtol=1e-9)
        ok = ~np.isnan(trend)
        np.testing.assert_allclose(
            (out.trend + out.seasonal + out.resid).to_numpy()[ok],
            y[ok], rtol=1e-12)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="period"):
        seasonal_decompose(grid, 1)


def test_outliers_zscore_and_mad(spark):
    """Outlier flagging vs numpy: z-scores match (mean, sample std); MAD
    scores match the 1.4826-scaled robust formula and still catch the
    spike that drags the z-score below threshold (masking); zero-spread
    and NULL cells yield NULL scores."""
    import numpy as np

    from spark_timeseries_spark.operators.outliers import outliers

    base = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 500.0]
    rows = [("a", i, v) for i, v in enumerate(base)]
    rows += [("flat", i, 5.0) for i in range(4)]
    rows += [("gap", 0, 1.0), ("gap", 1, None), ("gap", 2, 3.0)]
    df = spark.createDataFrame(rows, "key string, loc long, value double")

    z = {(r.key, r.loc): r for r in
         outliers(df, method="zscore", threshold=3.0).collect()}
    arr = np.array(base)
    want = (arr - arr.mean()) / arr.std(ddof=1)
    for i in range(9):
        assert abs(z[("a", i)].score - want[i]) < 1e-9
    # the spike inflates std so much that its own z stays under 3: the
    # classic masking failure the robust variant exists for
    assert z[("a", 8)].is_outlier is False

    m = {(r.key, r.loc): r for r in
         outliers(df, method="mad", threshold=3.5).collect()}
    med = np.median(arr)
    madv = np.median(np.abs(arr - med)) * 1.4826022185056018
    for i in range(9):
        assert abs(m[("a", i)].score - (arr[i] - med) / madv) < 1e-9
    assert m[("a", 8)].is_outlier is True          # robust catches it
    assert m[("flat", 0)].score is None            # zero spread
    assert m[("gap", 1)].score is None             # missing cell

    import pytest as _pytest

    with _pytest.raises(ValueError, match="method"):
        outliers(df, method="iqr")


def test_seasonal_decompose_short_series_nulls(spark):
    """A series without one full set of trend-bearing period positions
    gets NULL seasonal/resid (statsmodels raises 'x must have 2 complete
    cycles'; the distributed plan NULLs instead of silently mis-centering
    a partial cycle); trend still reports where its window completes."""
    from spark_timeseries_spark.operators.decompose import seasonal_decompose

    rows = [("s", i, None, float(i)) for i in range(8)]
    df = spark.createDataFrame(rows, "key string, loc long, ts timestamp, value double")
    out = seasonal_decompose(df, 7).orderBy("loc").collect()
    assert all(r.seasonal is None and r.resid is None for r in out)
    assert sum(r.trend is not None for r in out) == 2  # locs 3, 4


def test_cusum_matches_page_recursion(spark):
    """The window-function closed form (running sum minus running min,
    floored by the virtual s_0 = 0) equals Page's recursion
    g_t = max(0, g_{t-1} + z_t - k) computed in python; a planted mean
    shift alarms at the right place and direction; a no-shift series
    stays quiet; missing cells are bridged."""
    import numpy as np

    from spark_timeseries_spark.operators.cusum import (
        cusum,
        cusum_changepoints,
    )

    rng = np.random.default_rng(9)
    up = np.r_[rng.standard_normal(30) * 0.5,
               rng.standard_normal(30) * 0.5 + 3.0]
    quiet = rng.standard_normal(60) * 0.5
    rows = [("up", i, float(v)) for i, v in enumerate(up)]
    rows += [("q", i, float(v)) for i, v in enumerate(quiet)]
    rows += [("gap", 0, 1.0), ("gap", 1, None), ("gap", 2, 2.0),
             ("gap", 3, 1.5)]
    df = spark.createDataFrame(rows, "key string, loc long, value double")

    k, h = 0.5, 5.0
    got = {(r.key, r.loc): r for r in cusum(df, k, h).collect()}
    for name, series in (("up", up), ("q", quiet)):
        z = (series - series.mean()) / series.std(ddof=1)
        gp = gn = 0.0
        for i, zi in enumerate(z):
            gp = max(0.0, gp + zi - k)
            gn = max(0.0, gn - zi - k)
            r = got[(name, i)]
            assert abs(r.g_pos - gp) < 1e-9, (name, i)
            assert abs(r.g_neg - gn) < 1e-9, (name, i)

    cp = {r.key: r for r in cusum_changepoints(df, k, h).collect()}
    # full-series standardization de-centers BOTH segments of a shifted
    # series, so either side may alarm first (documented); the peak side
    # is the shift direction and the statistic is far above threshold
    assert cp["up"].direction == "up" and cp["up"].alarm_loc is not None
    assert cp["up"].max_stat > 2 * h
    assert cp["q"].alarm_loc is None and cp["q"].max_stat < h
    assert ("gap", 1) not in got                 # null row dropped
    assert got[("gap", 2)].g_pos is not None     # statistic bridges gaps

    # textbook monitoring form: calibrate on the in-control baseline,
    # standardize=False — the alarm fires shortly AFTER the shift
    base_m, base_s = up[:30].mean(), up[:30].std(ddof=1)
    zrows = [("up", i, float((v - base_m) / base_s))
             for i, v in enumerate(up)]
    zdf = spark.createDataFrame(zrows, "key string, loc long, value double")
    mon = {r.key: r
           for r in cusum_changepoints(zdf, k, h,
                                       standardize=False).collect()}
    assert 30 <= mon["up"].alarm_loc <= 33
    assert mon["up"].direction == "up"


def test_theil_sen_matches_numpy(spark):
    """Theil-Sen slope/intercept == the median-of-pairwise-slopes replay;
    a planted spike barely moves the robust slope while bending OLS;
    <2-point series report NULLs."""
    import numpy as np

    from spark_timeseries_spark.operators.cusum import theil_sen

    rng = np.random.default_rng(21)
    x = np.arange(40, dtype=float)
    y = 2.0 * x + 5.0 + 0.1 * rng.standard_normal(40)
    y[13] = 500.0                                    # spike
    rows = [("a", int(i), float(v)) for i, v in zip(x, y)]
    rows += [("tiny", 0, 1.0)]
    df = spark.createDataFrame(rows, "key string, loc long, value double")
    got = {r.key: r for r in theil_sen(df).collect()}

    slopes = [(y[j] - y[i]) / (x[j] - x[i])
              for i in range(40) for j in range(i + 1, 40)]
    want_slope = float(np.median(slopes))
    want_icpt = float(np.median(y - want_slope * x))
    assert abs(got["a"].slope - want_slope) < 1e-9
    assert abs(got["a"].intercept - want_icpt) < 1e-9
    assert got["a"].n_pairs == 40 * 39 // 2
    assert abs(got["a"].slope - 2.0) < 0.01          # spike shrugged off
    ols = np.polyfit(x, y, 1)[0]
    assert abs(ols - 2.0) > 0.5                      # OLS bent by it
    assert got["tiny"].slope is None and got["tiny"].n_pairs == 0


def test_custom_lags_reference_example(spark):
    """``customLags`` (``TimeSeriesSuite.scala:76-91``): spec
    a→(keep, 0 lags), b→(drop original, 2 lags) over columns
    a=[1..5], b=[6..10] trims to the global max lag (2) and yields
    exactly keys {a, lag1(b), lag2(b)} with a=[3,4,5],
    lag1(b)=[7,8,9], lag2(b)=[6,7,8]."""
    from spark_timeseries_spark.operators.lag import lags_per_key

    rows = [("a", i, float(i + 1)) for i in range(5)] + [
        ("b", i, float(i + 6)) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "key string, loc long, value double")
    out = lags_per_key(df, {"a": (True, 0), "b": (False, 2)})
    pdf = out.toPandas().pivot_table(
        index="loc", columns="key", values="value", dropna=False
    )
    assert set(pdf.columns) == {"a", "lag1(b)", "lag2(b)"}
    assert list(pdf.index) == [2, 3, 4]
    np.testing.assert_allclose(pdf["a"], [3.0, 4.0, 5.0])
    np.testing.assert_allclose(pdf["lag1(b)"], [7.0, 8.0, 9.0])
    np.testing.assert_allclose(pdf["lag2(b)"], [6.0, 7.0, 8.0])


def test_union_series_first_non_missing(spark):
    """``TimeSeriesUtils.union`` (``TimeSeriesUtils.scala:30-45``): per
    instant, the first series in priority order with a non-missing value
    wins; all-missing instants stay missing. NULL and NaN cells both
    count as missing (the grid materializes holes as NULL; the reference
    uses NaN)."""
    from spark_timeseries_spark.operators.align import union_series

    nan = float("nan")
    rows = [
        # loc: 0    1     2     3
        ("s1", 0, 1.0), ("s1", 1, None), ("s1", 2, nan), ("s1", 3, None),
        ("s2", 0, 9.0), ("s2", 1, 5.0), ("s2", 2, None), ("s2", 3, None),
        ("s3", 0, 8.0), ("s3", 1, 7.0), ("s3", 2, 6.0), ("s3", 3, nan),
    ]
    df = spark.createDataFrame(
        [(k, loc, pd.Timestamp("2015-01-01").to_pydatetime(), v) for k, loc, v in rows],
        "key string, loc long, ts timestamp, value double",
    )
    out = (
        union_series(df, keys=["s1", "s2", "s3"])
        .orderBy("loc")
        .toPandas()
    )
    assert list(out["key"].unique()) == ["union"]
    np.testing.assert_allclose(
        out["value"].to_numpy(dtype=float),
        [1.0, 5.0, 6.0, np.nan],
        equal_nan=True,
    )
    # default priority = ascending key order; restricting keys drops s3
    out2 = union_series(df, keys=["s3", "s1"]).orderBy("loc").toPandas()
    np.testing.assert_allclose(
        out2["value"].to_numpy(dtype=float),
        [8.0, 7.0, 6.0, np.nan],
        equal_nan=True,
    )


def test_map_series_with_key(spark):
    """``mapSeriesWithKey`` (``TimeSeries.scala:337-346``): the transform
    receives the series key and may branch on it."""
    idx = uniform("2015-04-09", 4, DayFrequency(1))
    obs = spark.createDataFrame(
        [
            (
                (pd.Timestamp("2015-04-09") + pd.Timedelta(days=i)).to_pydatetime(),
                k,
                float(i),
            )
            for i in range(4)
            for k in ("a", "b")
        ],
        "ts timestamp, key string, value double",
    )
    t = TimeSeriesDataFrame.from_observations(obs, idx)
    out = t.map_series(
        lambda key, s: s + (100.0 if key == "a" else 200.0), with_key=True
    )
    pdf = out.df.toPandas().pivot_table(index="loc", columns="key", values="value")
    np.testing.assert_allclose(pdf["a"], [100.0, 101.0, 102.0, 103.0])
    np.testing.assert_allclose(pdf["b"], [200.0, 201.0, 202.0, 203.0])
