"""``parallel.map_groups`` keeps the ``groupBy().applyInPandas()``
contract: checked against Spark's own grouped map on the same function,
with three-row Arrow batches so that groups straddle batch boundaries.
``parallel.route_by_length`` sends each group to exactly one side by its
row count, and no operator exposes a routing bound as an option."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spark_timeseries_spark.parallel import map_groups, route_by_length

OUT = (
    "n long, k2 long, k1 string, index_ok boolean, loc_min long, "
    "v_sum double, dtypes string"
)


def _describer():
    """A grouped-map function built per test: Spark pickles a nested
    function by value, a test module's top-level one by a module name
    the Python workers cannot import."""

    def describe(pdf: pd.DataFrame) -> pd.DataFrame:
        """One row per group; reads ``pdf.loc[0]`` (a fresh index),
        reports the dtypes the group arrived with, and returns its
        columns in an order different from the schema (matched by
        name). The group ``("none", 1)`` returns zero rows."""
        row0 = pdf.loc[0]
        out = pd.DataFrame({
            "v_sum": [float(pdf["v"].sum())],
            "dtypes": [",".join(map(str, pdf.dtypes))],
            "loc_min": [int(pdf["loc"].min())],
            "index_ok": [pdf.index.equals(pd.RangeIndex(len(pdf)))],
            "k1": [row0["k1"]],
            "k2": [row0["k2"]],
            "n": [len(pdf)],
        })
        return out.iloc[:0] if (row0["k1"], row0["k2"]) == ("none", 1) else out

    return describe


@pytest.fixture(scope="module")
def rows(spark):
    data = []
    # (k1, k2, count): one key spans more than two 3-row batches, a NULL
    # key in each column, single-row groups, and a group that returns
    # nothing
    groups = [
        ("a", 1, 8), ("a", 2, 2), ("b", 1, 1), (None, 1, 4),
        ("b", None, 3), (None, None, 2), ("none", 1, 3), ("c", 7, 5),
    ]
    for gi, (k1, k2, cnt) in enumerate(groups):
        for i in range(cnt):
            data.append((
                k1, k2, gi * 100 + i, float(i),
                # nullable long / boolean: NULL only inside some groups,
                # so a per-batch conversion would widen other groups
                None if (gi == 0 and i == 3) else i,
                None if (gi == 7 and i == 0) else i % 2 == 0,
            ))
    return spark.createDataFrame(
        data,
        "k1 string, k2 long, loc long, v double, cnt long, flag boolean",
    )


@pytest.fixture()
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield
    spark.conf.set(key, old)


def _sorted(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


@pytest.mark.parametrize("keys", [["k1"], ["k1", "k2"]])
def test_map_groups_matches_apply_in_pandas(spark, rows, small_batches, keys):
    want = _sorted(rows.groupBy(*keys).applyInPandas(_describer(), OUT))
    got = _sorted(map_groups(rows, keys, _describer(), OUT))
    assert got == want
    assert all(r[3] for r in got)  # fresh RangeIndex in every call
    # the NULL key(s) form one group each, never dropped
    assert any(r[2] is None for r in got)
    if keys == ["k1", "k2"]:
        assert len(got) == 7  # 8 groups, one returns zero rows
    # ordered within the group when asked
    ordered = map_groups(
        rows, keys,
        lambda p: pd.DataFrame({"ok": [bool(p["loc"].is_monotonic_increasing)]}),
        "ok boolean", order_by=("loc",),
    )
    assert all(r.ok for r in ordered.collect())


def test_map_groups_empty_input(spark, rows, small_batches):
    empty = rows.where(F.lit(False))
    assert map_groups(empty, "k1", _describer(), OUT).collect() == []
    assert empty.groupBy("k1").applyInPandas(_describer(), OUT).collect() == []


def test_null_key_is_one_group_everywhere(spark):
    """Every per-series kernel keeps the NULL-key series as one group:
    kleinberg_bursts used to drop it (pandas ``groupby`` defaults to
    ``dropna=True``) while fit_models kept it."""
    from spark_timeseries_spark import DayFrequency, TimeSeriesDataFrame, uniform
    from spark_timeseries_spark.models import fit_models
    from spark_timeseries_spark.operators.bursts import kleinberg_bursts

    start = pd.Timestamp("2024-01-01")
    rows = [
        (k, i, (start + pd.Timedelta(days=i * (1 + i % 3))).to_pydatetime(),
         float((i * 7) % 5) + (0.0 if k else 10.0))
        for k in ("a", None)
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "key string, loc long, ts timestamp, value double"
    )

    bursts = kleinberg_bursts(df.select("key", "ts"))
    assert {r.key for r in bursts.select("key").distinct().collect()} == {
        None, "a",
    }
    assert bursts.where(F.col("key").isNull()).count() == 11  # 12 events

    fits = fit_models(df, "ar", max_lag=1).collect()
    assert {r.key for r in fits} == {None, "a"} and len(fits) == 2
    assert all(len(r.params) == 2 for r in fits)

    t = TimeSeriesDataFrame(df, uniform("2024-01-01", 12, DayFrequency(1)))
    out = t.map_series(lambda s: s - s.iloc[0]).df
    firsts = out.where(F.col("loc") == 0).collect()
    assert {r.key for r in firsts} == {None, "a"}
    assert all(r.value == 0.0 for r in firsts)
    assert out.count() == 24


def _route(df, group_cols, bound, **kw):
    """(k1, k2) → the set of sides its rows took; every input row comes
    out once, and a side sees the input columns only (plus ``n_col``)."""
    def tag(side):
        return lambda d: d.withColumn("side", F.lit(side))

    out = route_by_length(df, group_cols, bound, tag("short"), tag("long"), **kw)
    assert out.columns == [*df.columns, "side"]
    got = out.collect()
    assert len(got) == df.count()
    sides = {}
    for r in got:
        sides.setdefault((r.k1, r.k2), set()).add(r.side)
    return {k: "/".join(sorted(v)) for k, v in sides.items()}


# (k1, k2) groups of the ``rows`` fixture with their row counts
_GROUPS = {
    ("a", 1): 8, ("a", 2): 2, ("b", 1): 1, (None, 1): 4,
    ("b", None): 3, (None, None): 2, ("none", 1): 3, ("c", 7): 5,
}


def test_route_by_length_splits_at_the_bound(spark, rows):
    # per k1: a 10, b 4, NULL 6, none 3, c 5 rows; n == bound goes short
    assert _route(rows, ["k1"], 5) == {
        ("a", 1): "long", ("a", 2): "long", ("b", 1): "short",
        ("b", None): "short", (None, 1): "long", (None, None): "long",
        ("none", 1): "short", ("c", 7): "short",
    }
    # two grouping columns (the seasonal Mann-Kendall case)
    assert _route(rows, ["k1", "k2"], 3) == {
        g: "short" if n <= 3 else "long" for g, n in _GROUPS.items()
    }


def test_route_by_length_one_global_group_and_empty_side(spark, rows):
    total = sum(_GROUPS.values())
    assert set(_route(rows, [], total).values()) == {"short"}
    assert set(_route(rows, [], total - 1).values()) == {"long"}


def test_route_by_length_forced_sides_and_invalid_method(spark, rows):
    assert set(_route(rows, ["k1"], 5, method="short").values()) == {"short"}
    assert set(_route(rows, ["k1"], 5, method="long").values()) == {"long"}
    kernel = _route(rows, ["k1"], 5, method="kernel", sides=("join", "kernel"))
    assert set(kernel.values()) == {"long"}
    with pytest.raises(ValueError, match=r"method must be auto\|short\|long"):
        _route(rows, ["k1"], 5, method="banana")
    with pytest.raises(ValueError, match=r"auto\|explode\|fft, got short"):
        _route(rows, ["k1"], 5, method="short", sides=("explode", "fft"))


def test_route_by_length_routes_on_a_passed_count(spark, rows):
    """A passed ``n_col`` is routed on as is (no second count) and stays
    in the rows each side sees."""
    n = rows.withColumn("_n", F.when(F.col("k1") == "b", 100).otherwise(1))
    got = _route(n, ["k1"], 3, n_col="_n")
    assert got == {g: "long" if g[0] == "b" else "short" for g in _GROUPS}


def test_no_routing_bound_options():
    """Routing bounds are module constants, not parameters: no public
    operator takes ``fft_threshold``/``kernel_threshold``/
    ``pair_threshold``, corr_matrix has one plan (no ``method``), and the
    dense grid takes its keys from its own input (no ``keys_df``)."""
    import importlib
    import inspect
    import pkgutil

    import spark_timeseries_spark.operators as ops
    from spark_timeseries_spark.tsdf import TimeSeriesDataFrame

    banned = {"fft_threshold", "kernel_threshold", "pair_threshold", "keys_df"}
    hits, seen = [], 0
    for info in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"{ops.__name__}.{info.name}")
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if name.startswith("_") or fn.__module__ != mod.__name__:
                continue
            seen += 1
            forbidden = banned | ({"method"} if name == "corr_matrix" else set())
            params = set(inspect.signature(fn).parameters) & forbidden
            hits += [f"{info.name}.{name}({p})" for p in sorted(params)]
    assert seen > 100
    assert not hits, hits
    assert "method" not in inspect.signature(
        TimeSeriesDataFrame.corr_matrix
    ).parameters


def _jobs(spark, group, action):
    """Jobs ``action()`` runs under a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("bound", [3, 5, 100])
def test_collect_at_most_takes_one_job_at_or_below_the_bound(spark, bound):
    """A 4-partition frame whose first partition holds fewer than
    ``bound + 1`` rows is probed, and its checkpoint filled, in one job."""
    from spark_timeseries_spark.parallel import collect_at_most

    df = spark.range(0, 3, numPartitions=4).where(F.col("id") >= 0)
    assert df.rdd.getNumPartitions() == 4
    (cut, rows), n = _jobs(
        spark, f"probe-{bound}", lambda: collect_at_most(df, bound)
    )
    assert n == 1
    assert sorted(r.id for r in rows) == [0, 1, 2]
    assert cut._jdf.queryExecution().analyzed().rdd().isCheckpointed()


def test_collect_at_most_above_the_bound(spark):
    """Above the bound the rows are ``None`` and the checkpoint is still
    filled: a second read returns every row."""
    from spark_timeseries_spark.parallel import collect_at_most

    df = spark.range(0, 40, numPartitions=4)
    cut, rows = collect_at_most(df, 5)
    assert rows is None
    assert cut._jdf.queryExecution().analyzed().rdd().isCheckpointed()
    assert sorted(r.id for r in cut.collect()) == list(range(40))
