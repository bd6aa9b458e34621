"""Resampling with the reference's four boundary regimes, plus down/upsample.

Reference kernel: ``/root/reference/src/main/scala/com/cloudera/sparkts/Resample.scala:20-122``
— time is partitioned into non-overlapping windows, one per target-index
stamp; ``closedRight`` picks which edge is closed, ``stampRight`` whether the
stamp labels the window's end or start; empty windows yield NaN; with
``stampRight=False`` leading observations before the first window are dropped
and trailing ones all fall into the last window (ASCII spec at
``Resample.scala:62-86``, leading-skip ``:91-98``).

Spark-first design: the sequential merge of the reference reduces to a pure
**bucket formula** per observation. With ``n_lt`` = #stamps < ts and
``n_le`` = #stamps ≤ ts (target stamps sorted):

====================  =========================  ==================
regime                window per stamp           bucket loc
====================  =========================  ==================
open-R,  stamp-L      [cur, next)                n_le − 1  (drop <0)
closed-R, stamp-L     (cur, next]                n_lt − 1  (drop <0)
open-R,  stamp-R      [prev, cur)                n_le      (drop =m)
closed-R, stamp-R     (prev, cur]                n_lt      (drop =m)
====================  =========================  ==================

For uniform duration/day-frequency targets both counts are O(1) arithmetic on
epoch micros (whole-stage codegen, no join, no shuffle beyond the final
groupBy). For irregular / calendar-frequency targets the sorted stamp array is
broadcast as a literal and counted with ``F.filter``+``F.size`` — O(m) JVM
work per row, zero Python, still shuffle-free (use only when the target index
is modest; resampling targets almost always are).

The aggregation and the dense grid are built by :func:`_conform`, the one
conform step shared with ``align.from_observations``/``with_index``
(``TimeSeriesRDD.scala:694-745`` and ``:554-563`` conform every series to
one index the same way). One ``groupBy(key, loc)`` over the unfiltered
input — a single scan — then, up to :data:`MAP_GRID_MAX_INSTANTS`
instants, one explicit ``repartition(shuffle.partitions, key)`` and a
second aggregate fold each key's cells into a ``loc → value`` map that
is crossed with the broadcast index, so the grid comes out clustered by
the key for the series windows after it; above the bound the grid is a
key×index left join whose keys come from that same aggregate. Empty
windows come out NULL (the reference's NaN).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..frequencies import DayFrequency, DurationFrequency, WeekFrequency
from ..index import DateTimeIndex, UniformDateTimeIndex

#: index-length bound for the map-based dense grid of :func:`_conform` —
#: one key's cell map must stay row-sized; longer indices take the
#: key×instant grid join, which scales to billions of instants.
MAP_GRID_MAX_INSTANTS = 65536


def _floordiv(a: Column, b: int) -> Column:
    return ((a - F.pmod(a, F.lit(b))) / F.lit(b)).cast("long")


def _clamp(c: Column, lo: int, hi: int) -> Column:
    return F.greatest(F.lit(lo), F.least(F.lit(hi), c))


def _uniform_step_us(index: UniformDateTimeIndex) -> int | None:
    """Fixed step of a uniform index in microseconds; None for calendar
    frequencies (months, years, business days) that have no fixed step."""
    f = index.freq
    if isinstance(f, DurationFrequency):
        return f.nanos // 1000
    if isinstance(f, DayFrequency):
        return f.days * 86_400_000_000
    if isinstance(f, WeekFrequency):
        return f.weeks * 7 * 86_400_000_000
    return None


def _counts_uniform(ts: Column, index: UniformDateTimeIndex):
    """(n_lt, n_le) via O(1) epoch-micros arithmetic."""
    step = _uniform_step_us(index)
    if step is None:
        return None
    m = index.size
    start_us = index.start.value // 1000
    delta = F.unix_micros(ts) - F.lit(start_us)
    n_le = _clamp(_floordiv(delta, step) + 1, 0, m)
    n_lt = _clamp(_floordiv(delta - 1, step) + 1, 0, m)
    return n_lt, n_le


def _counts_array(ts: Column, index: DateTimeIndex):
    """(n_lt, n_le) by counting over a broadcast sorted stamp-array literal."""
    stamps = [int(v) // 1000 for v in index.to_pandas().asi8]
    arr = F.array(*[F.lit(s) for s in stamps])
    us = F.unix_micros(ts)
    n_lt = F.size(F.filter(arr, lambda x: x < us))
    n_le = F.size(F.filter(arr, lambda x: x <= us))
    return n_lt, n_le


def bucket_loc(
    ts: Column,
    target_index: DateTimeIndex,
    closed_right: bool = False,
    stamp_right: bool = False,
) -> Column:
    """Target-index location for an observation timestamp under the given
    regime; NULL for observations outside every window."""
    counts = None
    if isinstance(target_index, UniformDateTimeIndex):
        counts = _counts_uniform(ts, target_index)
    if counts is None:
        counts = _counts_array(ts, target_index)
    n_lt, n_le = counts
    m = target_index.size
    if not stamp_right:
        loc = (n_lt if closed_right else n_le) - 1
        return F.when(loc >= 0, loc)
    loc = n_lt if closed_right else n_le
    return F.when(loc < m, loc)


def _conform(
    located: DataFrame,
    index: DateTimeIndex,
    agg: Column,
    key_col: str,
    value_col: str,
    dense: bool,
) -> DataFrame:
    """Aggregate ``located`` (observations carrying an index ``loc``, NULL
    off the index) into ``(key, loc, ts, value)`` cells on ``index``.

    ``dense=False`` keeps only the aggregated in-index cells. ``dense=True``
    emits one row per key × instant, NULL where a key has no cell, in one
    ``groupBy(key, loc)`` over the UNFILTERED input: a key whose
    observations all fall outside the index still owns a (loc NULL) group
    and survives as an all-NULL series without a second scan for the key
    universe. ``agg`` is evaluated on that group too and its result is
    dropped, so an aggregate with a side effect (``raise_error``) must not
    trip on it: gate the raise on ``F.col("loc").isNotNull()``
    (``duplicates="fail"`` does) or mask the out-of-index rows first
    (:func:`resample` does).

    A NULL key is one series, like any other key: the map grid groups it,
    and the join grid matches it with null-safe equality.

    The map grid comes out clustered by the key in
    ``spark.sql.shuffle.partitions`` partitions: one explicit
    ``repartition(n, key)`` after the ``(key, loc)`` partial aggregate,
    which adaptive execution never coalesces. A ``PARTITION BY key``
    window or per-key aggregate over the grid adds no exchange and runs
    that many tasks wide.
    """
    idx_df = F.broadcast(index.to_df(located.sparkSession))
    in_index = F.col("loc").isNotNull()
    if not dense:
        cells = located.where(in_index).groupBy(key_col, "loc").agg(
            agg.alias(value_col)
        )
        return cells.join(idx_df, "loc").select(key_col, "loc", "ts", value_col)
    binned = located.groupBy(key_col, "loc").agg(agg.alias(value_col))
    if len(index) <= MAP_GRID_MAX_INSTANTS:
        # an explicit count: adaptive execution coalesces a small
        # groupBy(key) exchange into one task, and the grid, every
        # PARTITION BY key window after it and a per-key aggregate after
        # those would all run in that task
        parts = int(located.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        per_key = binned.repartition(parts, key_col).groupBy(key_col).agg(
            F.map_from_entries(
                F.collect_list(F.when(in_index, F.struct("loc", value_col)))
            ).alias("_cells")
        )
        return per_key.crossJoin(idx_df).select(
            key_col, "loc", "ts", F.col("_cells")[F.col("loc")].alias(value_col)
        )
    cells = binned.where(in_index).select(
        F.col(key_col).alias("_key"), F.col("loc").alias("_loc"), value_col
    )
    grid = binned.select(key_col).distinct().crossJoin(idx_df)
    on = F.col(key_col).eqNullSafe(F.col("_key")) & (F.col("loc") == F.col("_loc"))
    return grid.join(cells, on, "left").select(key_col, "loc", "ts", value_col)


def resample(
    df: DataFrame,
    target_index: DateTimeIndex,
    aggr: str | Column = "avg",
    closed_right: bool = False,
    stamp_right: bool = False,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    dense: bool = True,
) -> DataFrame:
    """Downsample observations onto ``target_index``.

    ``aggr``: name of a builtin aggregate ("avg","sum","min","max","count",
    "first","last", ...) or a full Column aggregate expression over
    ``value_col``. ``dense=True`` reinserts empty windows as NULL values
    (reference: NaN, ``Resample.scala:113-115``); every key of ``df`` gets
    the full grid, including a key none of whose observations falls in a
    window.

    NULL-key contract: observations with a NULL key form one series, with
    its own aggregated cells, whatever the index length. A Column
    aggregate sees each observation outside every window as a row whose
    columns are all NULL except ``key_col``, so a ``raise_error`` validator
    in it never trips on a value the grid drops.

    Returns ``(key, loc, ts, value)``.
    """
    agg_expr = getattr(F, aggr)(value_col) if isinstance(aggr, str) else aggr
    located = df.withColumn(
        "loc", bucket_loc(F.col(ts_col), target_index, closed_right, stamp_right)
    )
    # a caller's aggregate is also evaluated on each key's out-of-window
    # group: masking those rows keeps a validator in it from tripping on
    # a value the grid drops
    in_window = F.col("loc").isNotNull()
    located = located.select(
        *[
            F.col(c) if c in (key_col, "loc") else F.when(in_window, F.col(c)).alias(c)
            for c in located.columns
        ]
    )
    return _conform(located, target_index, agg_expr, key_col, value_col, dense)


def downsample(
    df: DataFrame,
    n: int,
    phase: int = 0,
    key_col: str = "key",
    order_col: str = "loc",
) -> DataFrame:
    """Take every n-th element (``UnivariateTimeSeries.scala:332-345``).
    Positions are index locs, so this is a pushdown-friendly filter."""
    return df.where(F.pmod(F.col(order_col), F.lit(n)) == phase)


def upsample(
    df: DataFrame,
    n: int,
    phase: int = 0,
    use_zero: bool = False,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Insert missing cells around each element, reference-faithfully
    (``UnivariateTimeSeries.scala:355-373``): the new grid is the FULL
    ``[0, n·len)`` (newLen = origLen·n, trailing fillers included) with
    original values at ``i·n + phase`` — each input loc emits exactly its
    n grid cells, the value landing where the fan offset equals
    ``phase``. Row-local (one explode, no join, no global max); an
    earlier formulation truncated the grid at the last value and shifted
    it by phase, diverging from the reference for phase > 0."""
    if not 0 <= phase < n:
        raise ValueError(f"phase must be in [0, {n}), got {phase}")
    return df.select(
        key_col,
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("_o"),
        (F.col(order_col) * n + F.col("_o")).alias(order_col),
        F.when(F.col("_o") == phase, F.col(value_col))
        .otherwise(F.lit(0.0) if use_zero else F.lit(None))
        .alias(value_col),
    ).select(key_col, order_col, value_col)


def ohlc(
    df: DataFrame,
    unit: str = "day",
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    volume_col: str | None = None,
) -> DataFrame:
    """OHLC bars per (key, ``date_trunc(unit)`` bucket) → (key, bar_ts,
    open, high, low, close, n[, vwap]): the canonical tick→bar
    downsample every market-data / metrics pipeline runs. Beyond-
    reference (the reference's resample takes ONE aggregate per call;
    bars need four positional ones).

    ``open``/``close`` are the values at the bucket's first/last
    timestamp, tie-broken by SMALLEST/LARGEST value on duplicate
    timestamps (stated: a deterministic pick, so two engines and two
    runs agree — min/max over a (ts, value) struct, which Spark
    aggregates WITHOUT a sort window). ``vwap`` = Σ v·vol / Σ vol when
    ``volume_col`` is given (NULL on zero total volume). NULL values are
    skipped; empty buckets emit no row (join a calendar for dense bars —
    the ``resample(dense=True)`` pattern).

    Plan: ONE map-side-combinable groupBy over (key, bucket) — min/max
    of structs and sums; no window, no second exchange."""
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    bar = F.date_trunc(unit, F.col(ts_col)).alias("bar_ts")
    aggs = [
        F.min(F.struct(F.col(ts_col), v)).alias("_o"),
        F.max(v).alias("high"),
        F.min(v).alias("low"),
        F.max(F.struct(F.col(ts_col), v)).alias("_c"),
        F.count(v).alias("n"),
    ]
    if volume_col is not None:
        aggs += [
            F.sum(v * F.col(volume_col)).alias("_pv"),
            F.sum(volume_col).alias("_vol"),
        ]
    out = pts.groupBy(key_col, bar).agg(*aggs)
    out = out.select(
        key_col,
        "bar_ts",
        F.col("_o")[value_col].alias("open"),
        "high",
        "low",
        F.col("_c")[value_col].alias("close"),
        "n",
        *(
            [F.try_divide(F.col("_pv"), F.col("_vol")).alias("vwap")]
            if volume_col is not None
            else []
        ),
    )
    return out


def twa(
    df: DataFrame,
    unit: str = "day",
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """TIME-weighted average per (key, ``date_trunc(unit)`` bucket) →
    (key, bar_ts, n, span_seconds, twa): each observation weighted by
    the seconds it "holds" — until the NEXT observation in the same
    bucket, or until the bucket's end for the bucket's last one (the
    LOCF-to-bucket-end convention every metering/billing pipeline
    uses). THE correct average for irregular gauges: a plain AVG counts
    a value sampled 100× in one minute 100× — twa counts it by its one
    minute. No carry ACROSS bucket boundaries (a bucket with no
    observations emits no row; its would-be carry value is a fill
    concern, stated). NULL values are skipped; weights are exact
    microsecond differences (both engines derive identical doubles).

    Plan: one (key, bucket)-partitioned lead window + one groupBy on
    the same key — the realized_vol single-exchange shape, all JVM."""
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    bar = F.date_trunc(unit, F.col(ts_col))
    d = pts.withColumn("_bar", bar)
    w = Window.partitionBy(key_col, "_bar").orderBy(ts_col, value_col)
    bar_end = F.col("_bar") + F.expr(f"INTERVAL 1 {unit}")
    nxt = F.coalesce(F.lead(ts_col).over(w), bar_end)
    wt = (
        F.unix_micros(nxt) - F.unix_micros(F.col(ts_col))
    ).cast("double") / 1e6
    d = d.withColumn("_w", wt)
    return d.groupBy(key_col, F.col("_bar").alias("bar_ts")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_w").alias("span_seconds"),
        F.try_divide(F.sum(v * F.col("_w")), F.sum("_w")).alias("twa"),
    )


def count_bars(
    df: DataFrame,
    n: int = 50,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Event-clock OHLC: bars of exactly ``n`` EVENTS each (the last
    bar per key may be partial) → (key, bar, start_ts, end_ts, open,
    high, low, close, n_events). The market-microstructure alternative
    to wall-clock bars — activity time instead of calendar time, so
    busy periods get more bars and quiet ones fewer, which stabilizes
    per-bar statistics. Bars are numbered 0.. per key in event order
    (ties broken by value — the :func:`ohlc` determinism convention).

    Plan: one (key, ts)-ordered row_number window + ONE map-side-
    combinable groupBy(key, bar) of struct extrema — two exchanges,
    no joins, all JVM."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    w = Window.partitionBy(key_col).orderBy(ts_col, value_col)
    d = pts.withColumn(
        "bar", F.floor((F.row_number().over(w) - 1) / n)
    )
    return d.groupBy(key_col, "bar").agg(
        F.min(ts_col).alias("start_ts"),
        F.max(ts_col).alias("end_ts"),
        F.min(F.struct(F.col(ts_col), v)).getField(value_col).alias("open"),
        F.max(v).alias("high"),
        F.min(v).alias("low"),
        F.max(F.struct(F.col(ts_col), v)).getField(value_col).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


def bucket_cardinality(
    df: DataFrame,
    unit: str = "day",
    key_col: str = "key",
    ts_col: str = "ts",
    exact: bool = True,
    rsd: float = 0.05,
) -> DataFrame:
    """Per-time-bucket activity cardinality → (bucket, n_events,
    n_unique): events and DISTINCT entities per ``date_trunc(unit)``
    bucket — the DAU/WAU-style audience counter.

    ``exact=True`` (the oracle-replayable form) uses COUNT(DISTINCT):
    correct, but Spark plans it as a two-level aggregate with a SECOND
    shuffle keyed on (bucket, key) — fine while buckets × entities
    fits a shuffle. ``exact=False`` is the 100 TB path:
    ``approx_count_distinct`` (HyperLogLog++, relative error ``rsd``)
    — a mergeable fixed-size sketch, ONE map-side-combinable
    aggregate, no second shuffle (the ``robust_location``/
    ``embedding_dim_stats`` sketch convention; error-envelope-tested
    and plan-pinned)."""
    if unit not in ("hour", "day", "week", "month"):
        raise ValueError(
            f"unit must be one of ['day', 'hour', 'month', 'week'],"
            f" got {unit}"
        )
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    uniq = (
        F.count_distinct(F.col(key_col))
        if exact
        else F.approx_count_distinct(key_col, rsd)
    )
    return df.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_events"),
        uniq.alias("n_unique"),
    )


def stickiness(
    df: DataFrame,
    window_days: int = 28,
    key_col: str = "key",
    ts_col: str = "ts",
) -> DataFrame:
    """DAU/MAU engagement ratio per day → (bucket, dau, mau,
    stickiness): ``dau`` = distinct entities active that day, ``mau``
    = distinct entities active in the TRAILING ``window_days``-day
    window ending that day (inclusive), stickiness = dau/mau — the
    standard product-engagement gauge (≈ how many days of the window
    the average active user shows up). Only days with ≥ 1 event emit a
    row (stated: the trailing window is still counted over the full
    calendar, so a gap day inside the window contributes its users to
    later MAUs regardless).

    Plan: rolling COUNT(DISTINCT) has no window form, so the classic
    contribution explode: the DISTINCT (entity, day) activity table
    fans each row out to the ``window_days`` target days it supports
    (one Generate, bounded ×28), then ONE count_distinct aggregate per
    target day — two exchanges over the (entities × days) table, never
    over raw events; no self-join, no per-day re-scan."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    day = F.date_trunc("day", F.col(ts_col))
    acts = df.select(
        F.col(key_col).alias("_k"), day.cast("date").alias("_d")
    ).distinct()
    dau = acts.groupBy(F.col("_d").alias("bucket")).agg(
        F.count_distinct("_k").alias("dau")
    )
    fan = acts.select(
        "_k",
        F.explode(
            F.sequence(F.lit(0), F.lit(window_days - 1))
        ).alias("_off"),
        "_d",
    ).select("_k", F.date_add(F.col("_d"), F.col("_off")).alias("bucket"))
    mau = fan.groupBy("bucket").agg(F.count_distinct("_k").alias("mau"))
    return (
        dau.join(mau, "bucket")
        .select(
            F.col("bucket").cast("timestamp").alias("bucket"),
            "dau", "mau",
            F.try_divide(
                F.col("dau").cast("double"), F.col("mau").cast("double")
            ).alias("stickiness"),
        )
    )
