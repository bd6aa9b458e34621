"""Index alignment: observations → conformed series grid; rebasing.

Reference equivalents:

- ``timeSeriesRDDFromObservations`` (``TimeSeriesRDD.scala:694-745``):
  secondary-sort shuffle + per-partition dense-vector assembly with
  O(log n)-per-element index lookups (a flagged slow path, ``:722-723``).
- ``withIndex`` / ``rebase`` (``TimeSeriesRDD.scala:554-563``,
  ``TimeSeriesUtils.scala:56-221``): conform series to a new index, filling
  missing instants.

Spark-first design: alignment is a **join against the index**, not a
per-element lookup loop. For uniform indices the join disappears entirely —
``loc`` is O(1) epoch arithmetic inside codegen. For irregular/hybrid indices
we join the (small) index DataFrame; Catalyst broadcasts it automatically.
Densification (materializing missing cells as NULL) is ``resample._conform``,
the one conform step this module shares with ``resample``: one
``groupBy(key, loc)`` over the unfiltered observations (one scan), then a
per-key ``loc → value`` map, clustered by the key in
``spark.sql.shuffle.partitions`` partitions, crossed with the broadcast
index — or, above
``MAP_GRID_MAX_INSTANTS`` instants, a key×index left join keyed from that
same aggregate. The grid is exactly the size of the reference's dense
vectors. The reference's four hand-specialized rebaser
code paths (``TimeSeriesUtils.scala:78-102``) all collapse into this single
declarative plan; Catalyst picks the physical strategy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..index import DateTimeIndex, UniformDateTimeIndex
from .resample import _conform, _uniform_step_us


def loc_expr(ts: Column, index: DateTimeIndex) -> Column | None:
    """O(1) arithmetic ``loc`` for uniform fixed-step indices; NULL when the
    timestamp is off-grid or out of range. None if not expressible."""
    if not isinstance(index, UniformDateTimeIndex):
        return None
    step = _uniform_step_us(index)
    if step is None:
        return None
    start_us = index.start.value // 1000
    delta = F.unix_micros(ts) - F.lit(start_us)
    loc = (delta / F.lit(step)).cast("long")
    on_grid = (F.pmod(delta, F.lit(step)) == 0) & (delta >= 0) & (
        loc < F.lit(index.size)
    )
    return F.when(on_grid, loc)


def attach_loc(
    df: DataFrame, index: DateTimeIndex, ts_col: str = "ts", loc_col: str = "loc"
) -> DataFrame:
    """Attach the index location of each observation (NULL if off-index).

    Uniform fixed-step → arithmetic; otherwise an equi-join with the index
    DataFrame (broadcast by Catalyst/AQE when small)."""
    expr = loc_expr(F.col(ts_col), index)
    if expr is not None:
        return df.withColumn(loc_col, expr)
    idx = index.to_df(df.sparkSession).withColumnsRenamed(
        {"ts": ts_col, "loc": loc_col}
    )
    # a non-uniform index is driver-resident (instants array) and therefore
    # always small relative to the observations side — force the broadcast
    # rather than letting a stats-less createDataFrame fall back to SMJ
    return df.join(F.broadcast(idx), ts_col, "left")


def from_observations(
    df: DataFrame,
    index: DateTimeIndex,
    ts_col: str = "ts",
    key_col: str = "key",
    value_col: str = "value",
    dense: bool = True,
    duplicates: str = "max",
) -> DataFrame:
    """Conform a long observations table to ``index``: returns the canonical
    conformed layout ``(key, loc, ts, value)`` with one row per key×instant
    (``dense=True``) and NULL for missing cells. Observations whose timestamp
    is not in the index are dropped, matching ``TimeSeriesRDD.scala:727-739``.

    ``duplicates`` controls how several observations for the same
    (key, instant) resolve: ``"max"`` (default) / ``"min"`` take the
    extremum — deterministic under any partitioning; ``"fail"`` raises at
    execution time on the first duplicated cell, for callers needing the
    reference's overwrite-by-arrival parity to DETECT divergence instead
    of silently taking an extremum. The reference overwrites by arrival
    order, which has no distributed analogue — rows in a shuffled group
    carry the same timestamp, so any "last one wins" (F.last over a
    groupBy) is partition-order roulette; the extremum is the
    deterministic tiebreak. Duplicates outside the index never raise.

    Key universe and NULL-key contract (``dense=True``): every key of
    ``df`` gets the full grid, including a key whose observations all
    fall outside the index (an all-NULL series). The keys come from the
    same single pass that aggregates the cells — ``df`` is scanned once.
    A NULL key is one series with its own cells, whatever the index
    length."""
    if duplicates == "fail":
        agg_value = F.when(
            (F.count(F.lit(1)) > 1) & F.col("loc").isNotNull(),
            F.raise_error(
                F.concat(
                    F.lit("duplicate observations for (key, instant): ("),
                    F.col("key"),
                    F.lit(", loc="),
                    F.col("loc").cast("string"),
                    F.lit(")"),
                )
            ).cast("double"),
        ).otherwise(F.max("value"))
    elif duplicates in ("max", "min"):
        agg_value = (F.max if duplicates == "max" else F.min)("value")
    else:
        raise ValueError(
            f"duplicates must be 'max', 'min' or 'fail', got {duplicates!r}"
        )
    located = attach_loc(
        df.select(
            F.col(ts_col).alias("ts"),
            F.col(key_col).cast("string").alias("key"),
            F.col(value_col).cast("double").alias("value"),
        ),
        index,
    )
    return _conform(located, index, agg_value, "key", "value", dense)


def with_index(
    df: DataFrame,
    new_index: DateTimeIndex,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    dense: bool = True,
) -> DataFrame:
    """Rebase a conformed frame onto a new index (``TimeSeriesRDD.scala:554-563``):
    values at instants present in both indices survive; instants only in the
    new index become NULL. Replaces all four specialized rebaser paths of
    ``TimeSeriesUtils.scala:78-221`` with one plan: this is
    :func:`from_observations` over the conformed rows.

    Every series survives — the reference rebasers keep every series. One
    whose values are all NULL over the old index (offline sensor) comes
    back all-NULL, because ``max`` over NULLs is NULL; a NULL key is one
    series, as in :func:`from_observations`. With ``dense=False`` a NULL
    cell of ``df`` at a shared instant stays a NULL row."""
    return from_observations(
        df,
        new_index,
        ts_col=ts_col,
        key_col=key_col,
        value_col=value_col,
        dense=dense,
    )


def union_index_df(*dfs: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Distributed index union (cf. ``DateTimeIndexUtils.scala:80-153``):
    sorted distinct instants across inputs, with fresh locations.

    Location numbering uses the distributed-rank pattern rather than a
    global ``Window.orderBy`` (which is a single-partition sort — the exact
    thing that dies first at 100 TB): bucket each instant by a
    DETERMINISTIC function of its value (equi-width over the broadcast
    [min, max] span), rank within each bucket, then add per-bucket offsets
    (one tiny aggregate over #buckets rows, broadcast back). Every stage is
    parallel; nothing ever sees the whole index on one task.

    Why value-derived buckets and not ``repartitionByRange``: the ranked
    rows and the per-bucket counts are two consumers of the same subtree,
    and range partitioning samples its boundaries per-execution — without
    exchange reuse the two branches could disagree on which partition a ts
    lands in, silently duplicating/skipping locs (r3 ADVICE). A bucket
    computed from the value itself is identical in every re-execution, so
    the numbering is structurally deterministic: no conf guard, no
    single-partition fallback, and no extra boundary-sampling job. Skew
    caveat: pathologically clustered instants can pile into one bucket —
    correctness is unaffected, the rank degrades toward a partial sort.
    """
    out = None
    for d in dfs:
        part = d.select(F.col(ts_col).alias("ts"))
        out = part if out is None else out.unionByName(part)
    from pyspark.sql import Window

    distinct = out.distinct()
    # broadcast 1-row min/max instead of a driver collect: keeps the whole
    # plan lazy, and min/max over a distinct set are deterministic no
    # matter how either consumer re-executes the scan
    span = distinct.agg(
        F.unix_micros(F.min("ts")).alias("_lo"),
        F.unix_micros(F.max("ts")).alias("_hi"),
    )
    spark = dfs[0].sparkSession
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    width = F.greatest(
        (F.col("_hi") - F.col("_lo") + F.lit(1)).cast("double")
        / F.lit(float(n_buckets)),
        F.lit(1.0),
    )
    bucketed = distinct.join(F.broadcast(span)).withColumn(
        "_b",
        F.least(
            F.floor((F.unix_micros("ts") - F.col("_lo")) / width),
            F.lit(n_buckets - 1),
        ).cast("int"),
    )
    # partitionBy(_b) keeps the rank per-bucket — no task ever sorts more
    # than its own contiguous ts slice
    local = bucketed.withColumn(
        "_rk",
        F.row_number().over(Window.partitionBy("_b").orderBy("ts")) - 1,
    )
    counts = local.groupBy("_b").agg(F.count("*").alias("_cnt"))
    # cumulative offsets: #buckets rows — trivially small, single
    # partition here is fine and broadcast below
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0))
    ).select("_b", "_off")
    return (
        local.join(F.broadcast(offsets), "_b")
        .withColumn("loc", (F.col("_rk") + F.col("_off")).cast("long"))
        .select("loc", "ts")
    )


def union_series(
    df: DataFrame,
    keys: list[str] | None = None,
    out_key: str = "union",
    key_col: str = "key",
    loc_col: str = "loc",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """First-non-missing coalesce of same-index series into ONE series
    (``TimeSeriesUtils.scala:30-54``: per instant, scan the series in
    order and take the first non-NaN — the reference implements only this
    same-index case and throws beyond it). ``keys`` fixes the priority
    order (series listed first win); ``None`` means all series in
    ascending key order. Cells where every series is missing stay NULL
    (our grid's NaN). Output: ``(key=out_key, loc, ts, value)``.

    Plan: one ``min(when(valid, struct(priority, value)))`` aggregation
    per instant — a single map-side-combined shuffle on ``loc``, no join,
    no window; the struct-min IS the "first non-missing in priority
    order" scan, run distributively."""
    valid = F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
    if keys is not None:
        if len(set(keys)) != len(keys):
            raise ValueError("duplicate keys in priority list")
        prio = F.array_position(
            F.array(*[F.lit(str(k)) for k in keys]), F.col(key_col)
        )
        d = df.where(F.col(key_col).isin([str(k) for k in keys]))
    else:
        prio = F.col(key_col)
        d = df
    picked = (
        d.groupBy(F.col(loc_col).alias("loc"))
        .agg(
            F.min(F.col(ts_col)).alias("ts"),
            F.min(
                F.when(valid, F.struct(prio.alias("p"), F.col(value_col).alias("v")))
            ).alias("_pick"),
        )
    )
    return picked.select(
        F.lit(out_key).alias("key"),
        "loc",
        "ts",
        F.col("_pick.v").alias("value"),
    )
