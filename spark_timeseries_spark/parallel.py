"""Parallelism helpers for CPU-bound kernel stages.

A Python task has a fixed cost a JVM task does not: on a 4-vCPU
container at ``local[4]``, 40 trivial Python tasks (ten waves) took
259–321 ms per wave even on reused workers, against 17–23 ms for JVM
tasks (``python -m tools.python_task_cost`` measures it on any box).
Most of it is import-cache upkeep: each task's ``setup_spark_files``
calls ``importlib.invalidate_caches()``, which on CPython 3.11 re-reads
``pyspark.zip``'s 1,328-entry directory once per zipimporter; a worker
holds 16 zipimporters, and one call took 130–310 ms inside a worker.
Library code cannot remove this cost: it comes from the deployment
putting ``$SPARK_HOME/python/lib/pyspark.zip`` on the worker path.
So :func:`map_groups`, the grouped-map primitive every per-series Python
kernel runs on, uses ONE wave of ``defaultParallelism`` tasks and ONE
``mapInPandas`` call per task, where ``groupBy().applyInPandas`` frames
and invokes every group separately. Its exchange is an explicit
``repartition(n, keys…, lit(0))``: AQE's byte-based coalescing never
shrinks an explicit count (it would squeeze a small input into ONE task
running every estimator serially, measured 7× slower), and the constant
keeps the planner from pruning the exchange against an upstream one
already hash-partitioned by the key at the same (coalescible) count.

:func:`route_by_length` is the one per-series length router of every
dual-plan operator: a SQL-exact JVM plan for short series (the form the
oracle replays) and a ``map_groups`` kernel for long ones, split by a
count window and unioned in one lazy plan. Each caller owns its bound
(a module constant, or the EMA's numeric envelope); none exposes it as
an option.

:func:`collect_at_most` is the one size gate of every driver-local loop
(``pagerank``, ``connected_components``, ``bpe_train``), and
:func:`local_relation` hands a driver-local result back to Spark: built
from a ``pyarrow.Table`` it plans a ``LocalRelation`` with its real size
(72 bytes for 3 rows of two longs), where ``createDataFrame(list)``
plans an RDD scan of unknown size filled by Python-worker tasks, so a
join against it is planned as a shuffle join until adaptive execution
has run the shuffles.

``spread_kernel`` keeps the ``2·cores + 1`` key repartition for the JVM
pair-fold stages in ``operators/rolling.py``, which pay no Python task
cost; ``spread_rows`` is its round-robin variant for row-parallel stages
fed by a single-file scan or a coalesced exchange. None of them changes
values.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: Arrow → pandas widens a nullable column when THIS frame holds a NULL
#: (integers to float64, booleans to object). applyInPandas converts per
#: group, map_groups per batch, so NULL-free groups get these back
_NULL_FREE_DTYPES = {
    T.ByteType: "int8", T.ShortType: "int16", T.IntegerType: "int32",
    T.LongType: "int64", T.BooleanType: "bool",
}


def kernel_parallelism(df: DataFrame) -> int:
    """Partition count of ``spread_kernel``/``spread_rows``: 2·cores + 1."""
    return 2 * df.sparkSession.sparkContext.defaultParallelism + 1


def spread_kernel(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition by the grouping key(s) with an explicit, cores-scaled
    partition count so a downstream JVM pair-fold stage runs parallel."""
    return df.repartition(
        kernel_parallelism(df), *[F.col(c) for c in key_cols]
    )


def spread_rows(df: DataFrame) -> DataFrame:
    """Round-robin repartition with an explicit, cores-scaled count for
    row-parallel kernel stages (broadcast scoring, mapInPandas decode)."""
    return df.repartition(kernel_parallelism(df))


def map_groups(
    df: DataFrame,
    keys: str | Sequence[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType | str,
    order_by: Sequence[str] = (),
) -> DataFrame:
    """``df.groupBy(keys).applyInPandas(fn, schema)`` in one wave, same
    contract: each ``fn`` call gets one whole group with every input
    column, a fresh ``RangeIndex`` and per-group dtypes; NULL keys form
    one group; output columns match by name. Rows of a group arrive
    sorted by ``order_by``.

    Plan: one ``REPARTITION_BY_NUM`` exchange into ``defaultParallelism``
    partitions, a partition-local sort on ``keys + order_by``, and one
    ``mapInPandas`` call per partition that cuts each Arrow batch into
    its groups, carrying a group still open at a batch's end into the
    next batch."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    restore = {
        f.name: _NULL_FREE_DTYPES[type(f.dataType)]
        for f in df.schema.fields
        if f.nullable and type(f.dataType) in _NULL_FREE_DTYPES
    }
    clustered = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism,
        *[F.col(k) for k in keys], F.lit(0),
    ).sortWithinPartitions(*[F.col(c) for c in (*keys, *order_by)])

    def call(parts: list[pd.DataFrame]) -> pd.DataFrame:
        pdf = pd.concat(parts, ignore_index=True)
        for col, dtype in restore.items():
            if pdf[col].dtype != dtype and pdf[col].notna().all():
                pdf[col] = pdf[col].astype(dtype)
        return fn(pdf)

    def same_key(a: pd.DataFrame, b: pd.DataFrame) -> bool:
        return all(
            x == y or (pd.isna(x) and pd.isna(y))
            for x, y in ((a[k].iat[0], b[k].iat[0]) for k in keys)
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        held: list[pd.DataFrame] = []  # parts of the group still open
        for pdf in batches:
            done = []
            for _, g in pdf.groupby(keys, sort=False, dropna=False):
                if held and not same_key(held[0], g):
                    done.append(call(held))
                    held = []
                held.append(g)
            if outs := [o for o in done if len(o)]:
                yield pd.concat(outs, ignore_index=True)
        if held and len(out := call(held)):
            yield out

    return clustered.mapInPandas(run, schema)


def route_by_length(
    df: DataFrame,
    group_cols: Sequence[str],
    bound: int,
    short: Callable[[DataFrame], DataFrame],
    long: Callable[[DataFrame], DataFrame],
    method: str = "auto",
    sides: tuple[str, str] = ("short", "long"),
    n_col: str | None = None,
) -> DataFrame:
    """``short`` over the groups of ``df`` with at most ``bound`` rows,
    ``long`` over the rest, unioned by name — one lazy plan, no driver
    action. ``group_cols=[]`` makes the whole frame one group.

    ``method`` "auto" routes; a value equal to one of ``sides`` (the
    names of ``short`` and ``long``) runs that side over all of ``df``;
    anything else raises ``ValueError``. ``n_col`` names a group row
    count ``df`` already carries: it is routed on as is and stays in the
    rows each side gets. Without it one count window over ``group_cols``
    is added, and dropped before either side runs."""
    if method in sides:
        return (short if method == sides[0] else long)(df)
    if method != "auto":
        raise ValueError(
            f"method must be auto|{sides[0]}|{sides[1]}, got {method}"
        )
    n = n_col or "_gn"
    if n_col is None:
        w = Window.partitionBy(*(group_cols or [F.lit(1)]))
        df = df.withColumn(n, F.count(F.lit(1)).over(w))

    def side(fn: Callable[[DataFrame], DataFrame], cond) -> DataFrame:
        part = df.where(cond)
        return fn(part if n_col else part.drop(n))

    return side(short, F.col(n) <= bound).unionByName(
        side(long, F.col(n) > bound)
    )


def collect_at_most(
    df: DataFrame, bound: int
) -> tuple[DataFrame, list[Row] | None]:
    """``(cut, rows)``: ``df`` local-checkpointed, and its rows when it has
    at most ``bound`` of them, else ``None``.

    One ``coalesce(1).limit(bound + 1).collect()`` decides in one job: its
    one task reads the partitions in turn, so at or below the bound it
    fills the whole checkpoint. Above it Spark fills the partitions the
    probe did not reach in one more, parallel job, so a distributed loop
    over ``cut`` does not re-run ``df``. No count and no cache handle: the
    blocks are reclaimed once ``cut`` is garbage-collected, and are not
    recomputed if an executor is lost."""
    cut = df.localCheckpoint(eager=False)
    rows = cut.coalesce(1).limit(bound + 1).collect()
    return cut, (rows if len(rows) <= bound else None)


def local_relation(
    spark, schema: T.StructType, columns: Sequence[Sequence]
) -> DataFrame:
    """A frame of ``schema`` whose i-th column holds ``columns[i]``, built
    through Arrow: a ``LocalRelation`` whose size the optimizer knows, so
    a join against it broadcasts from the start. No job runs."""
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
