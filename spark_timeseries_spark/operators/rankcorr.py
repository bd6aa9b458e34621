"""Rank correlation between two named series: Spearman ρ and Kendall τ-b.

Beyond-reference (sryza/spark-timeseries stops at Pearson via the
instants matrix); these are the robust monotone-association companions
of :func:`~spark_timeseries_spark.operators.rolling.crosscorr` — rank
statistics survive outliers and nonlinear-but-monotone couplings that
flatten a Pearson estimate.

Scale notes (the two-named-series diagnostic envelope, the
coherence/crosscorr precedent):

- **spearman_corr** is LINEAR: average-ranks are two window expressions
  and ρ is one corr aggregate — fine at any overlap length.
- **kendall_tau** is a PAIR statistic, dual-planned (the
  ema/theil_sen/coherence precedent, routed by
  :func:`~spark_timeseries_spark.parallel.route_by_length`): overlaps of
  ≤ ``_PAIR_THRESHOLD`` rows take the O(T²/2) self-join (SQL-replayable, map-side-combined
  down to four counters — an overlap of 10⁴ rows is 5·10⁷ join rows);
  longer overlaps route to a grouped-map merge-sort inversion-count
  kernel (Knight 1966) — O(T log T), the exact same four counters.

PRECONDITION (both functions): each named series must have at most one
non-null observation per ``loc`` — ``_overlap`` pairs the two series
with an equi-join on loc, so duplicated (key, loc) rows would multiply
pairs (and the join-plan's ``_l1 < _l2`` predicate would silently drop
same-loc duplicate pairs), skewing every counter. Dedupe or aggregate
to one row per (key, loc) upstream.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..parallel import route_by_length

__all__ = ["spearman_corr", "kendall_tau"]

#: overlap length up to which :func:`kendall_tau` runs the pair
#: self-join (8192²/2 ≈ 3.4·10⁷ join rows); longer overlaps take the
#: merge-sort kernel
_PAIR_THRESHOLD = 8192


def _overlap(df, key_a, key_b, key_col, loc_col, value_col) -> DataFrame:
    """Non-null overlap of the two named series → (_l, _x, _y).
    Precondition: unique (key, loc) — duplicates multiply through the
    equi-join (module docstring)."""
    v = F.col(value_col)
    pts = df.where(v.isNotNull())
    a = pts.where(F.col(key_col) == key_a).select(
        F.col(loc_col).alias("_l"), v.alias("_x")
    )
    b = pts.where(F.col(key_col) == key_b).select(
        F.col(loc_col).alias("_l"), v.alias("_y")
    )
    return a.join(b, "_l")


def spearman_corr(
    df: DataFrame,
    key_a: str,
    key_b: str,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """Spearman rank correlation over the two series' non-null overlap
    → one row (key_a, key_b, n, rho): Pearson correlation of the
    AVERAGE ranks (ties get the mean of the positions they span —
    rank + (ties−1)/2 — the textbook mid-rank convention, so ρ matches
    ``scipy.stats.spearmanr`` exactly, ties included). NULL rho when
    the overlap has < 2 rows or either side is constant.

    Plan: overlap equi-join on loc, two rank windows + two tie-count
    windows over the bounded pair overlap, ONE corr aggregate. All
    JVM, no Python, no explode."""
    j = _overlap(df, key_a, key_b, key_col, loc_col, value_col)
    wx = Window.partitionBy(F.lit(1)).orderBy("_x")
    wy = Window.partitionBy(F.lit(1)).orderBy("_y")
    tx = Window.partitionBy("_x")
    ty = Window.partitionBy("_y")
    r = j.select(
        (
            F.rank().over(wx)
            + (F.count(F.lit(1)).over(tx) - 1) / 2.0
        ).alias("_rx"),
        (
            F.rank().over(wy)
            + (F.count(F.lit(1)).over(ty) - 1) / 2.0
        ).alias("_ry"),
    )
    # NOT F.corr: under ANSI mode corr() raises DIVIDE_BY_ZERO on a
    # constant side; the sample-moment form (the (n-1)s cancel) gives
    # the identical value with try_divide -> NULL degeneracy
    return r.agg(
        F.lit(key_a).alias("key_a"),
        F.lit(key_b).alias("key_b"),
        F.count(F.lit(1)).alias("n"),
        F.try_divide(
            F.covar_samp("_rx", "_ry"),
            F.stddev_samp("_rx") * F.stddev_samp("_ry"),
        ).alias("rho"),
    )


def _count_inversions(a: np.ndarray) -> int:
    """Strict inversions (i < j with a[i] > a[j]) via bottom-up merge
    sort with vectorized ``searchsorted`` per block merge — O(n log n)
    counter work, O(n/base) Python-loop iterations. The seed blocks
    (``base`` = 64) count their internal inversions with one O(base²)
    vectorized triangular comparison each."""
    a = np.asarray(a, dtype=float)
    n = a.size
    if n < 2:
        return 0
    inv = 0
    base = 64
    arr = a.copy()
    for lo in range(0, n, base):
        blk = arr[lo : lo + base]
        inv += int(np.sum(np.triu(blk[:, None] > blk[None, :], k=1)))
        blk.sort()
    width = base
    while width < n:
        for lo in range(0, n, 2 * width):
            mid = lo + width
            hi = min(lo + 2 * width, n)
            if mid >= hi:
                continue
            left = arr[lo:mid]
            right = arr[mid:hi]
            # cross inversions: for each r in right, #left strictly > r
            inv += int(
                (left.size - np.searchsorted(left, right, side="right")).sum()
            )
            arr[lo:hi] = np.sort(arr[lo:hi], kind="mergesort")
        width *= 2
    return inv


def _tie_pairs(sorted_a: np.ndarray) -> int:
    """Σ t(t−1)/2 over runs of equal values in an already-sorted array."""
    if sorted_a.size < 2:
        return 0
    change = np.nonzero(np.diff(sorted_a) != 0)[0]
    idx = np.concatenate(([0], change + 1, [sorted_a.size]))
    runs = np.diff(idx)
    return int((runs * (runs - 1) // 2).sum())


def _kendall_join_plan(j: DataFrame, key_a: str, key_b: str) -> DataFrame:
    """O(T²/2) pair-join counters (the SQL-replayable short plan).
    Grouped on a literal so an EMPTY routed branch yields zero rows
    (a global agg would emit a phantom all-zero row from the other
    branch of the auto union); the overlap count joins back on the
    same literal, LEFT so an n = 1 overlap still surfaces its row
    (pairs empty → NULL counters, the pre-dual-plan behavior)."""
    l_ = j.select(
        F.lit(1).alias("_g"),
        F.col("_l").alias("_l1"),
        F.col("_x").alias("_x1"),
        F.col("_y").alias("_y1"),
    )
    r_ = j.select(
        F.col("_l").alias("_l2"),
        F.col("_x").alias("_x2"),
        F.col("_y").alias("_y2"),
    )
    pairs = l_.join(r_, F.col("_l1") < F.col("_l2"))
    sx = F.signum(F.col("_x2") - F.col("_x1"))
    sy = F.signum(F.col("_y2") - F.col("_y1"))
    agg = pairs.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n0"),
        F.sum(F.when(sx * sy > 0, 1).otherwise(0)).alias("nc"),
        F.sum(F.when(sx * sy < 0, 1).otherwise(0)).alias("nd"),
        F.sum(F.when(sx == 0, 1).otherwise(0)).alias("_tx"),
        F.sum(F.when(sy == 0, 1).otherwise(0)).alias("_ty"),
    )
    n_rows = j.groupBy(F.lit(1).alias("_g")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tau = F.try_divide(
        (F.col("nc") - F.col("nd")).cast("double"),
        F.sqrt(
            (F.col("_n0") - F.col("_tx")).cast("double")
            * (F.col("_n0") - F.col("_ty")).cast("double")
        ),
    )
    return n_rows.join(agg, "_g", "left").select(
        F.lit(key_a).alias("key_a"),
        F.lit(key_b).alias("key_b"),
        "n",
        F.col("nc").alias("n_concordant"),
        F.col("nd").alias("n_discordant"),
        tau.alias("tau"),
    )


def _kendall_merge_plan(j: DataFrame, key_a: str, key_b: str) -> DataFrame:
    """Merge-sort inversion-count kernel (Knight 1966) — O(T log T):
    lexsort the overlap by (x, y); the strict y-inversions of that
    order are EXACTLY the discordant pairs (same-x runs are y-sorted
    → contribute none; y-ties are neither), tie terms come from run
    lengths, and nc = n0 − tx − ty + txy − nd. One grouped-map over
    the single bounded pair-overlap group — the long-overlap path of
    the dual plan, same four counters as the join plan."""
    schema = (
        "key_a string, key_b string, n long, n_concordant long, "
        "n_discordant long, tau double"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["_x"].to_numpy(dtype=float)
        y = pdf["_y"].to_numpy(dtype=float)
        n = x.size
        if n < 2:
            return pd.DataFrame(
                {
                    "key_a": [key_a],
                    "key_b": [key_b],
                    "n": np.int64(n),
                    "n_concordant": np.int64(0),
                    "n_discordant": np.int64(0),
                    "tau": [None],
                }
            )
        order = np.lexsort((y, x))
        xs, ys = x[order], y[order]
        tx = _tie_pairs(xs)
        ty = _tie_pairs(np.sort(y))
        both = np.nonzero((np.diff(xs) != 0) | (np.diff(ys) != 0))[0]
        idx = np.concatenate(([0], both + 1, [n]))
        runs = np.diff(idx)
        txy = int((runs * (runs - 1) // 2).sum())
        nd = _count_inversions(ys)
        n0 = n * (n - 1) // 2
        nc = n0 - tx - ty + txy - nd
        denom = float(n0 - tx) * float(n0 - ty)
        tau = (nc - nd) / np.sqrt(denom) if denom > 0 else None
        return pd.DataFrame(
            {
                "key_a": [key_a],
                "key_b": [key_b],
                "n": np.int64(n),
                "n_concordant": np.int64(nc),
                "n_discordant": np.int64(nd),
                "tau": [tau],
            }
        )

    return (
        j.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(kernel, schema)
    )


def kendall_tau(
    df: DataFrame,
    key_a: str,
    key_b: str,
    key_col: str = "key",
    loc_col: str = "loc",
    value_col: str = "value",
    method: str = "auto",
) -> DataFrame:
    """Kendall τ-b over the two series' non-null overlap → one row
    (key_a, key_b, n, n_concordant, n_discordant, tau): for every
    unordered pair of overlap rows, concordant if x and y move the
    same way, discordant if opposite, dropped from the respective
    denominator when tied; τ-b = (nc − nd)/√((n0 − tx)(n0 − ty)) with
    n0 = n(n−1)/2 and tx/ty the tied-pair counts (matches
    ``scipy.stats.kendalltau`` default). NULL tau when either side is
    fully tied or n < 2. Precondition: unique (key, loc) per series
    (module docstring — duplicates skew every counter).

    Dual plan (``method``): "auto" (default) routes by overlap length
    through :func:`~spark_timeseries_spark.parallel.route_by_length` —
    the O(T²/2) pair self-join for ≤ ``_PAIR_THRESHOLD`` rows (SQL-
    replayable, the oracle branch), the O(T log T) merge-sort
    inversion-count grouped-map kernel above it (8192² /2 ≈ 3.4·10⁷
    join rows is where the quadratic plan stops being cheap);
    "join" / "mergesort" force one strategy. Both produce the exact
    same integer counters (parity-pinned at the bound).

    For τ-b between two row-level COLUMNS (not two named series) with
    bounded value cardinalities, prefer
    :func:`~.hypothesis.kendall_tau_b` — its cell-collapsed grid plan
    is O(|X|·|Y|) independent of row count and also ships the
    tie-corrected test z; this function's pair plans are the right
    tool when the inputs are long-format series aligned by loc."""
    j = _overlap(df, key_a, key_b, key_col, loc_col, value_col)
    if method == "auto":
        # route on the overlap row count without a driver action: one
        # unbounded count window over the bounded pair overlap (the
        # spearman global-rank precedent). The overlap is PERSISTED: its
        # three lazy consumers (count window + both branches) would
        # otherwise each recompute the upstream series scan/join —
        # measured 1.9 → 4.4 s on the sf0.01 daily-grid row (the
        # pipeline.clean persist_intermediate precedent; bench.py runs
        # clearCache per query). A forced side has one consumer.
        wall = Window.partitionBy(F.lit(1))
        j = j.withColumn("_n", F.count(F.lit(1)).over(wall)).persist()
    return route_by_length(
        j, [], _PAIR_THRESHOLD,
        lambda d: _kendall_join_plan(d.drop("_n"), key_a, key_b),
        lambda d: _kendall_merge_plan(d.drop("_n"), key_a, key_b),
        method, sides=("join", "mergesort"), n_col="_n",
    )
