"""Dynamic Time Warping — elastic distance between series.

Beyond-reference; the classical elastic measure (Sakoe & Chiba 1978)
that matches series shifted or locally stretched in time, where
Euclidean/correlation measures see nothing. Complements the engine's
shape tooling: :mod:`operators.matrixprofile` finds repeated shapes
WITHIN a series, DTW compares shapes ACROSS series.

Oracle-replayable for a BOUNDED pair despite the sequential DP: the
driver's ``dtw_pair`` oracle walks the (n+1)×(m+1) grid cell-per-step
in a recursive CTE, carrying the trailing m+2 cells as a list — the
recurrence D[i,j] = cost + min(D[i−1,j], D[i,j−1], D[i−1,j−1]) only
ever looks that far back, and the arithmetic DAG per cell is identical
IEEE, so the replay is bit-exact. That is O(n·m) recursion steps —
fine for one diagnostic pair, not for :func:`dtw_nearest`'s corpus
fan-out, whose correctness stays pinned by the brute-force numpy
replay in tests.

Plan: the corpus dimension parallelizes per key through one grouped-map
kernel; the query series is a bounded driver transfer (one series —
the same envelope as broadcast centroids / model params). Per-pair cost
is O(n·m) time, O(band·n) with a Sakoe-Chiba band, vectorized per
anti-diagonal row. Series lengths live inside the reference's
one-series-in-memory envelope (``src/site/markdown/index.md:35-40``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["dtw_numpy", "dtw_distance", "dtw_nearest"]


def dtw_numpy(
    a: np.ndarray, b: np.ndarray, band: int | None = None
) -> float:
    """DTW distance with squared-difference local cost and the standard
    3-way step pattern; ``band`` is the Sakoe-Chiba half-width in
    index units (None = unconstrained). Returns the SQUARE ROOT of the
    accumulated squared cost (so DTW of identical series is 0 and the
    units match the value scale). Infeasible bands (|len(a)−len(b)| >
    band) return inf."""
    a = np.asarray(a, dtype=float)
    b = np.asarray(b, dtype=float)
    n, m = len(a), len(b)
    if n == 0 or m == 0:
        return float("inf")
    if band is not None and abs(n - m) > band:
        return float("inf")
    prev = np.full(m + 1, np.inf)
    prev[0] = 0.0
    for i in range(1, n + 1):
        cur = np.full(m + 1, np.inf)
        if band is None:
            lo, hi = 1, m
        else:
            lo, hi = max(1, i - band), min(m, i + band)
        cost = (a[i - 1] - b[lo - 1 : hi]) ** 2
        # cur[j] = cost + min(prev[j], prev[j-1], cur[j-1]); the cur[j-1]
        # term is sequential — keep the inner loop tight and local
        for off, j in enumerate(range(lo, hi + 1)):
            cur[j] = cost[off] + min(prev[j], prev[j - 1], cur[j - 1])
        prev = cur
    return float(np.sqrt(prev[m]))


def _series(df, key, key_col, order_col, value_col):
    rows = (
        df.where(
            (F.col(key_col) == key) & F.col(value_col).isNotNull()
        )
        .orderBy(order_col)
        .select(value_col)
        .collect()
    )
    return np.array([r[0] for r in rows], dtype=float)


def dtw_distance(
    df: DataFrame,
    key_a: str,
    key_b: str,
    band: int | None = None,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """DTW between two named series → one row (key_a, key_b, n_a, n_b,
    dtw). Same conformed-pair envelope as :func:`models.granger_test`;
    the pair flows as one group through a grouped-map kernel so the DP
    runs on an executor."""
    pts = df.where(
        F.col(key_col).isin([key_a, key_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).alias("_k"),
        F.col(order_col).alias("_o"),
        F.col(value_col).alias("_v"),
    )

    def _d(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_o")
        a = pdf.loc[pdf["_k"] == key_a, "_v"].to_numpy(dtype=float)
        b = pdf.loc[pdf["_k"] == key_b, "_v"].to_numpy(dtype=float)
        d = dtw_numpy(a, b, band)
        return pd.DataFrame(
            {
                "key_a": [key_a],
                "key_b": [key_b],
                "n_a": [len(a)],
                "n_b": [len(b)],
                "dtw": [d if np.isfinite(d) else None],
            }
        )

    return pts.withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        _d, schema="key_a string, key_b string, n_a long, n_b long,"
        " dtw double",
    )


def dtw_nearest(
    df: DataFrame,
    query_key: str,
    k: int = 5,
    band: int | None = None,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """k nearest series to ``query_key`` under DTW → (key, n, dtw,
    rank), excluding the query itself. The query series is ONE bounded
    driver transfer (broadcast into the kernel closure); every other
    series computes its distance in parallel, then the K-row result
    takes a top-k. Infeasible-band series drop out."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = _series(df, query_key, key_col, order_col, value_col)
    if len(q) == 0:
        raise ValueError(f"query series {query_key!r} has no observations")

    def _d(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_o")
        key = pdf["_k"].iloc[0]
        v = pdf["_v"].to_numpy(dtype=float)
        d = dtw_numpy(q, v, band)
        return pd.DataFrame(
            {"key": [key], "n": [len(v)],
             "dtw": [d if np.isfinite(d) else None]}
        )

    pts = df.where(
        (F.col(key_col) != query_key) & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).alias("_k"),
        F.col(order_col).alias("_o"),
        F.col(value_col).alias("_v"),
    )
    from ..parallel import map_groups

    dists = map_groups(pts, "_k", _d, "key string, n long, dtw double")
    from pyspark.sql import Window as W

    w = W.orderBy(F.col("dtw").asc_nulls_last(), F.col("key").asc())
    return (
        dists.where(F.col("dtw").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
