"""Matrix profile — all-pairs nearest-neighbor subsequence distances.

Beyond-reference; the modern time-series-mining primitive (Yeh et al.
2016, "Matrix Profile I"): for every length-``m`` subsequence of a
series, the z-normalized Euclidean distance to its nearest non-trivial
neighbor in the SAME series. Low profile values mark motifs (repeated
shapes), the maximum marks the top discord (the most anomalous
subsequence) — one structure answers both queries.

Distance identity used everywhere (kernel AND the SQL oracle replay):

    d²(i, j) = 2m·(1 − (⟨wᵢ, wⱼ⟩ − m·μᵢ·μⱼ) / (m·σᵢ·σⱼ))

with population σ (the MP convention). Trivial matches are masked by an
exclusion zone |i − j| < ``exclusion`` (default ⌈m/4⌉, the STOMP/SCAMP
convention). Flat windows (σ = 0) have no z-normalized shape: they get
a NULL profile value and are excluded as neighbors.

Plan: the corpus dimension parallelizes per key through ONE grouped-map
kernel (Arrow batch per series); inside, the kernel is a blocked GEMM
over the sliding-window matrix — O(n²) work and O(block·n) memory per
series, the reference's own one-series-in-memory envelope
(``src/site/markdown/index.md:35-40``). The O(n log n) STOMP/FFT
recursion is the named escape hatch if series ever outgrow the
envelope; at that length the GEMM constant is not the bottleneck the
way the O(n²) term is.

The series is expected gap-free over its observed run (fill first —
windows span CONSECUTIVE observations; a hole would silently join two
distant shapes). NULL cells are dropped before windowing.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["matrix_profile"]


def matrix_profile(
    df: DataFrame,
    m: int,
    exclusion: int | None = None,
    block: int = 1024,
    key_col: str = "key",
    order_col: str = "loc",
    value_col: str = "value",
) -> DataFrame:
    """→ (key, loc, mp, mp_idx) — one row per length-``m`` window start
    (``loc`` = the order value of the window's first observation), with
    the z-normalized nearest-neighbor distance and the neighbor's start
    ``loc``. NULL mp for flat windows and for windows whose every
    candidate is flat or excluded. Ties take the smallest neighbor
    index (deterministic)."""
    if m < 2:
        raise ValueError(f"m must be >= 2, got {m}")
    excl = exclusion if exclusion is not None else max(1, math.ceil(m / 4))
    if excl < 1:
        raise ValueError(f"exclusion must be >= 1, got {excl}")

    def _mp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_o")
        key = pdf["_k"].iloc[0]
        v = pdf["_v"].to_numpy(dtype=float)
        locs = pdf["_o"].to_numpy()
        n = len(v)
        w_cnt = n - m + 1
        if w_cnt < 1:
            return pd.DataFrame(
                {"key": [], "loc": [], "mp": [], "mp_idx": []}
            ).astype({"key": object, "loc": "int64"})
        win = np.lib.stride_tricks.sliding_window_view(v, m)
        mu = win.mean(axis=1)
        # population sigma via explicit deviations: a constant window is
        # EXACTLY zero (matches the oracle's gate bit-for-bit)
        sd = np.sqrt(((win - mu[:, None]) ** 2).mean(axis=1))
        valid = sd > 0
        mp = np.full(w_cnt, np.inf)
        mp_idx = np.full(w_cnt, -1, dtype=np.int64)
        for s in range(0, w_cnt, block):
            e = min(s + block, w_cnt)
            dots = win[s:e] @ win.T  # blocked GEMM, raw windows
            with np.errstate(invalid="ignore", divide="ignore"):
                corr = (dots - m * np.outer(mu[s:e], mu)) / (
                    m * np.outer(sd[s:e], sd)
                )
            d2 = 2.0 * m * (1.0 - corr)
            d2[~valid[s:e], :] = np.inf
            d2[:, ~valid] = np.inf
            for r in range(e - s):
                i = s + r
                lo, hi = max(0, i - excl + 1), min(w_cnt, i + excl)
                d2[r, lo:hi] = np.inf
            d2 = np.where(d2 < 0, 0.0, d2)  # fp dust below exact zero
            rows_min = d2.min(axis=1)
            rows_arg = d2.argmin(axis=1)  # first (= smallest) index wins
            upd = rows_min < mp[s:e]
            mp[s:e] = np.where(upd, rows_min, mp[s:e])
            mp_idx[s:e] = np.where(upd, rows_arg, mp_idx[s:e])
        finite = np.isfinite(mp)
        return pd.DataFrame(
            {
                "key": key,
                "loc": locs[:w_cnt],
                "mp": np.where(finite, np.sqrt(np.where(finite, mp, 0.0)),
                               np.nan),
                "mp_idx": [
                    int(locs[j]) if f else None
                    for f, j in zip(finite, mp_idx)
                ],
            }
        )

    obs = df.where(F.col(value_col).isNotNull()).select(
        F.col(key_col).alias("_k"),
        F.col(order_col).alias("_o"),
        F.col(value_col).alias("_v"),
    )
    from ..parallel import map_groups

    return map_groups(
        obs, "_k", _mp, "key string, loc long, mp double, mp_idx long"
    )
