"""Kleinberg burst detection over irregular event streams.

Beyond-reference (the reference has no event-stream surface): the
classic two-state automaton of Kleinberg, "Bursty and Hierarchical
Structure in Streams" (KDD 2002) — a base state emitting inter-arrival
gaps at the stream's own average rate λ₀ and a burst state at
λ₁ = s·λ₀, with a γ·ln(m)-cost barrier against entering the burst
state; the minimum-cost (Viterbi) state path labels each gap
burst/normal. The principled alternative to threshold-on-count burst
flags: rate-free, length-aware, and stable under slow drift.

Determinism contract (the cross-engine oracle story):

- λ₀ is derived from EXACT INTEGERS — gap microseconds and their sum —
  as ``(m · 1e6) / T_µs`` in this exact expression order, so Spark and
  any replaying engine compute bit-identical rates (no float
  aggregation order in sight).
- Every Viterbi cost is QUANTIZED to ``digits`` decimals (default 6)
  as soon as it is produced, via the half-up form
  ``floor(x·10^d + 0.5)/10^d`` — floor is exact and the two float ops
  are identical in any IEEE engine, unlike round() whose tie rule
  differs across engines. ln() may differ by an ulp across math
  libraries; quantization absorbs that BEFORE any comparison, so the
  argmin path — the branchy part a last-ulp wobble could flip — is
  engine-independent. Ties on quantized costs prefer the NON-burst
  state (stated).

Scale: :func:`~spark_timeseries_spark.parallel.map_groups` — ONE
exchange (hash repartition on key) + one partition-local (key, time)
sort feed a ``mapInPandas`` pass that computes gaps, rates, and the
per-key Viterbi itself — no window passes, no per-group Arrow framing.
A NULL key is one series like any other. Emission
costs are quantized VECTORIZED (numpy elementwise — the identical
IEEE multiply/add/floor sequence as scalar math); only the two-cost
recurrence itself runs as a plain-float scalar loop (it is a true
sequential min-plus recursion — the kalman/bocpd class), O(m) per key
and embarrassingly parallel across keys. The oracle replays the
recursion with two recursive CTEs (forward costs+parents
MATERIALIZED, backward path walk) — the kalman RTS-smoother
technique.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..parallel import map_groups

__all__ = ["kleinberg_bursts", "burst_episodes"]

_NO_GAPS = pd.DataFrame(columns=["key", "ts", "gap_seconds", "state"])


def kleinberg_bursts(
    df: DataFrame,
    s: float = 2.0,
    gamma: float = 1.0,
    key_col: str = "key",
    ts_col: str = "ts",
    digits: int = 6,
) -> DataFrame:
    """Per-gap burst labels → (key, ts, gap_seconds, state): one row
    per inter-arrival gap (ts = the gap-CLOSING event's timestamp),
    ``state`` 1 while the minimum-cost Kleinberg path is in the burst
    state. Rows with a NULL timestamp are dropped; keys with < 2
    remaining events, or whose events all share one microsecond (zero
    span — no rate is defined), emit no rows.

    Emission cost −ln λ_j + λ_j·g, burst entry cost γ·ln(m), exit
    free; the path starts in the base state (Kleinberg's convention).
    See the module docstring for the quantized-cost determinism
    contract and the single-exchange mapInPandas plan."""
    if s <= 1.0:
        raise ValueError(f"s must be > 1, got {s}")
    if gamma <= 0:
        raise ValueError(f"gamma must be positive, got {gamma}")
    q = 10.0 ** digits
    floor = math.floor

    d = (
        df.select(F.col(key_col).alias("key"), F.col(ts_col).alias("ts"))
        .where(F.col(ts_col).isNotNull())
        .withColumn("_us", F.unix_micros(F.col(ts_col).cast("timestamp")))
    )

    def _labels(us: np.ndarray):
        """Viterbi labels for ONE key's sorted event micros; None when
        no rate is defined (< 2 events or zero span)."""
        n = us.size
        if n < 2:
            return None
        m = n - 1
        tus = int(us[-1]) - int(us[0])
        if tus <= 0:
            return None
        lam0 = (m * 1e6) / tus
        lam1 = s * lam0
        ln0, ln1 = math.log(lam0), math.log(lam1)
        g = np.diff(us) / 1e6
        # quantized emission costs, vectorized: numpy elementwise
        # multiply/add/floor are the same IEEE-double ops in the same
        # order as the scalar form — bit-identical, loop-free
        e0 = np.floor((-ln0 + lam0 * g) * q + 0.5) / q
        e1 = np.floor((-ln1 + lam1 * g) * q + 0.5) / q
        rtau = floor(gamma * math.log(m) * q + 0.5) / q
        e0l = e0.tolist()
        e1l = e1.tolist()
        # two running quantized costs as plain Python floats — the
        # recurrence is sequential by definition; plain floats dodge
        # numpy scalar boxing in the hot loop
        c0p = e0l[0]
        c1p = floor((rtau + e1l[0]) * q + 0.5) / q
        p0 = [0]
        p1 = [0]
        ap0 = p0.append
        ap1 = p1.append
        for t in range(1, m):
            e0t = e0l[t]
            e1t = e1l[t]
            # into state 0: exit is free from either state
            if c0p <= c1p:
                c0n = floor((c0p + e0t) * q + 0.5) / q
                ap0(0)
            else:
                c0n = floor((c1p + e0t) * q + 0.5) / q
                ap0(1)
            # into state 1: entering from 0 pays the barrier
            up = floor(
                (floor((c0p + rtau) * q + 0.5) / q + e1t) * q + 0.5
            ) / q
            stay = floor((c1p + e1t) * q + 0.5) / q
            if up <= stay:
                c1n = up
                ap1(0)
            else:
                c1n = stay
                ap1(1)
            c0p, c1p = c0n, c1n
        state = np.empty(m, dtype=np.int32)
        st = 0 if c0p <= c1p else 1
        state[m - 1] = st
        for t in range(m - 1, 0, -1):
            st = p0[t] if st == 0 else p1[t]
            state[t - 1] = st
        return g, state

    def _one(grp: pd.DataFrame) -> pd.DataFrame:
        res = _labels(grp["_us"].to_numpy(dtype=np.int64))
        if res is None:
            return _NO_GAPS
        g, state = res
        return pd.DataFrame({
            "key": grp["key"].iat[0],
            "ts": grp["ts"].to_numpy()[1:],
            "gap_seconds": g,
            "state": state,
        })

    return map_groups(
        d, "key", _one,
        "key string, ts timestamp, gap_seconds double, state int",
        order_by=("_us",),
    )


def burst_episodes(
    df: DataFrame,
    s: float = 2.0,
    gamma: float = 1.0,
    key_col: str = "key",
    ts_col: str = "ts",
    digits: int = 6,
) -> DataFrame:
    """Burst EPISODES per key → (key, episode, start_ts, end_ts,
    n_gaps): maximal runs of state-1 gaps from
    :func:`kleinberg_bursts`, numbered 1.. in time order; ``start_ts``
    is the first burst gap's closing event, ``end_ts`` the last. The
    report-ready surface (gaps-and-islands over the per-gap labels —
    one extra window pass, all JVM)."""
    lab = kleinberg_bursts(df, s, gamma, key_col, ts_col, digits)
    ws = Window.partitionBy("key").orderBy("ts")
    d = lab.withColumn(
        "_st",
        (
            (F.col("state") == 1)
            & (F.coalesce(F.lag("state").over(ws), F.lit(0)) == 0)
        ).cast("int"),
    )
    d = d.withColumn("_ep", F.sum("_st").over(ws)).where(F.col("state") == 1)
    return (
        d.groupBy("key", F.col("_ep").alias("episode"))
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count(F.lit(1)).alias("n_gaps"),
        )
        .select("key", "episode", "start_ts", "end_ts", "n_gaps")
    )
