"""Seeded inputs, the three pipelines, and their output checks.

Inputs are synthetic tables shaped like the library's test fixtures
(``events``: user_id, ts, value; ``documents``: doc_id, text, source),
written as parquet into the work directory. The seed picks which keys or
documents of a fixed universe are drawn (a hash sample of exactly N), and
the series/texts of each drawn id depend only on the id, so two seeds
share structure but not rows, and the same seed always gives the same
files.

Each workload is a list of stages ``(layer, fn)``. ``fn`` takes the
previous stage's output and calls the library's public API; the traced
runner wraps every stage in a job group and materializes its output.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: ts_chain / model_fits draw keys from this universe of user ids
KEY_UNIVERSE = 1500
#: corpus_chain draws documents from this universe of doc ids
DOC_UNIVERSE = 5000
#: hourly grid of the ts_chain index: 30 days
GRID_HOURS = 720
T0 = pd.Timestamp("2024-01-01")
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _draw(seed: int, universe: int, n: int) -> np.ndarray:
    """The ``n`` ids of ``range(universe)`` with the smallest
    ``blake2b(seed, id)``: a hash sample of exact size, sorted."""
    def h(i: int) -> bytes:
        return hashlib.blake2b(f"{seed}:{i}".encode(), digest_size=8).digest()

    return np.sort(np.array(sorted(range(universe), key=h)[:n], dtype=np.int64))


def _rng(*parts: int) -> np.random.Generator:
    return np.random.default_rng([int(p) for p in parts])


def write_events(path: str, seed: int, n_keys: int) -> int:
    """``events.parquet`` for ``n_keys`` drawn users: 45-99 hour-aligned
    observations each on distinct hours of the 720-hour grid, an AR(1)
    level around a per-user mean with a daily cycle. Returns row count."""
    keys, ts, vals = [], [], []
    for k in _draw(seed, KEY_UNIVERSE, n_keys):
        r = _rng(7, k)
        n = int(r.integers(45, 100))
        hours = np.sort(r.choice(GRID_HOURS, size=n, replace=False))
        e = np.empty(n)
        e[0] = r.normal()
        for i in range(1, n):
            e[i] = 0.6 * e[i - 1] + r.normal()
        level = 20 + 60 * r.random()
        v = level + 8 * np.sin(2 * np.pi * hours / 24) + 5 * e
        keys.append(np.full(n, k))
        ts.append(T0 + pd.to_timedelta(hours, unit="h"))
        vals.append(np.round(np.abs(v), 2))
    table = pa.table(
        {
            "event_id": np.arange(sum(map(len, keys)), dtype=np.int64),
            "ts": pa.array(np.concatenate(ts).astype("datetime64[us]")),
            "user_id": np.concatenate(keys),
            "value": np.concatenate(vals),
        }
    )
    pq.write_table(table, os.path.join(path, "events.parquet"))
    return table.num_rows


def write_documents(path: str, seed: int, n_docs: int) -> int:
    """``documents.parquet`` for ``n_docs`` drawn documents of 10-100 words
    from the fixture vocabulary, plus a near-copy (its text and `` dup``)
    of every tenth drawn document, so each sample has the same near-dup
    cluster structure. Returns row count."""

    def text(i: int) -> str:
        r = _rng(11, i)
        return " ".join(r.choice(WORDS, size=int(r.integers(10, 101))))

    ids = list(_draw(seed, DOC_UNIVERSE, n_docs))
    texts = [text(i) for i in ids]
    copies = range(0, n_docs, 10)
    ids += [ids[k] + DOC_UNIVERSE for k in copies]
    texts += [texts[k] + " dup" for k in copies]
    table = pa.table(
        {
            "doc_id": np.array(ids, dtype=np.int64),
            "text": texts,
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    pq.write_table(table, os.path.join(path, "documents.parquet"))
    return table.num_rows


# ---------------------------------------------------------------------------
# pipelines
# ---------------------------------------------------------------------------

#: every layer the benchmark reports, named after the library's modules
LAYERS = (
    "sources", "operators.align", "operators.fill", "operators.rolling",
    "models.fit", "pipeline.clean", "pipeline.dedup", "pipeline.bpe",
    "pipeline.packing",
)


@dataclass
class Run:
    """State of one pipeline execution: what the stages produced and what
    must be released afterwards."""

    spark: object
    data_dir: str
    release: list[Callable[[], None]] = field(default_factory=list)
    extras: dict = field(default_factory=dict)


def _ts_chain():
    from spark_timeseries_spark import HourFrequency, uniform
    from spark_timeseries_spark.models import forecast
    from spark_timeseries_spark.operators import align, fill, rolling
    from spark_timeseries_spark.sources import events_observations

    index = uniform(T0, GRID_HOURS, HourFrequency(1))
    return [
        ("sources", lambda run, _: events_observations(run.spark, run.data_dir)),
        ("operators.align", lambda run, obs: align.from_observations(obs, index)),
        ("operators.fill", lambda run, grid: fill.fill_linear(grid)),
        ("operators.rolling", lambda run, df: rolling.roll_mean(df, 24)),
        ("models.fit", lambda run, df: forecast(df, "ar", 24, max_lag=2)),
    ]


FIT_MODELS = (("garch", {}), ("holtwinters", {"period": 7}), ("egarch", {}))


def _model_fits():
    from functools import reduce

    from spark_timeseries_spark.models import fit_models
    from spark_timeseries_spark.sources import events_observations

    def fit_all(run, obs):
        fits = [fit_models(obs, m, order_col="ts", **kw) for m, kw in FIT_MODELS]
        return reduce(lambda a, b: a.unionByName(b), fits)

    return [
        ("sources", lambda run, _: events_observations(run.spark, run.data_dir)),
        ("models.fit", fit_all),
    ]


def _corpus_chain():
    from spark_timeseries_spark.pipeline import bpe, clean, dedup, packing
    from spark_timeseries_spark.sources import load_table

    def clean_stage(run, docs):
        # the paragraph-dedup and span-removal rewrites are left off: with
        # them one warm run took ~59 s on a 4-core box, which does not fit
        # the benchmark's run length
        res = clean.pretrain_clean(
            docs,
            min_quality=0.0,
            min_compression_ratio=0.05,
            persist_intermediate=True,
        )
        run.release.append(res.release)
        # dedup_minhash_lsh and keep_cluster_representatives both read the
        # cleaned documents. Cutting the lineage once here, as a user
        # handing one result to two consumers would, spares every dedup
        # query re-planning the clean plan (the first five warm runs took
        # 8-13 s without the cut and 7-10 s with it, on a 4-core box).
        return res.df.localCheckpoint(eager=True)

    def dedup_stage(run, cleaned):
        registry: list = []
        run.release.append(lambda: [df.unpersist() for df in registry])
        pairs = dedup.dedup_minhash_lsh(
            cleaned, threshold=0.8, cache_registry=registry
        )
        return dedup.keep_cluster_representatives(cleaned, pairs)

    def bpe_stage(run, kept):
        # bpe_train and pack_sequences both read the kept documents
        kept = kept.persist()
        run.release.append(kept.unpersist)
        run.extras["bpe"] = bpe.bpe_train(kept, n_merges=64)
        return kept

    return [
        ("sources", lambda run, _: load_table(run.spark, run.data_dir, "documents")),
        ("pipeline.clean", clean_stage),
        ("pipeline.dedup", dedup_stage),
        ("pipeline.bpe", bpe_stage),
        ("pipeline.packing", lambda run, kept: packing.pack_sequences(kept, seq_len=2048)),
    ]


# ---------------------------------------------------------------------------
# output digests
# ---------------------------------------------------------------------------

def sink_ts_chain(run: Run, fc) -> dict:
    from pyspark.sql import functions as F

    h = F.xxhash64("key", "step", F.round("forecast", 6)).bitwiseAND(F.lit(0xFFFFFFFF))
    ok = (~F.isnan("forecast") & F.col("forecast").isNotNull()).cast("int")
    row = fc.agg(
        F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"), F.sum(ok).alias("ok")
    ).first()
    return {"rows": int(row["n"]), "hash": int(row["h"] or 0), "ok": int(row["ok"] or 0)}


def sink_model_fits(run: Run, fits) -> dict:
    """Fitted parameters come from iterative optimizers whose last digits
    may legitimately drift (a batched optimizer need not follow the same
    path), so the exact part of the digest covers keys, models and how
    many parameters each fit returned; the values are checked as per-model
    sums at a relative tolerance."""
    from pyspark.sql import functions as F

    rows = (
        fits.groupBy("model")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("key", F.size("params")).bitwiseAND(F.lit(0xFFFFFFFF))).alias("h"),
            F.sum((F.size("params") > 0).cast("int")).alias("ok"),
            F.sum(F.aggregate("params", F.lit(0.0), lambda a, x: a + x)).alias("psum"),
        )
        .collect()
    )
    by_model = {r["model"]: r for r in rows}
    return {
        "rows": sum(r["n"] for r in rows),
        "hash": sum(int(r["h"]) for r in rows),
        "ok": {m: int(r["ok"]) for m, r in sorted(by_model.items())},
        "param_sums": {m: round(float(r["psum"]), 6) for m, r in sorted(by_model.items())},
    }


def sink_corpus_chain(run: Run, packed) -> dict:
    """``near_copies_kept`` counts near-copies (id ``i + DOC_UNIVERSE``)
    packed together with their original ``i``: dedup missed them."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*packed.columns).bitwiseAND(F.lit(0xFFFFFFFF))
    row = packed.agg(
        F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"),
        F.collect_set("doc_id").alias("ids"),
    ).first()
    n, h, ids = int(row["n"]), int(row["h"] or 0), set(row["ids"])
    model = run.extras["bpe"]
    merges = hashlib.blake2b(
        repr((model.merges, model.pair_counts)).encode(), digest_size=8
    ).hexdigest()
    return {
        "rows": n, "hash": h, "bpe_merges": len(model.merges), "bpe_digest": merges,
        "near_copies_kept": sum(i >= DOC_UNIVERSE and i - DOC_UNIVERSE in ids for i in ids),
    }


def invariants_ts_chain(d: dict, size: int) -> list[str]:
    out = []
    if d["rows"] != size * 24:
        out.append(f"expected {size} keys x 24 forecast rows, got {d['rows']}")
    if d["ok"] != d["rows"]:
        out.append(f"{d['rows'] - d['ok']} forecasts are NaN")
    return out


def invariants_model_fits(d: dict, size: int) -> list[str]:
    out = []
    if d["rows"] != size * len(FIT_MODELS):
        out.append(f"expected {size} keys x {len(FIT_MODELS)} fits, got {d['rows']}")
    out += [
        f"{m}: only {d['ok'].get(m, 0)} of {size} fits returned parameters"
        for m, _ in FIT_MODELS
        if d["ok"].get(m, 0) < 0.9 * size
    ]
    return out


def invariants_corpus_chain(d: dict, size: int) -> list[str]:
    out = []
    if d["rows"] == 0:
        out.append("no document packed")
    if d["near_copies_kept"]:
        out.append(f"{d['near_copies_kept']} near-copies packed beside their original")
    if d["bpe_merges"] != 64:
        out.append(f"expected 64 BPE merges, got {d['bpe_merges']}")
    return out


def fit_ok_share(d: dict) -> float:
    """Fits (or forecasts) that produced usable output, over all attempted."""
    ok = d["ok"]
    return (sum(ok.values()) if isinstance(ok, dict) else ok) / max(d["rows"], 1)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    table: str
    size: int
    write: Callable[[str, int, int], int]
    stages: Callable[[], list]
    sink: Callable[[Run, object], dict]
    invariants: Callable[[dict, int], list]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "ts_chain",
            "align, linear fill, 24-h rolling mean and AR(2) forecast of 100 "
            "seed-drawn keys on a 720-hour grid (72k cells); JVM windows and "
            "exchanges dominate",
            "events", 100, write_events, _ts_chain, sink_ts_chain,
            invariants_ts_chain,
        ),
        Workload(
            "model_fits",
            "garch, holtwinters (period 7) and egarch fit on each of 40 "
            "seed-drawn series of 45-99 points; Python workers dominate",
            "events", 40, write_events, _model_fits, sink_model_fits,
            invariants_model_fits,
        ),
        Workload(
            "corpus_chain",
            "clean, MinHash near-dup, cluster keep, BPE and packing of 200 "
            "seed-drawn docs plus 20 near-copies; ~50 driver-synchronized "
            "jobs dominate",
            "documents", 200, write_documents, _corpus_chain, sink_corpus_chain,
            invariants_corpus_chain,
        ),
    )
}
