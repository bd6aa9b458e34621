"""Structured Streaming extension for observations tables.

The reference has NO streaming surface (SURVEY §2.12 — verified absence);
its docs only call the observations layout "append friendly"
(``users.md:54-56``). This module is the documented extension point: the
same observations schema ``(ts, key, value)`` consumed as a stream with
watermarked windowed aggregation — i.e. streaming ``resample`` — plus
stateful per-key EWMA via ``applyInPandasWithState``.

Scale design: windowed aggregation is Spark's native streaming shuffle with
state store compaction; the watermark bounds state. The EWMA operator keeps
O(1) state per key (the running smoothed value).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def read_observations_stream(
    spark,
    path: str,
    schema: str = "ts timestamp, key string, value double",
    fmt: str = "parquet",
) -> DataFrame:
    """File-source stream of observations (one file batch = one micro-batch)."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def streaming_resample(
    stream: DataFrame,
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    aggr: str = "avg",
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked tumbling/sliding-window aggregation — the streaming form
    of ``resample`` (open-left/stamp-left regime). Late data beyond the
    watermark is dropped; state is bounded by watermark × keys."""
    agg_fn = getattr(F, aggr)
    win = (
        F.window(ts_col, window_duration, slide)
        if slide
        else F.window(ts_col, window_duration)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col, win.alias("win"))
        .agg(agg_fn(value_col).alias(value_col))
        .select(
            key_col,
            F.col("win.start").alias("ts"),
            value_col,
        )
    )


def streaming_ewma(
    stream: DataFrame,
    smoothing: float,
    watermark: str = "2 hours",
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Stateful streaming EWMA per key via ``applyInPandasWithState``:
    state = (last smoothed value, last folded timestamp); each micro-batch
    folds its (sorted) observations into the running smoothed value — the
    streaming analog of ``EWMAModel.addTimeDependentEffects``
    (``models/EWMA.scala:136-143``).

    EWMA is ORDER-SENSITIVE, and sorting only happens within a
    micro-batch: a late-but-within-watermark row arriving after newer
    data has already been folded cannot be inserted retroactively.
    Folding it anyway would silently corrupt every subsequent value, so
    such rows are DROPPED (the state carries the last folded timestamp) —
    in-order streams match the batch EWMA exactly; disordered streams
    degrade by omission, never by corruption. A key whose batch holds
    only null values keeps its state untouched (writing a 0.0 seed there
    biased the key's whole tail toward zero)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        if state.exists:
            s, last_us = state.get
        else:
            s, last_us = None, None
        out_ts, out_v = [], []
        for _, row in rows.iterrows():
            x = row[value_col]
            if x is None or pd.isna(x):
                continue
            ts_us = int(pd.Timestamp(row[ts_col]).value // 1000)
            if last_us is not None and ts_us < last_us:
                continue  # out-of-order: drop, never fold retroactively
            s = x if s is None else smoothing * x + (1 - smoothing) * s
            last_us = ts_us
            out_ts.append(row[ts_col])
            out_v.append(s)
        if s is not None:
            state.update((float(s), int(last_us)))
        yield pd.DataFrame({"key": key[0], "ts": out_ts, "smoothed": out_v})

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType="key string, ts timestamp, smoothed double",
            stateStructType="s double, last_us long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_cusum(
    stream: DataFrame,
    stats: DataFrame,
    k: float = 0.5,
    h: float = 5.0,
    watermark: str = "2 hours",
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Stateful streaming CUSUM change-point alarms per key via
    ``applyInPandasWithState`` — the streaming twin of the batch
    ``operators.cusum`` (Page 1954): s⁺ = max(0, s⁺ + z − k),
    s⁻ = min(0, s⁻ + z + k) over standardized z = (x − μ)/σ, alarm when
    |s| crosses ``h``, then RESET that side (repeated-alarm mode).

    ``stats`` is a STATIC per-key baseline snapshot carrying ``center``
    and ``scale`` (fit offline, refresh by replacing the table — same
    contract as :func:`streaming_outliers`; the batch operator
    standardizes in-window, which a stream cannot without leaking the
    future). State is O(1) per key: (s⁺, s⁻, last folded timestamp).
    Ordering contract matches :func:`streaming_ewma`: within-batch rows
    fold in timestamp order; out-of-order-across-batches rows are
    DROPPED, never folded retroactively (the recursion is
    order-sensitive). Keys absent from the snapshot emit nothing (no
    baseline — fix the snapshot, don't guess). Output: one row per
    folded observation with the running sums and alarm flags."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if stats.isStreaming:
        raise ValueError("stats must be a STATIC frame")
    for c in ("center", "scale"):
        if c not in stats.columns:
            raise ValueError(f"stats is missing the {c!r} column")
    base = {
        r[key_col]: (float(r["center"]), float(r["scale"]))
        for r in stats.select(key_col, "center", "scale").collect()
        if r["scale"] is not None and r["scale"] > 0.0
    }
    # the snapshot is a per-key pair of scalars — driver-resident and tiny
    # by construction (same envelope as a broadcast dim); it rides the
    # closure into every state worker

    def update(key, pdfs, state: GroupState):
        kb = base.get(key[0])
        if kb is None:
            yield pd.DataFrame(
                {"key": [], "ts": [], "s_hi": [], "s_lo": [],
                 "alarm_hi": [], "alarm_lo": []}
            ).astype({"s_hi": float, "s_lo": float,
                      "alarm_hi": bool, "alarm_lo": bool})
            return
        mu, sigma = kb
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        if state.exists:
            s_hi, s_lo, last_us = state.get
        else:
            s_hi, s_lo, last_us = 0.0, 0.0, None
        out = {"ts": [], "s_hi": [], "s_lo": [], "alarm_hi": [], "alarm_lo": []}
        for _, row in rows.iterrows():
            x = row[value_col]
            if x is None or pd.isna(x):
                continue
            ts_us = int(pd.Timestamp(row[ts_col]).value // 1000)
            if last_us is not None and ts_us < last_us:
                continue
            z = (float(x) - mu) / sigma
            s_hi = max(0.0, s_hi + z - k)
            s_lo = min(0.0, s_lo + z + k)
            a_hi, a_lo = s_hi > h, s_lo < -h
            out["ts"].append(row[ts_col])
            out["s_hi"].append(s_hi)
            out["s_lo"].append(s_lo)
            out["alarm_hi"].append(a_hi)
            out["alarm_lo"].append(a_lo)
            if a_hi:
                s_hi = 0.0
            if a_lo:
                s_lo = 0.0
            last_us = ts_us
        if last_us is not None:
            state.update((float(s_hi), float(s_lo), int(last_us)))
        out["key"] = key[0]
        yield pd.DataFrame(out)

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=(
                "ts timestamp, s_hi double, s_lo double, "
                "alarm_hi boolean, alarm_lo boolean, key string"
            ),
            stateStructType="s_hi double, s_lo double, last_us long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def read_documents_stream(
    spark,
    path: str,
    schema: str = "doc_id long, source string, lang string, text string",
    fmt: str = "parquet",
) -> DataFrame:
    """File-source stream of documents — the streaming ingest side of the
    training-data pipeline (new crawl shards land as files)."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def streaming_dedup_exact(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str | None = None,
    watermark: str = "24 hours",
    normalize: bool = True,
) -> DataFrame:
    """Streaming exact dedup: keep ONE document per content digest.

    Uses ``dropDuplicates`` on the md5 content digest — Spark's native
    streaming dedup operator with state-store backing. With a ``ts_col`` the
    watermark bounds state (duplicates arriving later than the watermark are
    NOT caught — the usual streaming trade-off, stated rather than hidden);
    without one, state grows with the number of distinct documents, which is
    the exact-dedup lower bound anyway (one digest per unique doc).

    Batch parity: on a static frame this keeps one row per digest like
    ``pipeline.dedup.dedup_exact``, but the representative differs: batch
    keeps the lowest id; streaming keeps whichever row its state store saw
    first (arbitrary WITHIN a micro-batch, earliest batch across batches)."""
    from spark_timeseries_spark.pipeline.dedup import content_digest

    out = stream.withColumn("_h", content_digest(F.col(text_col), normalize))
    if ts_col is not None:
        out = out.withWatermark(ts_col, watermark)
        out = out.dropDuplicatesWithinWatermark(["_h"])
    else:
        out = out.dropDuplicates(["_h"])
    return out.drop("_h")


def streaming_token_stats(
    stream: DataFrame,
    window_duration: str = "1 hour",
    ts_col: str = "ts",
    source_col: str = "source",
    text_col: str = "text",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed per-source document/token/char throughput — the ingest
    monitoring aggregate of a streaming training-data pipeline (the
    streaming twin of the ``token_count_by_source`` batch query)."""
    from spark_timeseries_spark.pipeline.text import token_count

    n_tokens = token_count(F.col(text_col))  # blank-guard lives inside
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration), source_col)
        .agg(
            F.count("*").alias("docs"),
            F.sum(n_tokens).alias("total_tokens"),
            F.sum(F.length(text_col)).alias("total_chars"),
        )
        .select(
            F.col("window.start").alias("ts"), source_col,
            "docs", "total_tokens", "total_chars",
        )
    )


def streaming_incremental_dedup(
    stream: DataFrame,
    existing_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Streaming incremental-ingest dedup: drop arriving documents whose
    content digest already exists in a STATIC corpus snapshot, then
    dedup the stream itself (the streaming counterpart of
    ``pipeline.dedup.dedup_exact_incremental``).

    The corpus side is a static frame of digests — Structured Streaming
    plans the stream-static LEFT ANTI join natively, re-reading (or
    caching) only the one-column digest table per micro-batch; the old
    corpus's text never moves. ``existing_digests`` may be either a
    frame already carrying a ``_dig`` column (e.g. a persisted digest
    table — the build-once artifact at corpus scale) or raw documents
    with ``text_col``, digested here with the same normalization. The
    in-stream dedup is the state-store-backed ``dropDuplicates`` on the
    digest, exactly as :func:`streaming_dedup_exact`."""
    from spark_timeseries_spark.pipeline.dedup import content_digest

    if existing_digests.isStreaming:
        raise ValueError("existing_digests must be a STATIC frame")
    if "_dig" not in existing_digests.columns:
        existing_digests = existing_digests.select(
            content_digest(F.col(text_col), normalize).alias("_dig")
        )
    old = existing_digests.select("_dig").distinct()
    out = (
        stream.withColumn("_dig", content_digest(F.col(text_col), normalize))
        .join(old, "_dig", "left_anti")
        .dropDuplicates(["_dig"])
    )
    return out.drop("_dig")


def near_dedup_gate(
    existing_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
    within_batch: bool = True,
):
    """Build a NEAR-dup admission gate against a static corpus snapshot:
    returns ``gate(batch_df) -> DataFrame`` of the batch's documents that
    are near-duplicates of NOTHING in the corpus (and, with
    ``within_batch=True``, of no lower-id batchmate).

    This is the streaming complement of :func:`streaming_incremental_dedup`
    for NEAR duplicates: MinHash+LSH can't run as a stream-stream join
    (the verify step joins the batch against itself, which Structured
    Streaming forbids without watermark gymnastics), so the idiomatic
    shape is ``foreachBatch`` — inside it the micro-batch is a static
    frame and the whole batch cross-dedup machinery applies unchanged.
    Use :func:`streaming_near_dedup` to wire it to a stream, or call
    ``gate`` directly from your own ``foreachBatch``.

    Scale shape: the corpus's shingle-set table is built ONCE here and
    persisted across micro-batches (the build-once artifact of
    ``dedup_minhash_cross``); each batch pays its own shingling/banding
    plus the broadcast-increment band join — O(batch), not O(corpus),
    per micro-batch. Within-batch pairs drop the HIGHER id of each
    verified pair (greedy keep-lowest; a chain a~b~c with a<b<c keeps
    only ``a`` — both b and c pair with a lower id).

    Cache lifecycle (the r7 leak): each batch's own shingle-set cache is
    tracked in a closure registry and unpersisted at the START of the
    NEXT gate call — deferred one batch because the returned frame is
    lazy (the sink materializes it after ``gate`` returns), so executor
    storage is bounded at ONE batch's cache plus the permanent corpus
    artifact, instead of growing by a table per micro-batch for the
    stream's lifetime. The within-batch ``dedup_minhash_lsh`` holds no
    cache: its lazy local checkpoints free when the frame is
    garbage-collected."""
    from spark_timeseries_spark.pipeline.dedup import (
        dedup_minhash_cross,
        dedup_minhash_lsh,
        shingle_sets,
    )

    old_sets = shingle_sets(existing_df, text_col, id_col, shingle_n).persist()
    batch_caches: list = []

    def gate(batch_df: DataFrame) -> DataFrame:
        # previous batch's result is materialized by now (foreachBatch is
        # sequential) — release its caches before building this batch's
        for c in batch_caches:
            c.unpersist()
        batch_caches.clear()
        new_sets = shingle_sets(
            batch_df, text_col, id_col, shingle_n
        ).persist()
        batch_caches.append(new_sets)
        pairs = dedup_minhash_cross(
            batch_df,
            existing_df,
            text_col,
            id_col,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            hash_fn=hash_fn,
            max_bucket_size=max_bucket_size,
            new_sets=new_sets,
            old_sets=old_sets,
        )
        dup = pairs.select(F.col("id_new").alias(id_col)).distinct()
        out = batch_df.join(dup, id_col, "left_anti")
        if within_batch:
            self_pairs = dedup_minhash_lsh(
                out,
                text_col=text_col,
                id_col=id_col,
                threshold=threshold,
                num_hashes=num_hashes,
                bands=bands,
                shingle_n=shingle_n,
                hash_fn=hash_fn,
            )
            drop = self_pairs.select(
                F.greatest("id_a", "id_b").alias(id_col)
            ).distinct()
            out = out.join(drop, id_col, "left_anti")
        return out

    return gate


def streaming_near_dedup(
    stream: DataFrame,
    existing_df: DataFrame,
    sink,
    **gate_kwargs,
):
    """Wire :func:`near_dedup_gate` to a document stream: returns a
    ``DataStreamWriter`` whose ``foreachBatch`` passes each micro-batch's
    admitted (novel) documents to ``sink(novel_df, batch_id)``. The caller
    owns ``.start()`` / trigger / checkpoint config.

    ``sink`` is where admitted documents go (append to the corpus table,
    write a parquet shard, ...). NOTE the corpus snapshot is the one
    captured at gate-build time — documents admitted in earlier
    micro-batches do NOT gate later ones across batches unless the sink
    feeds a table ``existing_df`` reads live (the usual lambda-ingest
    contract; restate the gate to pick up a refreshed snapshot)."""
    if existing_df.isStreaming:
        raise ValueError("existing_df must be a STATIC frame")
    gate = near_dedup_gate(existing_df, **gate_kwargs)

    def process(batch_df: DataFrame, batch_id: int):
        sink(gate(batch_df), batch_id)

    return stream.writeStream.foreachBatch(process)


def streaming_outliers(
    stream: DataFrame,
    stats: DataFrame,
    threshold: float = 3.5,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Streaming outlier scoring against a STATIC per-key stats snapshot:
    arriving observations get ``score``/``is_outlier`` from a
    (key, center, scale) table fitted offline (batch
    ``operators.outliers`` output, a robust-fit artifact, or any SLA
    table) — the monitoring half of the batch operator, as a
    stream-static join + row-local arithmetic (no state store, no
    watermark needed; refresh the snapshot by replacing the table).

    ``stats`` must carry ``key_col``, ``center`` and ``scale`` columns;
    keys absent from the snapshot score NULL (no baseline — surface
    them, don't guess). Zero scale yields NULL, as in the batch twin."""
    if stats.isStreaming:
        raise ValueError("stats must be a STATIC frame")
    for c in ("center", "scale"):
        if c not in stats.columns:
            raise ValueError(f"stats is missing the {c!r} column")
    snap = F.broadcast(stats.select(key_col, "center", "scale"))
    score = F.try_divide(F.col(value_col) - F.col("center"), F.col("scale"))
    return (
        stream.join(snap, key_col, "left")
        .withColumn("score", score)
        .withColumn(
            "is_outlier",
            F.when(
                F.col("score").isNotNull(),
                F.abs(F.col("score")) > float(threshold),
            ),
        )
        .drop("center", "scale")
    )


def streaming_psi(
    stream: DataFrame,
    ref_fractions: list[float],
    lo: float,
    hi: float,
    window_duration: str = "10 minutes",
    watermark: str = "10 minutes",
    min_count: int = 1,
    eps: float = 1e-4,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Windowed PSI drift monitor against a STATIC reference histogram:
    each event-time tumbling window scores its value distribution with
    the Population Stability Index against ``ref_fractions`` (the
    per-bin proportions of the offline reference cohort — the list a
    batch :func:`pipeline.drift.psi_bins` run produces; bin edges are
    the same equal-width [lo, hi] carve, out-of-range values clamp to
    the end bins). → (window_start, window_end, n, psi). The streaming
    half of the batch drift gate: alert when a window's psi crosses the
    0.1 / 0.25 thresholds.

    Plan: Structured Streaming allows ONE aggregation per query, so the
    per-bin counts pivot into ``len(ref_fractions)`` conditional-count
    columns inside a single watermarked window aggregate (the reference
    side rides along as literals — it's ≤ a few hundred scalars, an
    offline artifact, not a join). Everything after the agg is
    row-local fold arithmetic. Windows with fewer than ``min_count``
    values report NULL psi (a 3-row window's histogram is noise, not
    drift)."""
    bins = len(ref_fractions)
    if bins < 2:
        raise ValueError(f"need >= 2 reference bins, got {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    width = (hi - lo) / bins
    v = F.col(value_col)
    bin_id = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(bins - 1),
    )
    agg = (
        stream.where(v.isNotNull())
        .withWatermark(ts_col, watermark)
        .withColumn("_bin", bin_id)
        .groupBy(F.window(ts_col, window_duration).alias("_w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.count(F.when(F.col("_bin") == i, 1)).alias(f"_c{i}")
                for i in range(bins)
            ],
        )
    )
    n = F.col("n").cast("double")
    psi = None
    for i, p_ref in enumerate(ref_fractions):
        pe = max(float(p_ref), eps)
        qe = F.greatest(F.col(f"_c{i}") / n, F.lit(eps))
        term = (qe - F.lit(pe)) * F.log(qe / F.lit(pe))
        psi = term if psi is None else psi + term
    return agg.select(
        F.col("_w.start").alias("window_start"),
        F.col("_w.end").alias("window_end"),
        "n",
        F.when(F.col("n") >= min_count, psi).alias("psi"),
    )


def streaming_asof_static(
    stream: DataFrame,
    snapshot: DataFrame,
    on: str = "ts",
    by: str = "key",
    value_cols: list[str] | None = None,
    suffix: str = "_snap",
) -> DataFrame:
    """Streaming as-of enrichment against a STATIC versioned snapshot:
    each arriving event picks up the snapshot row of its key that was
    current AT its event time (largest snapshot ``on`` ≤ event ``on``)
    — quotes, configs, model versions. The streaming half of
    :func:`operators.asof.asof_join` (whose union-window formulation
    needs the whole series and can't run on an unbounded stream).

    Plan — no state store, no watermark, no aggregation: the static
    side is rewritten ONCE into SCD-2 validity intervals
    (``valid_from`` = its stamp, ``valid_to`` = the key's next stamp
    via one lag window), so the stream-static join condition
    ``event.ts ∈ [valid_from, valid_to)`` matches EXACTLY ONE snapshot
    row per event — a row-local join, refreshable by swapping the
    snapshot. Events before their key's first version (or with no key
    in the snapshot) keep NULL enrichment via the left join."""
    if snapshot.isStreaming:
        raise ValueError("snapshot must be a STATIC frame")
    if value_cols is None:
        value_cols = [c for c in snapshot.columns if c not in (on, by)]
    missing = [c for c in value_cols if c not in snapshot.columns]
    if missing:
        raise ValueError(f"snapshot is missing value_cols {missing}")
    w = Window.partitionBy(by).orderBy(on)
    out_names = {
        c: (c + suffix if c in stream.columns else c) for c in value_cols
    }
    snap = snapshot.select(
        F.col(by).alias("_sby"),
        F.col(on).alias(on + suffix),
        F.lead(on).over(w).alias("_valid_to"),
        *[F.col(c).alias(out_names[c]) for c in value_cols],
    )
    cond = (
        (F.col(by) == F.col("_sby"))
        & (F.col(on) >= F.col(on + suffix))
        & (
            F.col("_valid_to").isNull()
            | (F.col(on) < F.col("_valid_to"))
        )
    )
    return stream.join(F.broadcast(snap), cond, "left").drop(
        "_sby", "_valid_to"
    )


def streaming_sessions(
    stream: DataFrame,
    gap_seconds: float = 1800.0,
    watermark: str = "1 hour",
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Native session-window aggregation per key → (key, session_start,
    session_end, n_events, sum_value): maximal event runs whose
    inter-arrival gaps stay under ``gap_seconds``, computed with
    Spark's built-in ``session_window`` — a MERGING window the engine
    maintains in its own state store (gap-extension, out-of-order
    merge, watermark eviction are all JVM; no Python state, unlike
    the ``applyInPandasWithState`` operators in this module). The
    streaming twin of ``operators.sessionize`` — same gap semantics,
    incremental emission: a session closes (and emits, in append mode)
    when the watermark passes its end + gap.

    Works identically on a batch frame (no watermark needed) — the
    parity test replays it against the batch sessionizer."""
    if gap_seconds <= 0:
        raise ValueError(f"gap_seconds must be > 0, got {gap_seconds}")
    d = stream
    if d.isStreaming:
        d = d.withWatermark(ts_col, watermark)
    win = F.session_window(
        F.col(ts_col), f"{gap_seconds} seconds"
    )
    return d.groupBy(F.col(key_col), win.alias("_w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col)).alias("sum_value"),
    ).select(
        key_col,
        F.col("_w.start").alias("session_start"),
        F.col("_w.end").alias("session_end"),
        "n_events",
        "sum_value",
    )
