"""Physical-plan regression tests — the 100 TB design contract.

BASELINE.md's engine budget: series-wise transforms (fill/lag/diff/roll) must
add ZERO exchanges beyond the initial partition-by-key; layout conversions
exactly one. These tests pin that by counting Exchange/Sort operators in the
executed plan, and verify predicate pushdown + column pruning reach the
parquet scan.
"""

import re

import pytest
from pyspark.sql import functions as F

import spark_timeseries_spark as sts
from spark_timeseries_spark.operators import (
    fill as fill_ops,
    filters,
    lag as lag_ops,
    layout,
    resample as resample_ops,
    rolling,
)
from spark_timeseries_spark.sources import events_observations

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _counts(df):
    p = _plan(df)
    shuffles = len(re.findall(r"Exchange hashpartitioning", p)) + len(
        re.findall(r"Exchange rangepartitioning", p)
    )
    sorts = len(re.findall(r"\bSort \[", p))
    return shuffles, sorts, p


@pytest.fixture(scope="module")
def grid(spark):
    """A conformed grid materialized as a local DataFrame so downstream
    plans contain ONLY the operator under test."""
    import pandas as pd

    rows = []
    start = pd.Timestamp("2024-01-01")
    for k in range(5):
        for i in range(31):
            rows.append(
                (str(k), i, (start + pd.Timedelta(days=i)).to_pydatetime(),
                 float(k * 100 + i) if (k + i) % 7 else None)
            )
    return spark.createDataFrame(
        rows, "key string, loc long, ts timestamp, value double"
    )


def test_series_transforms_pinned_sorts_zero_extra_exchanges(spark, grid):
    """fill→fill→roll stacks its window functions on one key partitioning;
    no exchange between them (cached input is already materialized).
    fill_linear's next-looking windows run on a (key, loc DESC) sort — the
    mirrored form of Spark's O(n²) suffix frame — before its (key, loc)
    windows, so a following roll_* reuses the ascending sort: three sorts
    after fill_previous, two without it."""
    chain = rolling.roll_mean(
        fill_ops.fill_linear(fill_ops.fill_previous(grid)), 7
    )
    shuffles, sorts, p = _counts(chain)
    assert sorts == 3, p
    assert shuffles <= 1, p  # at most the partition-by-key on top of the cache
    assert p.count("Window") >= 5

    shuffles, sorts, p = _counts(rolling.roll_mean(fill_ops.fill_linear(grid), 7))
    assert sorts == 2, p
    assert shuffles <= 1, p


# a frame whose lower edge is bounded and whose upper edge is unbounded:
# Spark recomputes it from every row to the partition end, O(n²) per
# partition. Full-partition frames (unboundedPreceding lower edge) are O(n).
_SUFFIX_FRAME_SRC = re.compile(
    r"rowsBetween\((?!\s*Window\.unboundedPreceding\b)[^,()]+,"
    r"\s*Window\.unboundedFollowing\s*\)"
)
_SUFFIX_FRAME_PLAN = re.compile(
    r"specifiedwindowframe\(\w+, (?!unboundedpreceding\$\(\))[^,()]+"
    r"(?:\(\))?, unboundedfollowing\$\(\)\)"
)


def test_no_suffix_window_frames_in_source():
    import pathlib

    root = pathlib.Path(sts.__file__).parent
    hits = [
        f"{path.relative_to(root)}: {m.group(0)}"
        for path in sorted(root.rglob("*.py"))
        for m in _SUFFIX_FRAME_SRC.finditer(path.read_text())
    ]
    assert not hits, hits
    # the pattern does catch the forms it forbids
    assert _SUFFIX_FRAME_SRC.search("rowsBetween(0, Window.unboundedFollowing)")
    assert _SUFFIX_FRAME_SRC.search(
        "rowsBetween(\n    1, Window.unboundedFollowing\n)"
    )
    assert not _SUFFIX_FRAME_SRC.search(
        "rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)"
    )


def _key_grouped_apply_in_pandas(source: str) -> list[str]:
    """Every ``.applyInPandas(`` call in ``source`` whose groupBy is not
    the single constant group (``F.lit(1)``, or a ``_g`` column set to
    ``F.lit(1)`` right before it). Those sites are one task by
    construction; every key-grouped kernel goes through map_groups."""
    import ast

    hits = []
    for node in ast.walk(ast.parse(source)):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "applyInPandas"
        ):
            continue
        g = node.func.value
        single = False
        if (
            isinstance(g, ast.Call)
            and isinstance(g.func, ast.Attribute)
            and g.func.attr == "groupBy"
            and len(g.args) == 1
        ):
            arg, recv = ast.unparse(g.args[0]), ast.unparse(g.func.value)
            single = arg.startswith("F.lit(1)") or (
                arg == "'_g'" and recv.endswith(".withColumn('_g', F.lit(1))")
            )
        if not single:
            hits.append(f"line {node.lineno}: {ast.unparse(node)[:80]}")
    return hits


def test_no_key_grouped_apply_in_pandas_in_source():
    import pathlib

    root = pathlib.Path(sts.__file__).parent
    hits = [
        f"{path.relative_to(root)} {hit}"
        for path in sorted(root.rglob("*.py"))
        for hit in _key_grouped_apply_in_pandas(path.read_text())
    ]
    assert not hits, hits
    # the scan does catch the forms it forbids, and passes the allowed
    assert _key_grouped_apply_in_pandas(
        "spread_kernel(df, k).groupBy(k).applyInPandas(f, s)"
    )
    assert _key_grouped_apply_in_pandas(
        "df.withColumn('_g', F.col('key')).groupBy('_g').applyInPandas(f, s)"
    )
    assert not _key_grouped_apply_in_pandas(
        "df.withColumn('_g', F.lit(1)).groupBy('_g').applyInPandas(f, s)\n"
        "df.groupBy(F.lit(1).alias('_g')).applyInPandas(f, s)"
    )


def test_fill_and_rank_tests_plan_no_suffix_frames(spark, grid):
    from spark_timeseries_spark.operators.hypothesis import (
        fdr_bh,
        kendall_tau_b,
    )
    from spark_timeseries_spark.operators.survival import concordance_index

    pairs = spark.createDataFrame(
        [(float(i % 5), float(i % 3), i % 2) for i in range(30)],
        "x double, y double, event int",
    )
    outs = {
        "fill_next": fill_ops.fill_next(grid),
        "fill_nearest": fill_ops.fill_nearest(grid),
        "fill_linear": fill_ops.fill_linear(grid),
        "fdr_bh": fdr_bh(grid.select((F.col("loc") / 100.0).alias("p"))),
        "kendall_tau_b": kendall_tau_b(pairs),
        "concordance_index": concordance_index(
            pairs, duration_col="x", event_col="event", risk_col="y"
        ),
    }
    for name, out in outs.items():
        p = _plan(out)
        assert "Window" in p, (name, p)
        assert not _SUFFIX_FRAME_PLAN.search(p), (name, p)
    # the pattern does catch Spark's rendering of a suffix frame
    assert _SUFFIX_FRAME_PLAN.search(
        "specifiedwindowframe(RowFrame, currentrow$(), unboundedfollowing$())"
    )
    assert _SUFFIX_FRAME_PLAN.search(
        "specifiedwindowframe(RowFrame, 1, unboundedfollowing$())"
    )
    assert not _SUFFIX_FRAME_PLAN.search(
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "unboundedfollowing$())"
    )


def test_lag_diff_chain_shares_window_partitioning(spark, grid):
    chain = lag_ops.differences(lag_ops.differences(grid, 1), 1)
    shuffles, sorts, p = _counts(chain)
    assert shuffles <= 1, p
    # chained differences reuse the same sort ordering
    assert sorts == 1, p


def test_lags_fanout_single_exchange(spark, grid):
    out = lag_ops.lags(grid, 3)
    shuffles, sorts, p = _counts(out)
    assert shuffles <= 1, p
    assert sorts == 1, p


def test_slice_pushdown_reaches_parquet_scan(spark):
    obs = events_observations(spark, SF)
    sliced = filters.slice_by_time(
        obs, "2024-01-10", "2024-01-20", rebase_loc=False
    )
    p = _plan(sliced)
    assert "PushedFilters" in p
    # the ts range predicate must be pushed into the scan (on the raw long
    # nanos column after our conversion it stays as a data filter; the
    # user_id/value pruning shows in ReadSchema)
    m = re.search(r"ReadSchema: ([^\n]*)", p)
    assert m and "event_type" not in m.group(1), p  # column pruning works


def test_column_pruning_on_series_stats(spark):
    obs = events_observations(spark, SF)
    stats = layout.series_stats(obs)
    p = _plan(stats)
    m = re.search(r"ReadSchema: ([^\n]*)", p)
    assert m is not None
    assert "props" not in m.group(1) and "event_type" not in m.group(1), p


def test_resample_is_one_shuffle_plus_broadcasts(spark):
    obs = events_observations(spark, SF)
    idx = sts.uniform("2024-01-01", 31, sts.DayFrequency(1))
    out = resample_ops.resample(obs, idx, "avg")
    shuffles, sorts, p = _counts(out)
    # one shuffle for the (key, loc) aggregate + the explicit key
    # clustering that folds each key's cells into its loc→value map; the
    # index side broadcasts
    assert shuffles == 2, p
    assert "BroadcastExchange" in p


def test_rebase_of_resample_grid_scans_source_once(spark):
    """with_index over a parquet-backed resample grid takes its key
    universe from its own aggregate: the source is scanned once and no
    key×instant grid join is shuffled (uniform and irregular index)."""
    from spark_timeseries_spark.operators import align

    obs = events_observations(spark, SF)
    grid = resample_ops.resample(
        obs, sts.uniform("2024-01-01", 31, sts.DayFrequency(1)), "avg"
    )
    for idx in (
        sts.uniform("2024-01-05", 31, sts.DayFrequency(1)),
        sts.irregular(["2024-01-02", "2024-01-09", "2024-01-20"]),
    ):
        p = _plan(align.with_index(grid, idx))
        assert p.count("FileScan") == 1, p
        assert "SortMergeJoin" not in p, p


def test_uniform_bucket_loc_is_pure_arithmetic(spark):
    """No join/explode in the bucket assignment for uniform fixed-step
    targets: the loc must be computed in the scan's project."""
    obs = events_observations(spark, SF)
    idx = sts.uniform("2024-01-01", 31 * 24, sts.HourFrequency(1))
    binned = obs.withColumn(
        "loc", resample_ops.bucket_loc(F.col("ts"), idx)
    )
    p = _plan(binned)
    assert "Exchange" not in p, p
    assert "Generate" not in p  # no explode


def test_filter_by_instant_anti_join_is_aqe_decided(spark, grid):
    """r2 VERDICT #5: the bad-instant set is unbounded (a predicate most
    instants fail yields ~the whole index), so the anti join must NOT pin a
    broadcast hint — AQE converts to broadcast at runtime when the built
    side is actually small."""
    out = filters.remove_instants_with_nans(grid, rebase_loc=False)
    p = _plan(out)
    assert "LeftAnti" in p, p
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # the hint-free plan is adaptive, not a statically pinned broadcast
    assert "AdaptiveSparkPlan" in p, p


def test_union_index_numbering_is_distributed(spark):
    """r2 VERDICT #4 + r3 ADVICE: union_index_df must bucket by a
    deterministic function of ts + rank within buckets (offsets joined
    back), never a global Window.orderBy — a single-partition sort of the
    whole index. Value-derived buckets (not sampled rangepartitioning) so
    the numbering is identical across re-executions with or without
    exchange reuse."""
    from spark_timeseries_spark.operators.align import union_index_df

    a = spark.range(0, 500).select(
        F.timestamp_micros(F.col("id") * 86_400_000_000).alias("ts")
    )
    b = spark.range(250, 800).select(
        F.timestamp_micros(F.col("id") * 86_400_000_000).alias("ts")
    )
    out = union_index_df(a, b)
    p = _plan(out)
    # no sampled range shuffle anywhere in the numbering
    assert "Exchange rangepartitioning" not in p, p
    # the full-index window ranks by deterministic _b slices, not one
    # global partition
    assert "hashpartitioning(_b" in p, p
    # correctness of the numbering: contiguous 0..n-1 in ts order
    rows = out.orderBy("loc").collect()
    assert [r.loc for r in rows] == list(range(800))
    assert all(
        rows[i].ts < rows[i + 1].ts for i in range(len(rows) - 1)
    )


def test_union_index_numbering_survives_reuse_disabled(spark):
    """The numbering must be correct with exchange reuse OFF — the exact
    configuration that broke the old rangepartitioning scheme (both
    consumers now derive buckets from the value, so re-executions agree)."""
    from spark_timeseries_spark.operators.align import union_index_df

    old = spark.conf.get("spark.sql.exchange.reuse.enabled", "true")
    spark.conf.set("spark.sql.exchange.reuse.enabled", "false")
    try:
        a = spark.range(0, 300).select(
            F.timestamp_micros(F.col("id") * 3_600_000_000).alias("ts")
        )
        b = spark.range(150, 400).select(
            F.timestamp_micros(F.col("id") * 3_600_000_000).alias("ts")
        )
        rows = union_index_df(a, b).orderBy("loc").collect()
        assert [r.loc for r in rows] == list(range(400))
        assert all(
            rows[i].ts < rows[i + 1].ts for i in range(len(rows) - 1)
        )
    finally:
        spark.conf.set("spark.sql.exchange.reuse.enabled", old)


def test_irregular_index_attach_is_broadcast_join(spark):
    """attach_loc onto an irregular index must broadcast the (tiny,
    driver-resident) index DataFrame, never sort-merge the fact side."""
    from spark_timeseries_spark.operators import align

    obs = events_observations(spark, SF)
    idx = sts.irregular(
        ["2024-01-%02d" % d for d in (2, 5, 9, 14, 20, 27)]
    )
    out = align.attach_loc(obs, idx)
    p = _plan(out)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_instant_filters_trigger_no_job_on_construction(spark, grid, monkeypatch):
    """VERDICT r1 #3: filter_by_instant / remove_instants_with_nans must not
    run a Spark job (driver collect of surviving instants) just to build the
    returned wrapper — the index materializes lazily on first use."""
    cls = type(grid)  # the concrete (classic) DataFrame class, not the ABC
    calls = {"n": 0}
    orig = cls.collect

    def counting_collect(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(cls, "collect", counting_collect)

    t = sts.TimeSeriesDataFrame(grid, sts.uniform("2024-01-01", 31, sts.DayFrequency(1)))
    out = t.remove_instants_with_nans()
    out2 = out.filter_by_instant(F.col("value") > 50.0)
    assert calls["n"] == 0, "index construction ran a Spark collect"
    assert not out2.index.materialized
    # first real use materializes exactly once and agrees with the data
    n_instants = out2.index.size
    assert calls["n"] == 1
    distinct_ts = out2.df.select("ts").distinct().count()
    assert n_instants == distinct_ts
    assert out2.index.materialized


def test_model_fit_single_exchange(spark, grid):
    """Grouped-map model stages add exactly ONE exchange: map_groups'
    REPARTITION_BY_NUM into defaultParallelism partitions (one wave, which
    AQE never coalesces) feeding MapInPandas — one Python call per
    partition, no per-series FlatMapGroupsInPandas framing. The input is a
    window chain, already hash-partitioned by key at shuffle.partitions ==
    cores: a plain repartition(n, key) would be pruned there, leaving the
    kernel on the window's coalescible ENSURE_REQUIREMENTS exchange."""
    from spark_timeseries_spark.models import fit_models

    n = spark.sparkContext.defaultParallelism
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
    src = rolling.roll_mean(grid.where(F.col("value").isNotNull()), 3)
    p = _plan(fit_models(src, "ewma"))
    exchanges = re.findall(r"Exchange hashpartitioning\(([^()]*)\), (\w+)", p)
    assert [origin for _, origin in exchanges] == [
        "REPARTITION_BY_NUM", "ENSURE_REQUIREMENTS",
    ], p
    assert exchanges[0][0].endswith(f", {n}"), p
    assert "MapInPandas" in p and "FlatMapGroupsInPandas" not in p, p


def test_ts_chain_runs_key_clustered_in_the_jvm(spark):
    """observations → align → fill_linear → roll_mean(24) → AR(2)
    forecast plans no Python stage, and its only shuffles are the (key,
    loc) partial aggregate's exchange and ONE explicit key clustering at
    shuffle.partitions, which adaptive execution cannot coalesce: the
    grid, the fill and rolling windows, the AR lag window and its
    per-key moment aggregate then run that many tasks wide."""
    from spark_timeseries_spark.models import forecast
    from spark_timeseries_spark.operators import align

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    idx = sts.uniform("2024-01-01", 31, sts.DayFrequency(1))
    grid = align.from_observations(events_observations(spark, SF), idx)
    fc = forecast(
        rolling.roll_mean(fill_ops.fill_linear(grid), 24), "ar", 5, max_lag=2
    )
    p = _plan(fc)  # the plan as planned, before adaptive execution runs it
    sc = spark.sparkContext
    sc.setJobGroup("ts_chain_plan", "ts_chain_plan")
    try:
        assert fc.collect()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p, p
    exchanges = re.findall(r"Exchange (\w+)\(([^()]*)\), (\w+)", p)
    assert sorted((kind, origin) for kind, _, origin in exchanges) == [
        ("hashpartitioning", "ENSURE_REQUIREMENTS"),
        ("hashpartitioning", "REPARTITION_BY_NUM"),
    ], p
    by_num = [cols for _, cols, origin in exchanges if origin == "REPARTITION_BY_NUM"]
    assert re.fullmatch(rf"key#\d+, {n}", by_num[0]), p
    tracker = sc.statusTracker()
    stages = [
        tracker.getStageInfo(s)
        for j in tracker.getJobIdsForGroup("ts_chain_plan")
        for s in tracker.getJobInfo(j).stageIds
    ]
    # the last stage runs the windows and the per-key aggregate
    last = max((s for s in stages if s is not None), key=lambda s: s.stageId)
    assert last.numTasks == n, [(s.stageId, s.numTasks) for s in stages if s]


def test_sessionize_single_exchange(spark, grid):
    """sessionize stacks lag + running-sum on ONE (key, ts) sort — the same
    single-exchange budget as the series transforms."""
    from spark_timeseries_spark.operators.sessionize import sessionize

    out = sessionize(grid, 86400.0)
    shuffles, sorts, p = _counts(out)
    assert shuffles <= 1, p
    assert sorts == 1, p


def test_bucketed_observations_skip_exchange(spark, grid, tmp_path):
    """The 100 TB repeated-workload path: a table bucketed by key reports
    HashPartitioning(key) from the scan, so per-key aggregates plan with
    ZERO exchanges — the one shuffle series ops normally pay moves into
    the storage layout."""
    from spark_timeseries_spark.sources import (
        load_observations_bucketed,
        save_observations_bucketed,
    )

    # warehouse.dir is a static conf — the managed test table lands in the
    # session default (./spark-warehouse, gitignored) and is dropped below
    save_observations_bucketed(grid, "obs_bucketed_test", n_buckets=4)
    try:
        obs = load_observations_bucketed(spark, "obs_bucketed_test")
        agg = obs.groupBy("key").agg(
            F.avg("value").alias("mean"), F.count("*").alias("n")
        )
        shuffles, _, p = _counts(agg)
        assert shuffles == 0, p
        # and the numbers are right
        got = {r.key: r.n for r in agg.collect()}
        assert got == {str(k): 31 for k in range(5)}
    finally:
        spark.sql("DROP TABLE IF EXISTS obs_bucketed_test")


def test_chunk_documents_is_shuffle_free(spark):
    """Chunking is a map-side transform: tokenize + explode chunk starts +
    array slices, ZERO exchanges — at 100 TB it runs entirely inside the
    scan stage."""
    from spark_timeseries_spark.pipeline.packing import chunk_documents
    from spark_timeseries_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    out = chunk_documents(docs, chunk_tokens=32, overlap=8)
    shuffles, _, p = _counts(out)
    assert shuffles == 0, p
    assert "Generate explode" in p, p  # the chunk-start explode, codegen'd


def test_remove_boilerplate_shuffles_hashes_not_text(spark):
    """The global line-frequency count must shuffle the 64-bit line hash,
    never the line text: the aggregate's grouping key is the xxhash64
    column, so shuffle width is fixed regardless of line length."""
    from spark_timeseries_spark.pipeline.text import remove_boilerplate_lines
    from spark_timeseries_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    out = remove_boilerplate_lines(docs, min_docs=3)
    p = _plan(out)
    assert "xxhash64" in p, p
    # frequency-count aggregate groups on the hash column _h
    assert re.search(r"Exchange hashpartitioning\(_h", p), p


def test_vocab_topk_no_global_sort(spark):
    """build_vocab's global ranking must NOT plan a rangepartitioning
    (global sort) over the token counts: the top-k is TakeOrderedAndProject
    (per-partition top-k, k rows to the driver) and the row_number window
    runs on the already-limited ≤max_size frame."""
    from spark_timeseries_spark.pipeline.vocab import build_vocab

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} common") for i in range(50)],
        "doc_id long, text string",
    )
    v = build_vocab(docs, max_size=5, min_count=1)
    p = _plan(v)
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_oov_rate_vocab_join_is_broadcast(spark):
    """The vocabulary membership join must stay a broadcast: a shuffled
    join keyed on token would repartition the whole token stream by a
    skewed key (stopwords) at corpus scale."""
    from spark_timeseries_spark.pipeline.vocab import oov_rate

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(20)],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame([("alpha",), ("beta",)], "token string")
    p = _plan(oov_rate(docs, vocab))
    assert "BroadcastHashJoin" in p
    assert not re.search(r"SortMergeJoin.*token", p)


def test_linear_score_weight_join_is_broadcast(spark):
    """The weight-table join of the linear classifier is broadcast — the
    lexicon/model is vocab-bounded by construction."""
    from spark_timeseries_spark.pipeline.classifier import linear_score

    docs = spark.createDataFrame(
        [(i, "good bad neutral words") for i in range(20)],
        "doc_id long, text string",
    )
    p = _plan(linear_score(docs, {"good": 1.0, "bad": -1.0}))
    assert "BroadcastHashJoin" in p


def test_minhash_cross_band_join_broadcasts_the_increment(spark):
    """Incremental near-dup must probe the EXISTING corpus's banded
    table in place: the fresh batch's banded rows broadcast, so the big
    side never exchanges on (band, bh) — the shape that makes ingest
    increments O(increment), not O(corpus)."""
    from spark_timeseries_spark.pipeline.dedup import (
        minhash_signatures,
        minhash_cross_candidates,
    )

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog %d" % (i % 3))
         for i in range(12)],
        "doc_id long, text string",
    )
    new = minhash_signatures(docs.where("doc_id < 3"), num_hashes=8)
    old = minhash_signatures(docs.where("doc_id >= 3"), num_hashes=8)
    # broadcast_new=True is the INGEST contract (dedup_minhash_cross passes
    # it); the bare entry point defaults to None = let Catalyst/AQE decide,
    # so a bulk backfill can't force-broadcast an unbounded banded table
    p = _plan(minhash_cross_candidates(new, old, bands=4, rows_per_band=2,
                                       num_hashes=8, broadcast_new=True))
    assert "BroadcastHashJoin" in p, p
    # the existing side must not hash-exchange on the band key
    assert not re.search(r"Exchange hashpartitioning\(band", p), p


def test_remove_dup_spans_no_position_explode(spark):
    """The span algebra must stay interval-based: exactly two Generates —
    the n-gram start explode, computed once for the dup-hash aggregate
    and once for the occurrence join (the inherent two-pass of a
    self-referencing dedup, same as dup_spans) — and NEVER an explode
    over covered positions or a third recomputation (the gap/tail/flag
    stages must all hang off ONE consumer of the merged intervals)."""
    from spark_timeseries_spark.pipeline.dedup import remove_dup_spans

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(30))) for i in range(6)],
        "doc_id long, text string",
    )
    p = _plan(remove_dup_spans(docs, n=4))
    assert len(re.findall(r"\bGenerate explode", p)) == 2
    assert "posexplode" not in p


def test_featurize_single_shuffle(spark):
    """Bag-of-words featurization must be ONE (id, token) exchange: the
    doc-length normalizer rides the explode as an array size, never a
    second doc-keyed window exchange over the token stream."""
    from spark_timeseries_spark.pipeline.classifier import featurize

    docs = spark.createDataFrame(
        [(i, "alpha beta beta gamma") for i in range(10)],
        "doc_id long, text string",
    )
    shuffles, _, p = _counts(featurize(docs))
    assert shuffles == 1, p
    assert "Window" not in p


def test_zipf_slope_no_global_sort(spark):
    """The per-stratum ranking is a window PARTITIONED by the group —
    a hash exchange over the distinct-token counts table, never a
    rangepartitioning (global sort); the regression is a plain closed-form
    aggregate."""
    from spark_timeseries_spark.pipeline.vocab import zipf_slope

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", "alpha beta gamma delta " * 3) for i in range(30)],
        "doc_id long, source string, text string",
    )
    out = zipf_slope(docs, top_r=10)
    p = _plan(out)
    assert "Exchange rangepartitioning" not in p, p
    assert re.search(r"Exchange hashpartitioning\(source", p), p


def test_incremental_dedup_ships_digests_not_text(spark):
    """The existing-corpus side of the anti-join must project ONLY the
    digest column before its exchange — at 100 TB the old corpus's text
    never moves; and the join is LeftAnti."""
    from spark_timeseries_spark.pipeline.dedup import dedup_exact_incremental

    old = spark.createDataFrame(
        [(i, f"old doc {i}") for i in range(20)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(100 + i, f"new doc {i}") for i in range(20)],
        "doc_id long, text string",
    )
    out = dedup_exact_incremental(new, old)
    p = _plan(out)
    assert "LeftAnti" in p, p
    # the old side's exchange carries the digest only: no text column in
    # any anti-join-feeding exchange's output schema
    for m in re.finditer(r"Exchange hashpartitioning\(_dig[^\n]*", p):
        assert "text" not in m.group(0), m.group(0)


def test_embedding_moments_arrow_batched_no_python_rdd(spark):
    """The covariance/PCA moment pass must be Arrow-batched
    (MapInPandas), never a per-row Python RDD round-trip (the
    ``Scan ExistingRDD`` signature of ``df.rdd.map``) — at 100 TB of
    embeddings a per-row pickle pass costs more than the Gramian
    itself. The partial reduce is one map-side-combined hash
    aggregation, no global sort."""
    from spark_timeseries_spark.pipeline.embeddings import _moment_partials

    df = spark.createDataFrame(
        [(i, [float(i), float(i) + 1.0, 2.0]) for i in range(16)],
        "vec_id long, embedding array<double>",
    )
    reduced = (
        _moment_partials(df, "embedding")
        .select(F.posexplode("m").alias("k", "val"))
        .groupBy("k")
        .agg(F.sum("val").alias("val"))
    )
    p = _plan(reduced)
    assert "MapInPandas" in p, p
    assert "ExistingRDD" not in p.replace("Scan ExistingRDD[vec_id", ""), p
    assert "Exchange rangepartitioning" not in p, p


def test_hampel_single_exchange_no_python(spark):
    """Hampel's rolling median/MAD must ride ONE window exchange — the
    medians are row-local sorted-array expressions, never a self-join,
    second shuffle, or Python stage."""
    from spark_timeseries_spark.operators.outliers import hampel

    df = spark.createDataFrame(
        [("k", i, float(i)) for i in range(10)],
        "key string, loc long, value double",
    )
    s, _, p = _counts(hampel(df))
    assert s == 1, p
    assert "Exchange rangepartitioning" not in p, p
    assert "Python" not in p and "MapInPandas" not in p, p


def test_periodogram_mapside_combine_no_sort(spark):
    """The periodogram's O(n²/2)-per-series frequency explode must
    collapse in a map-side partial aggregate BEFORE its (key, k)
    exchange — the shuffle carries one row per (series, frequency), not
    per (point, frequency) — with no global sort and no Python."""
    from spark_timeseries_spark.operators.spectral import periodogram

    df = spark.createDataFrame(
        [("k", i, float(i)) for i in range(10)],
        "key string, loc long, value double",
    )
    _, _, p = _counts(periodogram(df))
    assert "Exchange rangepartitioning" not in p, p
    assert "Python" not in p, p
    # partial_sum of the COS projection proves map-side combine of the
    # exploded frequency rows before their exchange
    assert re.search(r"partial_sum.*COS", p), p


def test_partitioned_slice_prunes_partitions(spark, tmp_path):
    """Time-partitioned layout: slice_partitioned's scan carries a
    PartitionFilters entry on pdate AND a pushed ts filter, and the data
    read equals the unpartitioned slice — directory-level pruning at
    planning time, the 100 TB time-slice story."""
    from spark_timeseries_spark.sources import (
        events_observations,
        load_observations_partitioned,
        save_observations_partitioned,
        slice_partitioned,
    )

    obs = events_observations(spark, SF).select("key", "ts", "value")
    path = str(tmp_path / "obs_part")
    save_observations_partitioned(obs, path, granularity="day")

    sliced = slice_partitioned(spark, path, "2024-01-10", "2024-01-12")
    p = _plan(sliced)
    assert re.search(r"PartitionFilters: \[.*pdate", p), p
    assert re.search(r"PushedFilters: \[.*ts", p), p

    want = (
        obs.where((F.col("ts") >= "2024-01-10")
                  & (F.col("ts") <= F.lit("2024-01-12").cast("timestamp")))
        .orderBy("key", "ts").collect()
    )
    got = sliced.select("key", "ts", "value").orderBy("key", "ts").collect()
    assert got == want and len(got) > 0

    # full load round-trips (pdate dropped, all rows back)
    full = load_observations_partitioned(spark, path)
    assert full.count() == obs.count()
    assert set(full.columns) == {"key", "ts", "value"}

    # month granularity also prunes
    path2 = str(tmp_path / "obs_part_m")
    save_observations_partitioned(obs, path2, granularity="month")
    p2 = _plan(slice_partitioned(spark, path2, "2024-01-10", "2024-01-12"))
    assert re.search(r"PartitionFilters: \[.*pdate", p2), p2

    with pytest.raises(ValueError):
        save_observations_partitioned(obs, path, granularity="hour")


def test_forecast_accuracy_single_exchange(spark, grid):
    """forecast_accuracy is one lag window + one per-key aggregate — a
    single hash exchange on key, no Python."""
    from spark_timeseries_spark.stats import forecast_accuracy

    fc = grid.withColumn("forecast", F.col("value") * 1.1)
    out = forecast_accuracy(fc, "value", "forecast")
    shuffles, sorts, p = _counts(out)
    assert shuffles <= 1, p
    assert "InPandas" not in p and "PythonUDF" not in p, p


def test_ts_features_no_python_bounded_exchanges(spark, grid):
    """ts_features stays JVM-side: the whole-series window, the stats
    aggregate, and the two tile aggregates plan with at most the key
    exchange plus the (key, tile) exchange — and zero Python stages."""
    from spark_timeseries_spark.operators.features import ts_features

    out = ts_features(grid, tile=10)
    shuffles, sorts, p = _counts(out)
    assert "InPandas" not in p and "PythonUDF" not in p, p
    assert shuffles <= 3, p


def test_corr_matrix_join_no_postjoin_exchange(spark, grid):
    """r14 optimization pin for the default join kernel: the location
    equi-join must BROADCAST the right K×T series table and the
    (key_a, key_b) moment
    aggregate must reuse the stream side's explicit key_a partitioning —
    NO exchange between the join and the aggregate, so the exploded
    O(T·K²) joined rows are never shuffled. The only hash exchanges
    allowed are inside the grid build + the one cores-scaled spread of
    the stream side."""
    out = rolling.corr_matrix(grid, 3)
    p = _plan(out)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    # the aggregate must sit directly on the join output: no
    # "Exchange hashpartitioning(key_a..., key_b...)" anywhere
    assert not re.search(r"Exchange hashpartitioning\(key_a[^)]*key_b", p), p


def test_est_bytes_scaled_unknown_estimate_is_unknown(spark):
    """A Project over an RDD source scales the Long.MaxValue "unknown"
    size by its column-width ratio, landing below 2^62; _est_bytes must
    still read it as unknown (0, keep the broadcast), not as a real
    size past the corr_matrix broadcast budget."""
    from spark_timeseries_spark.operators.rolling import _est_bytes

    rdd = spark.sparkContext.parallelize(
        [(i, f"k{i % 5}", float(i), i * 0.5, "x", "y", "z")
         for i in range(100)]
    )
    df = spark.createDataFrame(
        rdd,
        "a long, key string, loc double, value double, "
        "s1 string, s2 string, s3 string",
    ).select("key", "loc", "value")
    est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    assert 1 << 50 <= est < 1 << 62, est
    assert _est_bytes(df) == 0


def test_corr_matrix_join_broadcast_guard_fallback(spark, grid, tmp_path):
    """r15 size guard: past the broadcast budget the join kernel must
    degrade to a shuffle join (no broadcast hint driving toward the 8 GiB
    hard cap), and the values must be IDENTICAL to the broadcast regime.
    The guard reads the optimizer's size estimate, so the input must be a
    file source (a LocalRelation reports the unknown-size sentinel, which
    deliberately keeps the broadcast)."""
    from spark_timeseries_spark.operators.rolling import _CORR_BCAST_CONF

    import math

    path = str(tmp_path / "grid.parquet")
    grid.write.parquet(path)
    fgrid = spark.read.parquet(path)
    fast = {
        (r.key_a, r.key_b): (r.n_overlap, r.corr)
        for r in rolling.corr_matrix(fgrid, 3).collect()
    }
    spark.conf.set(_CORR_BCAST_CONF, "1")
    # a table past the guard is also past the planner's own 10 MB
    # auto-broadcast threshold; emulate that for the KB-sized fixture
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = rolling.corr_matrix(fgrid, 3)
        p = _plan(out)
        assert "BroadcastHashJoin" not in p, p
        slow = {
            (r.key_a, r.key_b): (r.n_overlap, r.corr) for r in out.collect()
        }
    finally:
        spark.conf.unset(_CORR_BCAST_CONF)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert slow.keys() == fast.keys()
    for k, (n, c) in fast.items():
        n2, c2 = slow[k]
        assert n2 == n
        # the two regimes aggregate in different partial orders — equal
        # to float tolerance, not necessarily bit-for-bit
        assert (c is None and c2 is None) or math.isclose(
            c, c2, rel_tol=1e-9, abs_tol=1e-12
        )


def test_ema_chain_auto_plans_without_union_blowup(spark, grid):
    """r15: the EMA family's ``auto`` routing must make ONE per-chain
    split, not one per pass — before, each chained _ema_col planned a
    closed+kernel Union over its whole input, doubling the subplan per
    pass (adx's 4 chained EMAs planned a 16×-duplicated tree with 60
    grouped-map kernel nodes and ~5 s of driver analysis time).
    Pin: one Union, and exactly as many kernel nodes as EMA passes."""
    from spark_timeseries_spark.operators.indicators import adx, macd

    bars = grid.select(
        "key", F.col("ts").alias("bar_ts"),
        (F.coalesce("value", F.lit(1.0)) + 1.0).alias("high"),
        F.coalesce("value", F.lit(1.0)).alias("low"),
        (F.coalesce("value", F.lit(1.0)) + 0.5).alias("close"),
    )
    p = _plan(adx(bars, 14, method="auto"))
    assert p.count("Union") <= 1, p
    assert p.count("MapInPandas") <= 4, p
    p = _plan(macd(grid, method="auto"))
    assert p.count("Union") <= 1, p
    assert p.count("MapInPandas") <= 3, p


def test_threshold_runs_single_exchange_no_python(spark, grid):
    """Gaps-and-islands rides the one (key, loc) sort: both row_numbers
    and the island aggregate hash-partition by key, so the plan carries
    a single key exchange (plus the island groupBy's re-use) and stays
    JVM-side."""
    from spark_timeseries_spark.operators.features import threshold_runs

    out = threshold_runs(grid, 50.0, min_length=2)
    shuffles, sorts, p = _counts(out)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # one exchange for the key windows; the (key, _grp) groupBy may add
    # one more hash exchange — anything beyond that is a regression
    assert shuffles <= 2
    assert sorts <= 2  # the two row_number sorts collapse into one spec


def test_sax_two_bounded_exchanges_no_python(spark, grid):
    """SAX = key window (one exchange) + (key, seg) groupBy + final key
    groupBy; all JVM expressions. Pin the exchange budget so a future
    edit can't silently add a corpus-wide sort or a Python eval."""
    from spark_timeseries_spark.operators.sax import sax

    out = sax(grid, w=4, a=4)
    shuffles, _, p = _counts(out)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert shuffles <= 3
    assert "Exchange rangepartitioning" not in p  # no global sort


def test_scale_stats_join_is_broadcast(spark, grid):
    """scale() must broadcast the K-row stats table back onto the
    observations — the big side is never re-shuffled (a shuffled join
    here would re-partition the whole corpus to normalize it)."""
    from spark_timeseries_spark.operators.scale import scale

    for method in ("zscore", "robust", "minmax"):
        p = _plan(scale(grid, method))
        assert "BroadcastHashJoin" in p, method
        assert "SortMergeJoin" not in p, method


def test_asof_join_is_union_window_no_join(spark, grid):
    """asof_join's scale contract: NO join operator at all — tag+union
    then one key-partitioned window. A range/broadcast join appearing
    here means the formulation regressed to the exploding shape."""
    from spark_timeseries_spark.operators.asof import asof_join

    right = grid.select("key", "loc", (F.col("value") * 2).alias("v2"))
    out = asof_join(grid, right, on="loc", by="key")
    shuffles, _, p = _counts(out)
    assert "Join" not in p  # no SortMerge/BroadcastHash/NestedLoop at all
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert shuffles <= 2  # union sides co-partitioned by key


def test_window_join_is_equi_bucket_no_nested_loop(spark, grid):
    """window_join's scale contract: the range predicate must run as a
    post-filter on an EQUI hash join over (key, bucket) — never as a
    nested-loop range join."""
    from spark_timeseries_spark.operators.asof import window_join

    obs = grid.select("key", "loc", "value")
    out = window_join(obs, obs, -3.0, 3.0)
    p = _plan(out)
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or (
        "ShuffledHashJoin" in p
    )
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pettitt_no_join(spark, grid):
    """pettitt's r8 scale contract: the midrank identity replaces the
    pairwise self-join — the physical plan must contain NO join operator
    of any kind (the r7 form shuffled ~n²/2 pair rows per series)."""
    from spark_timeseries_spark.operators.changepoint import pettitt

    out = pettitt(grid)
    shuffles, _, p = _counts(out)
    assert "Join" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert shuffles <= 3, p  # value-rank, tie-count, time windows share key


def test_mann_kendall_kernel_no_pair_join(spark, grid):
    """Forced-kernel Mann-Kendall must plan the S stage as a grouped-map
    (MapInPandas via map_groups) with no pairwise self-join on the S path;
    var/ties stay JVM aggregates."""
    from spark_timeseries_spark.operators.cusum import mann_kendall

    out = mann_kendall(grid, s_method="kernel")
    p = _plan(out)
    assert "MapInPandas" in p, p
    # the only joins permitted are the K-row assembly joins of n/s/tie
    # frames — no join may sit BELOW the grouped-map (pair explosion)
    below = p.split("MapInPandas")[-1]
    assert "Join" not in below, below


def test_bollinger_single_window_no_python(spark, grid):
    """Bollinger is ONE window pass over the (key, loc) sort — one
    exchange, no Python, no join."""
    from spark_timeseries_spark.operators.indicators import bollinger

    out = bollinger(grid, 7)
    shuffles, _, p = _counts(out)
    assert "Join" not in p and "InPandas" not in p and "PythonUDF" not in p, p
    assert shuffles <= 1, p


def test_page_hinkley_windows_only(spark, grid):
    """Page-Hinkley is stacked window frames on one sort — no join, no
    Python, one exchange."""
    from spark_timeseries_spark.operators.cusum import page_hinkley

    out = page_hinkley(grid)
    shuffles, _, p = _counts(out)
    assert "Join" not in p and "InPandas" not in p and "PythonUDF" not in p, p
    assert shuffles <= 1, p


def test_ema_closed_form_no_python(spark, grid):
    """The closed-form EMA (and MACD's three chained EMAs) stay fully
    JVM — no grouped-map below the auto threshold at this length."""
    from spark_timeseries_spark.operators.indicators import ema, macd

    p = _plan(ema(grid, 0.3, method="closed"))
    assert "InPandas" not in p and "PythonUDF" not in p, p
    p2 = _plan(macd(grid, method="closed"))
    assert "InPandas" not in p2 and "PythonUDF" not in p2, p2


def test_srp_lsh_row_local(spark):
    """SRP bucket assignment is row-local column arithmetic — zero
    exchanges, zero Python before the caller's groupBy."""
    from spark_timeseries_spark.pipeline.embeddings import srp_lsh
    from spark_timeseries_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    out = srp_lsh(emb, planes=8)
    shuffles, _, p = _counts(out)
    assert shuffles == 0, p
    assert "InPandas" not in p and "PythonUDF" not in p and "Join" not in p, p


def test_sample_entropy_kernel_no_pair_join(spark, grid):
    """Forced-kernel SampEn plans the pair stage as a grouped-map with
    no join below it (the quadratic stays in-core)."""
    from spark_timeseries_spark.operators.features import sample_entropy

    p = _plan(sample_entropy(grid, method="kernel"))
    assert "MapInPandas" in p, p
    below = p.split("MapInPandas")[-1]
    assert "Join" not in below, below


def test_intervention_analysis_single_aggregate(spark, grid):
    """ITS segmented regression is ONE map-side-combinable groupBy —
    no windows, no joins, exactly one exchange."""
    from spark_timeseries_spark.operators.changepoint import (
        intervention_analysis,
    )

    shuffles, sorts, p = _counts(intervention_analysis(grid, 10))
    assert shuffles == 1, p
    assert "Window" not in p and "Join" not in p, p
    assert "partial" in p.lower() or "HashAggregate" in p, p


def test_realized_vol_one_exchange(spark):
    """The intra-bucket lag window partitions on the same (key, bucket)
    key the aggregate groups by — one exchange total, no join."""
    from spark_timeseries_spark.operators.volatility import realized_vol
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    shuffles, sorts, p = _counts(realized_vol(obs))
    assert shuffles == 1, p
    assert "Join" not in p, p


def test_dsir_ratio_broadcasts(spark):
    """The per-bucket log-ratio table broadcasts into the corpus-side
    join (vocabulary-scale vs corpus-scale); no sort-merge join against
    the exploded n-grams."""
    from spark_timeseries_spark.pipeline.sampling import dsir_weights
    from spark_timeseries_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    tgt = docs.where(F.col("doc_id") % 2 == 0)
    out = dsir_weights(docs, tgt, buckets=256)
    p = _plan(out)
    assert "BroadcastHashJoin" in p, p
    assert "PythonUDF" not in p and "InPandas" not in p, p


def test_retention_no_entity_broadcast(spark):
    """retention_cohorts derives the per-entity first-activity bucket
    with a key-partitioned window-min, never a join: the entity table
    is unbounded at scale, so a (forced) broadcast of it is an OOM —
    the plan must contain NO join of any kind and no broadcast
    exchange (inverse of test_dsir_ratio_broadcasts: there the
    broadcast side is vocabulary-bounded and wanted)."""
    from spark_timeseries_spark.operators.funnel import retention_cohorts
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    p = _plan(retention_cohorts(obs.select("key", "ts"), "week"))
    assert "Join" not in p, p
    assert "BroadcastExchange" not in p, p


def test_ema_max_len_hint_skips_routing(spark, grid):
    """auto + a max_len hint inside the closed-form envelope plans the
    closed form directly: no grouped-map branch, no union, and one
    fewer window pass than unhinted auto."""
    from spark_timeseries_spark.operators.indicators import ema

    hinted = _plan(ema(grid, 0.3, max_len=31))
    assert "InPandas" not in hinted and "Union" not in hinted, hinted
    unhinted = _plan(ema(grid, 0.3))
    assert "Union" in unhinted  # routing keeps both branches
    assert hinted.count("Window") < unhinted.count("Window")


def test_twa_one_exchange(spark):
    """twa's lead window partitions on the same (key, bucket) the
    aggregate groups by — one exchange, no join, no Python."""
    from spark_timeseries_spark.operators.resample import twa
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    shuffles, sorts, p = _counts(twa(obs, "day"))
    assert shuffles == 1, p
    assert "Join" not in p and "InPandas" not in p, p


def test_lomb_scargle_plan(spark):
    """Lomb-Scargle is one explode + ONE map-side-combinable groupBy:
    a single exchange, no window, no Python, partial aggregation
    present."""
    from spark_timeseries_spark.operators.spectral import lomb_scargle
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF).select(
        "key", (F.unix_micros("ts") / 86400e6).alias("t"), "value"
    )
    shuffles, sorts, p = _counts(lomb_scargle(obs, [0.1, 0.2, 0.3]))
    assert shuffles == 1, p
    assert "Window" not in p and "InPandas" not in p and "Join" not in p, p
    assert "partial" in p.lower() or "HashAggregate" in p, p


def test_priority_sample_one_exchange(spark):
    """priority_sample is one stratum-partitioned window + a rank
    filter — a single exchange keyed on the stratum, no join."""
    from spark_timeseries_spark.pipeline.sampling import priority_sample
    from spark_timeseries_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    shuffles, sorts, p = _counts(
        priority_sample(docs, 5, stratum_col="source", id_col="doc_id")
    )
    assert shuffles == 1, p
    assert "Join" not in p, p


def test_stylometric_topk_broadcasts(spark):
    """The k-row top-word list broadcasts into the densifying cross
    join (vocabulary-scale vs corpus-scale — the dsir precedent); the
    z/pair stages stay join-shaped on the BOUNDED group axis."""
    from spark_timeseries_spark.pipeline.text import stylometric_delta
    from spark_timeseries_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    p = _plan(stylometric_delta(docs, k=10))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "InPandas" not in p, p


def test_attribution_no_self_join(spark):
    """attribution resolves first/last touch with ONE range-frame
    window over the (key, epoch) sort — never a conversions x touches
    self-join (at scale that join is |conv| x |touches| per key) and
    no Python."""
    from spark_timeseries_spark.operators.funnel import attribution
    from spark_timeseries_spark.sources import load_table

    ev = load_table(spark, SF, "events").select(
        F.col("user_id").cast("string").alias("key"), "ts", "event_type"
    )
    p = _plan(attribution(ev, "purchase", ["view", "click"]))
    assert "Join" not in p, p
    assert "PythonUDF" not in p and "InPandas" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_stickiness_no_rolling_distinct_join(spark):
    """stickiness computes the trailing-window MAU by EXPLODING the
    distinct (entity, day) table into its contribution days — one
    Generate — never a day-range self-join of the activity table (the
    O(days x activity) shape), and never any Python."""
    from spark_timeseries_spark.operators.resample import stickiness
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    p = _plan(stickiness(obs, window_days=7))
    assert "Generate explode" in p, p
    # the only join is dau x mau on the 31-row day table
    assert p.count("Join") <= 1, p
    assert "PythonUDF" not in p and "InPandas" not in p, p


def test_kendall_auto_reuses_cached_overlap(spark, grid):
    """kendall's auto routing persists the bounded two-series overlap:
    the count window and both branches read the InMemoryRelation
    instead of re-running the series scan/join three times; forcing a
    single method plans no cache and no union."""
    from spark_timeseries_spark.operators.rankcorr import kendall_tau

    auto = _plan(kendall_tau(grid, "1", "2"))
    assert "InMemoryTableScan" in auto, auto
    assert "Union" in auto, auto
    forced = _plan(kendall_tau(grid, "1", "2", method="join"))
    assert "InMemoryTableScan" not in forced, forced
    spark.catalog.clearCache()


def test_bucket_cardinality_sketch_one_exchange(spark):
    """exact=True plans COUNT DISTINCT as the two-level aggregate with
    a SECOND shuffle keyed on (bucket, entity); exact=False plans the
    mergeable HLL sketch: ONE exchange, map-side partial sketches —
    the 100 TB path."""
    from spark_timeseries_spark.operators.resample import bucket_cardinality
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    exact = _plan(bucket_cardinality(obs, "day", exact=True))
    sketch = _plan(bucket_cardinality(obs, "day", exact=False))
    assert exact.count("Exchange hashpartitioning") == 2, exact
    assert sketch.count("Exchange hashpartitioning") == 1, sketch
    assert "approx_count_distinct" in sketch, sketch


def test_spc_rules_one_exchange_no_join(spark):
    """spc_rules' phase-I stats window and the three counting frames
    all share the key partition — one hash exchange, no join, no
    Python anywhere in the plan."""
    from spark_timeseries_spark.operators.indicators import spc_rules
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    shuffles, _, p = _counts(spc_rules(obs, order_col="ts"))
    assert shuffles == 1, p
    assert "Join" not in p and "InPandas" not in p, p


def test_hypothesis_tests_one_exchange(spark):
    """jarque_bera / mann_whitney_halves: one key exchange, no join —
    the mean/rank windows and the final aggregate share the key
    partitioning."""
    from spark_timeseries_spark.operators.hypothesis import (
        jarque_bera,
        mann_whitney_halves,
    )
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    sh1, _, p1 = _counts(jarque_bera(obs))
    assert sh1 == 1 and "Join" not in p1, p1
    sh2, _, p2 = _counts(mann_whitney_halves(obs))
    assert sh2 == 1 and "Join" not in p2, p2


def test_complete_panel_broadcasts_key_count(spark):
    """kendall_w's completeness gate broadcasts the ONE-ROW distinct-key
    count (never a global window, which would serialize the panel
    through a single task): the plan must show a broadcast join and no
    single-partition window over the raw points."""
    from spark_timeseries_spark.operators.crosssection import kendall_w
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    p = _plan(kendall_w(obs, loc_col="ts"))
    assert "BroadcastExchange" in p, p
    # exactly TWO single-partition exchanges, both scalar-result
    # aggregates (the 1-row distinct-key count and the final 1-row W
    # aggregate — each funnels partial-aggregated rows, not points);
    # the rank windows themselves must partition on the key
    assert p.count("Exchange SinglePartition") == 2, p
    assert "windowspecdefinition(key" in p, p


def test_transition_entropy_no_join_no_python(spark):
    """transition_entropy is windows + counting aggregates only."""
    from spark_timeseries_spark.operators.features import (
        transition_entropy,
    )
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    p = _plan(transition_entropy(obs, loc_col="ts"))
    assert "Join" not in p and "InPandas" not in p, p


def test_spectral_residual_two_explodes_no_python(spark):
    """spectral_residual stays JVM: two generator explodes, no pandas
    kernel; the final position join is the only join and the grid side
    is the bounded one."""
    from spark_timeseries_spark.operators.spectral import spectral_residual
    from spark_timeseries_spark.sources import events_observations
    from spark_timeseries_spark.operators import resample as r
    import spark_timeseries_spark as sts

    obs = events_observations(spark, SF)
    grid = r.resample(obs, sts.uniform("2024-01-01", 31, sts.DayFrequency(1)), "avg")
    p = _plan(spectral_residual(grid.where("value is not null")))
    assert "InPandas" not in p, p
    assert p.count("Generate") == 2, p


def test_interevent_single_exchange_no_join(spark):
    """interevent_stats: two lags + the final aggregate all ride ONE
    hash exchange on the entity key — no joins, no broadcast (entity
    cardinality is unbounded at scale, the retention_cohorts rule)."""
    from spark_timeseries_spark.operators.sessionize import interevent_stats
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    shuffles, sorts, p = _counts(interevent_stats(obs.select("key", "ts")))
    assert "Join" not in p, p
    assert "BroadcastExchange" not in p, p
    assert shuffles <= 1, p
    assert sorts <= 1, p


def test_capm_no_join_three_exchanges(spark, grid):
    """capm_cross: returns window (key), market window (loc), OLS
    aggregate (key) — three hash exchanges at most and NO join of any
    kind (the market index is a loc-partitioned window over the same
    rows, never a joined-back aggregate)."""
    from spark_timeseries_spark.operators.crosssection import capm_cross

    shuffles, sorts, p = _counts(capm_cross(grid))
    assert "Join" not in p, p
    assert shuffles <= 3, p


def test_time_to_event_horizon_broadcast_only(spark):
    """time_to_event: the only join is the single-row global-horizon
    broadcast; the per-entity start is a key window, and the groupBy
    reuses its exchange — at most one hash exchange on the entity key."""
    from spark_timeseries_spark.operators.survival import time_to_event
    from spark_timeseries_spark.sources import load_table

    ev = load_table(spark, SF, "events")
    shuffles, sorts, p = _counts(time_to_event(ev, "signup", "purchase"))
    assert p.count("BroadcastExchange") == 1, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert shuffles <= 1, p


def test_pinball_single_exchange_no_join(spark):
    """pinball_loss: rank window, percentile windows, explode, and the
    final aggregate all ride ONE hash exchange on the entity key — no
    joins (the quantile forecast is a key window, never joined back)."""
    from spark_timeseries_spark.models.baselines import pinball_loss
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    shuffles, sorts, p = _counts(pinball_loss(obs, loc_col="ts"))
    assert "Join" not in p, p
    assert shuffles <= 1, p


def test_gpd_single_exchange_no_join(spark):
    """gpd_tail: percentile window, exceedance rank window, and the PWM
    aggregate share one key exchange; no joins of any kind."""
    from spark_timeseries_spark.operators.volatility import gpd_tail
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    shuffles, sorts, p = _counts(gpd_tail(obs))
    assert "Join" not in p, p
    assert shuffles <= 1, p


def test_cluster_separation_bounded_aggregates(spark):
    """cluster_separation: one explode feeding a (label, dim)-bounded
    aggregate; the only joins merge ONE-ROW aggregate frames (broadcast
    or AQE-trivial) — never a data-sized side. No Python anywhere."""
    from spark_timeseries_spark.pipeline.embeddings import (
        cluster_separation,
    )
    from spark_timeseries_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    _, _, p = _counts(cluster_separation(emb))
    assert "InPandas" not in p, p
    assert "SortMergeJoin" not in p, p


def test_cuped_one_row_broadcast(spark):
    """cuped: per-entity aggregate + exactly one broadcast (the one-row
    theta/moment frame) — the entity table itself is never broadcast."""
    from spark_timeseries_spark.operators.experiment import cuped
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    split = F.col("ts") < F.to_timestamp(F.lit("2024-01-16"))
    shuffles, sorts, p = _counts(cuped(obs, split))
    assert p.count("BroadcastExchange") == 1, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p


def test_bursts_single_exchange_no_window(spark):
    """kleinberg_bursts r12 plan: ONE hash exchange on key + one
    partition-local sort feeding mapInPandas — the former lag/count/sum
    window passes are gone (gaps, rates, and the Viterbi all live in
    the kernel), and there is no join and no per-group Arrow framing
    (MapInPandas, not FlatMapGroupsInPandas)."""
    from spark_timeseries_spark.operators.bursts import kleinberg_bursts
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF).select("key", "ts")
    shuffles, sorts, p = _counts(kleinberg_bursts(obs))
    assert "Join" not in p, p
    assert "Window" not in p, p
    assert "FlatMapGroupsInPandas" not in p, p
    assert "MapInPandas" in p, p
    assert shuffles == 1, p
    assert sorts == 1, p


def test_log_rank_grid_bounded(spark):
    """log_rank: exactly ONE full-data pass (the groupBy(group,
    duration) aggregate); everything downstream operates on the
    (k x duration-grid) scaffold with the group-totals side broadcast."""
    from spark_timeseries_spark.operators.survival import (
        log_rank,
        time_to_event,
    )
    from spark_timeseries_spark.sources import load_table

    ev = load_table(spark, SF, "events")
    tte = time_to_event(ev, "signup", "purchase", unit_seconds=3600.0)
    binned = tte.select(
        F.ceil(F.col("duration")).cast("long").alias("duration"),
        "event",
        F.pmod(F.col("key"), F.lit(2)).cast("int").alias("grp"),
    )
    _, _, p = _counts(log_rank(binned, group_col="grp"))
    assert "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p


def test_msprt_single_exchange_no_join(spark):
    """msprt: cumulative count/mean/variance and the running-min p all
    ride ONE (key, order) exchange; no joins, no Python."""
    from spark_timeseries_spark.operators.experiment import msprt
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    shuffles, sorts, p = _counts(msprt(obs, tau2=25.0, mu0=30.0))
    assert "Join" not in p, p
    assert shuffles <= 1, p


def test_eb_shrinkage_one_row_broadcast_only(spark):
    """eb_shrinkage: the only join is the one-row method-of-moments
    prior broadcast back onto the per-key table — never a key-sized
    side."""
    from spark_timeseries_spark.operators.experiment import eb_shrinkage
    from spark_timeseries_spark.sources import load_table

    ev = load_table(spark, SF, "events")
    d = ev.groupBy(F.col("user_id").cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("trials"),
        F.sum(
            (F.col("event_type") == "purchase").cast("long")
        ).alias("successes"),
    )
    _, _, p = _counts(eb_shrinkage(d))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    assert "SortMergeJoin" not in p, p
    assert "ShuffledHashJoin" not in p, p


def test_smoothing_single_exchange_no_join(spark):
    """savgol_smooth: 2m+1 lag/leads collapse into ONE window on one
    exchange; kernel_smooth: the range-frame collect_list +
    F.aggregate fold is one exchange, no join, no Python."""
    from spark_timeseries_spark.operators.smoothing import (
        kernel_smooth,
        savgol_smooth,
    )
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    sh, so, p = _counts(savgol_smooth(obs, 7, 2, order_col="ts"))
    assert "Join" not in p and sh <= 1, p
    sh, so, p = _counts(kernel_smooth(obs, bandwidth_seconds=21600.0))
    assert "Join" not in p and sh <= 1, p
    assert "Python" not in p and "ArrowEval" not in p, p


def test_silhouette_row_local(spark):
    """silhouette_simplified (r15): the k×dim centroid matrix ships as a
    literal array_sort expression — the plan is entirely row-local: no
    join of ANY kind, zero exchanges (the pre-r15 shape was a broadcast
    crossJoin + rank window + groupBy, one data-sized exchange)."""
    from spark_timeseries_spark.pipeline.clustering import (
        kmeans_fit,
        silhouette_simplified,
    )
    from spark_timeseries_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    model = kmeans_fit(emb, k=4, max_iter=1)
    shuffles, _, p = _counts(silhouette_simplified(emb, model))
    assert "Join" not in p, p
    assert shuffles == 0, p


def test_r12_indicator_plans_single_exchange(spark):
    """ichimoku / money_flow_index: every window shares the ONE
    (key, bar) exchange of the OHLC aggregate (bars groupBy + windows =
    2 exchanges total, no joins); risk_ratios: lag + cumulative windows
    + the final combinable aggregate ride one key exchange, no joins;
    haar_energy: the explode feeds a single (key, level, block)
    aggregate — no window over the exploded data, no joins."""
    from spark_timeseries_spark.operators.indicators import (
        ichimoku,
        money_flow_index,
        risk_ratios,
    )
    from spark_timeseries_spark.operators.resample import ohlc
    from spark_timeseries_spark.operators.wavelet import haar_energy
    from spark_timeseries_spark.sources import events_observations

    obs = events_observations(spark, SF)
    bars = ohlc(obs, "day")
    for op in (lambda b: ichimoku(b, 5, 10, 20),
               lambda b: money_flow_index(b, n=7)):
        shuffles, _, p = _counts(op(bars))
        assert "Join" not in p, p
        assert shuffles <= 2, p  # bars groupBy + the window sort
    shuffles, _, p = _counts(risk_ratios(obs, order_col="ts"))
    assert "Join" not in p and shuffles <= 1, p
    shuffles, _, p = _counts(haar_energy(obs, levels=3, order_col="ts"))
    assert "Join" not in p, p
    assert shuffles <= 3, p  # row-number sort, (key,level,blk), (key,level)


def test_pagerank_iteration_join_count(spark, monkeypatch):
    """pagerank r13 plan (distributed path, forced by a zero driver-edge
    bound): the loop-invariant degree join is folded into the edge table
    ONCE before the loop, so a run with iters iterations issues exactly
    1 (edges <-> deg) + iters (edges_deg <-> pr) + iters
    (nodes <-> inflow) DataFrame joins = 1 + 2*iters — not the pre-hoist
    1 + 3*iters that re-joined deg inside every iteration. r15: under the
    bound the loop instead runs at the driver with ZERO joins, and the
    two paths agree bit-for-bit (integer fixed-point contract)."""
    from unittest import mock

    # instances are the classic impl class in PySpark 4, not the facade
    from pyspark.sql.classic.dataframe import DataFrame

    import spark_timeseries_spark.pipeline.graph as graph

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "id_a int, id_b int")
    calls = []
    orig = DataFrame.join

    monkeypatch.setattr(graph, "DRIVER_EDGE_ROWS", 0)

    def counting_join(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    with mock.patch.object(DataFrame, "join", counting_join):
        out = graph.pagerank(pairs, iters=3).collect()
    assert len(out) == 4
    assert len(calls) == 1 + 2 * 3, len(calls)

    dist = {r.id: (r.pr_int, r.pr) for r in out}
    monkeypatch.undo()
    calls.clear()
    with mock.patch.object(DataFrame, "join", counting_join):
        local = {
            r.id: (r.pr_int, r.pr)
            for r in graph.pagerank(pairs, iters=3).collect()
        }
    assert len(calls) == 0, "local path must not issue DataFrame joins"
    assert local == dist

    # directed graph with a dangling node exercises the deg/inflow
    # asymmetry on both paths
    dpairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "id_a int, id_b int")
    local_d = {r.id: (r.pr_int, r.pr)
               for r in graph.pagerank(dpairs, iters=4, directed=True).collect()}
    monkeypatch.setattr(graph, "DRIVER_EDGE_ROWS", 0)
    dist_d = {r.id: (r.pr_int, r.pr)
              for r in graph.pagerank(dpairs, iters=4, directed=True).collect()}
    assert local_d == dist_d


def test_stratified_log_rank_grid_bounded(spark):
    """stratified_log_rank: exactly ONE full-data pass (the
    groupBy(stratum, group, duration) aggregate); everything downstream
    operates on the per-stratum grid scaffold with the (stratum x group)
    totals side broadcast — no cartesian products, no Python."""
    from spark_timeseries_spark.operators.survival import (
        stratified_log_rank,
        time_to_event,
    )
    from spark_timeseries_spark.sources import load_table

    ev = load_table(spark, SF, "events")
    tte = time_to_event(ev, "signup", "purchase", unit_seconds=3600.0)
    binned = tte.select(
        F.ceil(F.col("duration")).cast("long").alias("duration"),
        "event",
        F.pmod(F.col("key"), F.lit(2)).cast("int").alias("grp"),
        F.pmod(F.floor(F.col("key") / F.lit(2)), F.lit(3))
        .cast("int").alias("stratum"),
    )
    _, _, p = _counts(stratified_log_rank(binned, group_col="grp"))
    assert "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p
    assert "InPandas" not in p, p


def test_r13_survival_eval_plans(spark):
    """rmst: one full-data groupBy then per-group grid windows — no
    joins anywhere; cumulative_incidence: the only joins are the
    broadcast causes scaffold + the bounded grid equi-join (no
    cartesian products, no Python); roc_auc: one combinable
    groupBy(score) + a distinct-score-grid window + one reduce — no
    joins, no Python."""
    from spark_timeseries_spark.operators.survival import (
        cumulative_incidence,
        rmst,
    )
    from spark_timeseries_spark.pipeline.classifier import roc_auc
    from spark_timeseries_spark.sources import load_table

    ev = load_table(spark, SF, "events")
    tte = ev.select(
        (F.pmod(F.col("user_id"), F.lit(50)) + 1).alias("duration"),
        (F.col("event_type") == "purchase").cast("int").alias("event"),
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("grp"),
    )
    _, _, p = _counts(rmst(tte, tau=30.0, group_col="grp"))
    assert "Join" not in p, p
    assert "InPandas" not in p, p

    cr = ev.select(
        (F.pmod(F.col("user_id"), F.lit(50)) + 1).alias("duration"),
        F.when(F.col("event_type") == "purchase", 1)
        .when(F.col("event_type") == "error", 2)
        .otherwise(0).alias("cause"),
    )
    _, _, p = _counts(cumulative_incidence(cr))
    assert "CartesianProduct" not in p, p
    assert "InPandas" not in p, p
    assert "BroadcastExchange" in p, p

    docs = load_table(spark, SF, "documents")
    scored = docs.select(
        F.col("n_chars").cast("double").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    _, _, p = _counts(roc_auc(scored, "score", "label"))
    assert "Join" not in p, p
    assert "InPandas" not in p, p


def test_r13_assoc_effect_plans(spark):
    """cramers_v: ONE full-data groupBy(a, b); margins/chi2 on the
    bounded cell table — no joins, no Python; cohens_d: one combinable
    groupBy + a 2-row reduce — no joins, no Python; mrr_at_k: bounded
    per-query equi-joins only — no cartesian products, no Python."""
    from spark_timeseries_spark.operators.experiment import cohens_d
    from spark_timeseries_spark.operators.hypothesis import cramers_v
    from spark_timeseries_spark.pipeline.similarity import mrr_at_k
    from spark_timeseries_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    _, _, p = _counts(cramers_v(docs, "lang", "source"))
    assert "Join" not in p, p
    assert "InPandas" not in p, p

    ev = load_table(spark, SF, "events")
    tbl = ev.select(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("variant"),
        "value",
    )
    _, _, p = _counts(cohens_d(tbl))
    assert "Join" not in p, p
    assert "InPandas" not in p, p

    ex = spark.createDataFrame(
        [(1, 10, 1)], "qid int, vec_id int, rank int")
    ap = spark.createDataFrame(
        [(1, 10, 1)], "qid int, vec_id int, rank int")
    _, _, p = _counts(mrr_at_k(ex, ap, k=5))
    assert "CartesianProduct" not in p, p
    assert "InPandas" not in p, p


def test_r13_paired_test_plans(spark):
    """welch_t / mcnemar / odds_ratio: one combinable aggregate (+ a
    bounded 2-row reduce for welch) — no joins, no Python;
    wilcoxon_signed: the only sort is the bounded diff-table mid-rank
    window; the single join is the broadcast one-row zero-count."""
    from spark_timeseries_spark.operators.experiment import odds_ratio
    from spark_timeseries_spark.operators.hypothesis import (
        mcnemar,
        welch_t,
        wilcoxon_signed,
    )
    from spark_timeseries_spark.sources import load_table

    ev = load_table(spark, SF, "events")
    tbl = ev.select(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("grp"),
        "value",
    )
    _, _, p = _counts(welch_t(tbl, group_col="grp"))
    assert "Join" not in p and "InPandas" not in p, p

    pairs = ev.select(
        (F.col("value") > 0).cast("int").alias("before"),
        (F.col("value") > 1).cast("int").alias("after"),
    )
    _, _, p = _counts(mcnemar(pairs))
    assert "Join" not in p and "InPandas" not in p, p

    _, _, p = _counts(odds_ratio(
        ev, exposed=F.col("value") > 0, outcome=F.col("value") > 1))
    assert "Join" not in p and "InPandas" not in p, p

    diffs = ev.groupBy("user_id").agg(
        (F.avg("value") - F.lit(1.0)).alias("diff"))
    _, _, p = _counts(wilcoxon_signed(diffs))
    assert "SortMergeJoin" not in p and "InPandas" not in p, p
    assert "BroadcastExchange" in p, p


def test_r13_friedman_chow_plans(spark):
    """friedman: the only joins are the broadcast global-k and the
    block-keyed completeness gate on the bounded cell table — no
    cartesian products beyond the one-row broadcast, no Python; chow:
    ONE aggregate pass (three conditional moment sets in one row) —
    no joins, no windows, no Python."""
    from spark_timeseries_spark.operators.hypothesis import chow, friedman
    from spark_timeseries_spark.sources import load_table

    ev = load_table(spark, SF, "events")
    cells = (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            F.col("user_id").alias("block"),
            F.col("event_type").alias("treatment"),
        )
        .agg(F.avg("value").alias("value"))
    )
    _, _, p = _counts(friedman(cells))
    assert "InPandas" not in p, p
    assert "BroadcastExchange" in p, p

    pts = ev.select(
        (F.col("value") > 0).alias("pre"),
        F.col("event_id").cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    _, _, p = _counts(chow(pts, split=F.col("pre")))
    assert "Join" not in p, p
    assert "Window" not in p, p
    assert "InPandas" not in p, p


def test_r14_classifier_eval_plans(spark):
    """brier: one combinable groupBy(score) + ONE reduce — no joins, no
    windows, no Python; average_precision: one groupBy(score) + exactly
    one cumulative window on the distinct-score grid + one reduce — no
    joins, no Python."""
    from spark_timeseries_spark.pipeline.classifier import (
        average_precision,
        brier,
    )
    from spark_timeseries_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    scored = docs.select(
        ((F.col("n_chars") % 100) / F.lit(100.0)).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    _, _, p = _counts(brier(scored, "score", "label"))
    assert "Join" not in p, p
    assert "Window" not in p, p
    assert "InPandas" not in p, p

    _, _, p = _counts(average_precision(scored, "score", "label"))
    assert "Join" not in p, p
    assert "InPandas" not in p, p
    assert len(re.findall(r"\bWindow\b", p)) == 1, p


def test_concordance_index_grid_bounded(spark):
    """concordance_index: ONE full-data pass (the groupBy(duration,
    risk) cell aggregate); the only joins are the grid-densification
    cross (broadcast nested-loop over the two VALUE grids) and the
    broadcast cell equi-join — nothing data-sized joins, no Python."""
    from spark_timeseries_spark.operators.survival import (
        concordance_index,
    )
    from spark_timeseries_spark.sources import load_table

    ev = load_table(spark, SF, "events")
    tbl = ev.select(
        (F.pmod(F.col("user_id"), F.lit(50)) + 1)
        .cast("double").alias("duration"),
        (F.col("event_type") == "purchase").cast("int").alias("event"),
        F.pmod(F.col("user_id"), F.lit(7)).cast("double").alias("risk"),
    )
    _, _, p = _counts(concordance_index(tbl))
    assert "InPandas" not in p, p
    assert "SortMergeJoin" not in p, p
    # exactly the two grid joins: the tg x rg densification cross and
    # the broadcast cells lookup
    assert len(re.findall(r"BroadcastNestedLoopJoin", p)) == 1, p
    assert len(re.findall(r"BroadcastHashJoin", p)) == 1, p


def test_r14_threshold_eval_plans(spark):
    """log_loss / classification_report: ONE combinable aggregate —
    no joins, no windows, no Python; lift_table: one groupBy(score) +
    grid windows + one bucket reduce — no joins, no Python."""
    from spark_timeseries_spark.pipeline.classifier import (
        classification_report,
        lift_table,
        log_loss,
    )
    from spark_timeseries_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    scored = docs.select(
        ((F.col("n_chars") % 100) / F.lit(100.0)).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    _, _, p = _counts(log_loss(scored, "score", "label"))
    assert "Join" not in p and "Window" not in p and "InPandas" not in p, p

    _, _, p = _counts(
        classification_report(scored, "score", "label", threshold=0.5))
    assert "Join" not in p and "Window" not in p and "InPandas" not in p, p

    _, _, p = _counts(lift_table(scored, "score", "label"))
    assert "Join" not in p and "InPandas" not in p, p


def test_r14_contingency_plans(spark):
    """g_test: ONE full-data groupBy(a, b); margins/G on the bounded
    cell table — no joins, no Python; cohen_kappa: the only join is
    the category-bounded margin outer join (+ the one-row broadcast
    pe) — no data-sized joins, no Python; cochran_armitage: ONE moment
    aggregate — no joins, no windows, no Python."""
    from spark_timeseries_spark.operators.hypothesis import (
        cochran_armitage,
        cohen_kappa,
        g_test,
    )
    from spark_timeseries_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    _, _, p = _counts(g_test(docs, "lang", "source"))
    assert "Join" not in p and "InPandas" not in p, p

    rated = docs.select(
        F.when(F.col("lang") == "en", F.lit("y"))
        .otherwise(F.lit("n")).alias("a"),
        F.when(F.col("n_chars") % 2 == 0, F.lit("y"))
        .otherwise(F.lit("n")).alias("b"),
    )
    _, _, p = _counts(cohen_kappa(rated, "a", "b"))
    assert "SortMergeJoin" not in p and "InPandas" not in p, p
    # margin pairing is a union+groupBy, NOT an outer join
    assert "FullOuter" not in p, p

    ev = load_table(spark, SF, "events")
    dosed = ev.select(
        F.pmod(F.col("user_id"), F.lit(5)).cast("double").alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    _, _, p = _counts(cochran_armitage(dosed))
    assert "Join" not in p and "Window" not in p and "InPandas" not in p, p


def test_r14_rank_distance_plans(spark):
    """anova_oneway: one combinable groupBy + a k-row reduce — no
    joins, no windows on data, no Python; kendall_tau_b: ONE full-data
    groupBy(x, y); the only joins are the grid densification cross +
    the broadcast cell lookup (+ one-row margin broadcasts) — no
    SortMergeJoin, no Python; energy_distance: one groupBy(value) with
    the broadcast k-gate, grid windows, one reduce — no data-sized
    joins, no Python."""
    from spark_timeseries_spark.operators.hypothesis import (
        anova_oneway,
        energy_distance,
        kendall_tau_b,
    )
    from spark_timeseries_spark.sources import load_table

    ev = load_table(spark, SF, "events")
    _, _, p = _counts(
        anova_oneway(ev, group_col="event_type", value_col="value"))
    assert "Join" not in p and "Window" not in p and "InPandas" not in p, p

    pts = ev.where(F.col("value").isNotNull()).select(
        F.pmod(F.col("user_id"), F.lit(20)).cast("double").alias("x"),
        (F.floor(F.col("value") * 10 + 0.5) / 10).alias("y"),
    )
    _, _, p = _counts(kendall_tau_b(pts))
    assert "SortMergeJoin" not in p and "InPandas" not in p, p
    # exactly 3 broadcast nested-loop joins: the xg x yg densification
    # cross + the two ONE-ROW margin attaches (constant-key equi-joins
    # fold to BNLJ) — nothing data-sized
    assert len(re.findall(r"BroadcastNestedLoopJoin", p)) == 3, p

    ed = ev.where(F.col("value").isNotNull()).select(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("group"),
        (F.floor(F.col("value") * 100 + 0.5) / 100).alias("value"),
    )
    _, _, p = _counts(energy_distance(ed))
    assert "SortMergeJoin" not in p and "InPandas" not in p, p


def test_r14_assoc_drift_plans(spark):
    """partial_corr: ONE nine-moment aggregate — no joins, no windows,
    no Python; theil_u: one full-data groupBy(a, b), cell-table
    windows + one-row entropy broadcasts — no data-sized joins, no
    Python; hellinger: one groupBy(value) with the broadcast k-gate +
    one reduce — no windows, no data-sized joins, no Python."""
    from spark_timeseries_spark.operators.hypothesis import (
        partial_corr,
        theil_u,
    )
    from spark_timeseries_spark.pipeline.drift import hellinger
    from spark_timeseries_spark.sources import load_table

    ev = load_table(spark, SF, "events")
    pts = ev.select(
        F.col("value").alias("x"),
        (F.col("value") * 2).alias("y"),
        F.col("user_id").cast("double").alias("z"),
    )
    _, _, p = _counts(partial_corr(pts))
    assert "Join" not in p and "Window" not in p and "InPandas" not in p, p

    docs = load_table(spark, SF, "documents")
    _, _, p = _counts(theil_u(docs, "lang", "source"))
    assert "SortMergeJoin" not in p and "InPandas" not in p, p

    hd = ev.where(F.col("value").isNotNull()).select(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("group"),
        (F.floor(F.col("value") * 10 + 0.5) / 10).alias("value"),
    )
    _, _, p = _counts(hellinger(hd))
    assert "SortMergeJoin" not in p and "Window" not in p, p
    assert "InPandas" not in p, p
