"""End-to-end pre-training corpus cleaning: the composition a real
training-data pipeline runs, as ONE lazy Catalyst plan.

Every per-document gate is a ``where`` on the one document lineage, in
this order:

1. the optional blocked-phrase and blocked-domain gates (regex filters);
2. language gate (stopword scores, :func:`..text.language_id`);
3. quality gate (:func:`..text.quality_score_col`);
4. the optional zlib compression gate (:func:`..text.compression_sizes`,
   an Arrow-batched pandas UDF; a NULL ratio — empty text — passes);
5. Gopher repetition gate (:func:`..text.repetition_keep`): each
   document sorts its own n-grams, no shuffle.

Catalyst may evaluate the JVM conjuncts below the pandas UDF's Python
crossing; every gate reads one row, so the order does not change the
answer. Each row is judged alone, so NULL and shared ids are ordinary
documents. After the gates come the optional CCNet perplexity gate (a
left-anti join on the id), the optional rewrite stages (paragraph dedup,
span removal) and the exact dedup, whose window is the one exchange the
default chain plans.

``persist_intermediate=True`` caches a frame only where a later stage
reads it twice: the gated documents ahead of the perplexity join, or
the survivors the rewrite stages scan several times (the later of the
two when both are on). With neither on, nothing is cached: one scan of
the corpus feeds every gate.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import literal
from .dedup import dedup_exact
from .text import compression_sizes, language_id, quality_score_col, repetition_keep


@dataclass
class CleanResult:
    """Handle pair from :func:`pretrain_clean` with
    ``persist_intermediate=True``.

    ``df`` is the cleaned corpus; ``cached`` is the persisted frame a
    later stage reads twice, or ``None`` when no stage does. The caller
    owns the cache: call :meth:`release` (or ``cached.unpersist()``) once
    ``df`` has been materialized. Usable as a context manager::

        with pretrain_clean(docs, persist_intermediate=True) as clean:
            clean.write.parquet(out_path)
    """

    df: DataFrame
    cached: DataFrame | None = None

    def release(self) -> None:
        if self.cached is not None:
            self.cached.unpersist()

    def __enter__(self) -> DataFrame:
        return self.df

    def __exit__(self, *exc) -> None:
        self.release()


def pretrain_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.5,
    rep_thresholds: dict[str, float] | None = None,
    normalize_digest: bool = True,
    persist_intermediate: bool = False,
    blocklist: list[str] | None = None,
    blocked_domains: list[str] | None = None,
    min_compression_ratio: float | None = None,
    dedup_paragraph: bool = False,
    remove_span_grams: int | None = None,
    hash_fn: str = "xxhash64",
    max_perplexity: float | None = None,
    lm=None,
) -> DataFrame | CleanResult:
    """Language → quality → Gopher-repetition → [paragraph dedup] →
    [span removal] → exact-dedup chain; returns the surviving documents
    with their original columns plus ``quality``.
    With ``persist_intermediate=True`` the return value is a
    :class:`CleanResult` — ``result.df`` plus the ``result.cached`` frame
    (see the module docstring) to release when done.

    Optional gates (all off by default, all row-local filters on the same
    lineage): ``blocklist`` (C4 phrase gate), ``blocked_domains`` (link
    hygiene), and ``min_compression_ratio`` — a MINIMUM compressibility
    gate in the Gopher spirit: ratios BELOW the threshold mean near-pure
    repetition.

    Optional REWRITE stages (off by default) cover the package's two
    remaining dedup modalities — applied between the repetition gate and
    the final exact dedup, so the digest dedups the REWRITTEN text:
    ``dedup_paragraph=True`` cuts every repeated paragraph except its
    corpus-first occurrence (:func:`..dedup.dedup_paragraphs`);
    ``remove_span_grams=n`` cuts cross-document duplicated n-gram spans
    (:func:`..dedup.remove_dup_spans`, Lee et al. 2021 removal), keeping
    one canonical copy. Both run on the gated survivor set only, and each
    costs its documented shuffle budget (paragraph: hash groupBy + join
    back + rebuild per (id, text hash), so documents sharing an id stay
    apart; spans: gram-hash groupBy + doc_id window).
    ``hash_fn`` selects their gram/paragraph hash (``md5_60`` for
    oracle-replayable runs)."""
    from .dedup import dedup_paragraphs, remove_dup_spans
    from .text import domain_blocklist, phrase_blocklist

    gated = df
    if blocklist:
        gated = phrase_blocklist(gated, blocklist, text_col, id_col)
    if blocked_domains:
        gated = domain_blocklist(gated, blocked_domains, text_col, id_col)
    gated = (
        gated.where(language_id(text_col) == lang)
        .withColumn("quality", quality_score_col(text_col))
        .where(f"quality >= {literal(min_quality)}")
    )
    if min_compression_ratio is not None:
        gated = (
            gated.withColumn("_z", compression_sizes(text_col))
            .where(
                "coalesce(_z.compression_ratio >= "
                f"{literal(min_compression_ratio)}, true)"
            )
            .drop("_z")
        )
    survivors = gated.where(repetition_keep(text_col, rep_thresholds))
    rewriting = dedup_paragraph or remove_span_grams is not None
    cached = None
    if max_perplexity is not None:
        # CCNet-style LM gate: drop documents a reference-corpus bigram LM
        # finds too surprising (boilerplate/garbled text scores high).
        # The LM broadcasts (reference vocabularies are executor-small);
        # <2-token docs carry no LM evidence and pass through — gate them
        # with quality/length, not perplexity
        if lm is None:
            raise ValueError("max_perplexity needs a fitted lm (NgramLM)")
        from .lm import score_perplexity

        if persist_intermediate and not rewriting:
            survivors = cached = survivors.persist()
        too_surprising = (
            score_perplexity(survivors, lm, text_col, id_col)
            .where(F.col("perplexity") > float(max_perplexity))
            .select(id_col)
        )
        survivors = survivors.join(too_surprising, id_col, "left_anti")
    if rewriting and persist_intermediate:
        # the rewrite stages each scan their input several times
        # (paragraph dedup: canon/join/counts; span removal: grams +
        # rebuild) — without this cache every internal consumer re-runs
        # the gates and joins ahead of it
        survivors = cached = survivors.persist()
    if dedup_paragraph:
        # paragraphs are rebuilt per document, not per id: the key is
        # (id, text hash), so two documents sharing an id (or both NULL)
        # stay two rows
        doc = F.struct(F.col(id_col).alias("i"), F.xxhash64(text_col).alias("h"))
        keyed = survivors.withColumn("_doc", doc)
        para = dedup_paragraphs(keyed, text_col, "_doc", hash_fn=hash_fn)
        survivors = (
            keyed.drop(text_col)
            .join(para.select("_doc", text_col), "_doc")
            .drop("_doc")
        )
    if remove_span_grams is not None:
        spans = remove_dup_spans(
            survivors,
            n=int(remove_span_grams),
            text_col=text_col,
            id_col=id_col,
            hash_fn=hash_fn,
        )
        survivors = survivors.drop(text_col).join(
            spans.select(id_col, F.col("clean_text").alias(text_col)), id_col
        )
    out = dedup_exact(survivors, text_col, id_col, normalize=normalize_digest)
    if persist_intermediate:
        return CleanResult(df=out, cached=cached)
    return out


def filter_audit(
    df: DataFrame,
    flags: dict[str, Column],
) -> DataFrame:
    """Cleaning-cascade observability → one row per rule: (rule,
    n_fail, n_unique_fail, fail_rate, unique_fail_rate, n_docs,
    n_killed, kill_rate). ``flags`` maps rule name → BOOLEAN column
    (True = the rule REJECTS the document, each evaluated independently
    — not sequentially, so overlap is visible). ``n_unique_fail``
    counts documents failing ONLY that rule — the rule's marginal
    contribution: a rule with high n_fail but zero unique kills is
    redundant with the rest of the cascade; the corpus-level
    n_killed/kill_rate (docs failing ≥ 1 rule) repeat on every row.
    All counts are per-ROW: callers with duplicated document rows must
    dedupe upstream (the former ``id_col`` parameter was never used —
    dropped in r11 rather than left misleading).

    Plan: ONE map-side-combinable aggregate over one scan (2·R+2
    conditional sums), then a driver-free explode of the R-row result —
    no joins, no second scan; scales like a word count regardless of
    rule count."""
    if not flags:
        raise ValueError("flags must be non-empty")
    names = sorted(flags)
    d = df.select(
        *[flags[n].cast("int").alias(f"_f_{i}") for i, n in enumerate(names)]
    )
    tot = sum(F.col(f"_f_{i}") for i in range(len(names)))
    d = d.withColumn("_tot", tot)
    aggs = [F.count(F.lit(1)).alias("_n")]
    aggs.append(F.sum(F.when(F.col("_tot") > 0, 1).otherwise(0)).alias("_k"))
    for i in range(len(names)):
        aggs.append(F.sum(F.col(f"_f_{i}")).alias(f"_fail_{i}"))
        aggs.append(
            F.sum(
                F.when((F.col(f"_f_{i}") == 1) & (F.col("_tot") == 1), 1)
                .otherwise(0)
            ).alias(f"_uniq_{i}")
        )
    g = d.agg(*aggs)
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(n).alias("rule"),
                    F.col(f"_fail_{i}").alias("n_fail"),
                    F.col(f"_uniq_{i}").alias("n_unique_fail"),
                )
                for i, n in enumerate(names)
            ]
        )
    )
    nd = F.col("_n").cast("double")
    return g.select(rows.alias("_r"), "_n", "_k").select(
        F.col("_r.rule").alias("rule"),
        F.col("_r.n_fail").alias("n_fail"),
        F.col("_r.n_unique_fail").alias("n_unique_fail"),
        (F.col("_r.n_fail").cast("double") / nd).alias("fail_rate"),
        (F.col("_r.n_unique_fail").cast("double") / nd).alias(
            "unique_fail_rate"
        ),
        F.col("_n").alias("n_docs"),
        F.col("_k").alias("n_killed"),
        (F.col("_k").cast("double") / nd).alias("kill_rate"),
    )


def k_anonymity(
    df: DataFrame,
    qi_cols: list[str],
    k: int = 10,
) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns → one row per
    observed QI combination: (<qi_cols...>, n, anonymous). A combo is
    ``anonymous`` when at least ``k`` rows share it (Sweeney 2002) —
    rows in smaller groups are re-identification risks and the usual
    remedies are suppression or coarsening of the offending columns.
    NULLs count as a value (an all-NULL combo can still be a
    fingerprint). The summary the release gate wants — the share of
    AT-RISK rows — is one aggregate over this output
    (``sum(case when not anonymous then n end) / sum(n)``).

    Plan: one map-side-combinable groupBy over the QI tuple. Output
    cardinality = distinct combos (the thing being audited — if it is
    data-sized, that IS the finding: every row is unique)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not qi_cols:
        raise ValueError("qi_cols must be non-empty")
    return df.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("anonymous", F.col("n") >= k)


def l_diversity(
    df: DataFrame,
    qi_cols: list[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """l-diversity audit over quasi-identifier columns against a
    SENSITIVE attribute → one row per observed QI combination:
    (<qi_cols...>, n, n_sensitive, entropy, diverse). k-anonymity
    (:func:`k_anonymity`) alone fails the homogeneity attack — a
    k-sized group whose sensitive value is CONSTANT still discloses
    it — so each group must also hold ``l`` well-represented
    sensitive values (Machanavajjhala et al. 2007): ``diverse`` is
    ENTROPY l-diversity, −Σ p·ln p ≥ ln(l) − 1e-12 (the slack keeps
    the canonical boundary case — a group UNIFORM over exactly l
    values, whose float entropy lands an ulp under ln l — on the
    passing side; with distinct l-diversity n_sensitive ≥ l implied;
    both columns emitted so the release gate can pick its
    strictness). NULL sensitive values
    count as a value (a group that is all-NULL discloses the NULL).

    Plan: one map-side-combinable groupBy(QI, sensitive) + one
    groupBy(QI) — the second exchange is on a prefix of the first
    key. Output cardinality = distinct combos (the k_anonymity
    contract)."""
    if l < 1:
        raise ValueError(f"l must be >= 1, got {l}")
    if not qi_cols:
        raise ValueError("qi_cols must be non-empty")
    per = df.groupBy(
        *qi_cols, F.col(sensitive_col).alias("_sv")
    ).agg(F.count(F.lit(1)).alias("_c"))
    wq = Window.partitionBy(*qi_cols)
    p = F.col("_c").cast("double") / F.sum("_c").over(wq).cast("double")
    per = per.withColumn("_plp", p * F.log(p))
    g = per.groupBy(*qi_cols).agg(
        F.sum("_c").alias("n"),
        F.count(F.lit(1)).cast("int").alias("n_sensitive"),
        (-F.sum("_plp")).alias("entropy"),
    )
    import math as _math

    return g.withColumn(
        "diverse", F.col("entropy") >= float(_math.log(l)) - 1e-12
    )


def profile_columns(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Column-profiling audit → one row per profiled column: (column,
    n, n_null, null_frac, n_distinct, min_val, max_val) with min/max
    rendered as strings (the profile is heterogeneous across types).
    The first look every ingestion pipeline takes at a new table:
    null saturation, key-ness (n_distinct ≈ n), degenerate constants
    (n_distinct = 1), range sanity. Distinct counts are EXACT — the
    approximate path is ``bucket_cardinality``'s HLL when the column
    is too hot for exact counting.

    Plan: ONE scan — a single aggregate computes every column's
    stats (count/null/min/max plus one exact count_distinct per
    column; Catalyst plans the multi-distinct via expand, cost ~ one
    shuffle per distinct-set, k bounded), then a k-row unpivot."""
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        col = F.col(c)
        aggs += [
            F.sum(col.isNull().cast("long")).alias(f"_null_{c}"),
            F.count_distinct(col).alias(f"_nd_{c}"),
            F.min(col).cast("string").alias(f"_min_{c}"),
            F.max(col).cast("string").alias(f"_max_{c}"),
        ]
    one = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n").alias("n"),
            F.col(f"_null_{c}").alias("n_null"),
            (
                F.col(f"_null_{c}").cast("double")
                / F.col("_n").cast("double")
            ).alias("null_frac"),
            F.col(f"_nd_{c}").alias("n_distinct"),
            F.col(f"_min_{c}").alias("min_val"),
            F.col(f"_max_{c}").alias("max_val"),
        )
        for c in cols
    ]
    return one.select(
        F.explode(F.array(*rows)).alias("_p")
    ).select("_p.*")
