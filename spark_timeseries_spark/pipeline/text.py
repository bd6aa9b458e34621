"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All built from JVM-side expression trees (regex,
array, hash builtins) — no Python UDFs — so they codegen and scale linearly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_timeseries_spark.functions import expr_over, ident, let, literal
from spark_timeseries_spark.functions.sqltext import ColumnOrName

# Small high-frequency word lexicons for the n-gram/stopword language
# heuristic. (Deterministic, self-contained; real deployments would swap in
# fastText-style models via the same operator shape.)
LANG_LEXICONS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "una"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "dans", "que"],
}

STOPWORDS_EN = set(LANG_LEXICONS["en"]) | {"a", "an", "on", "at", "by", "with"}

# the whitespace tokenizer's separator: a run of whitespace
_WS_RE = r"\s+"
# regexes as SQL literals (see functions.sqltext)
_PUNCT = literal(r"[^\w\s]")
_NL = literal(r"\n")


def tokens(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(text), _WS_RE)


def tokens_sql(t: str) -> str:
    """Spark SQL text of :func:`tokens` over the SQL expression ``t``."""
    return f"split(trim({t}), {literal(_WS_RE)})"


def bpe_like_tokens(text: Column) -> Column:
    """BPE-ish regex pre-tokenization (letters / digits / punctuation runs),
    the GPT-2 style split reduced to an RE2/Java-compatible core."""
    return F.regexp_extract_all(text, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)


def token_count(text: Column, bpe: bool = False) -> Column:
    """Token count with the blank-text edge handled: Spark's split on an
    empty string yields [""] (size 1), so whitespace mode guards on the
    trimmed length — blank text counts 0 tokens, matching the SQL oracle's
    CASE and what any tokenizer would report."""
    if bpe:
        return F.size(bpe_like_tokens(text))
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(tokens(text))
    )


def token_count_sql(t: str) -> str:
    """Spark SQL text of whitespace-mode :func:`token_count` over ``t``."""
    return f"CASE WHEN length(trim({t})) = 0 THEN 0 ELSE size({tokens_sql(t)}) END"


def language_scores(text: ColumnOrName) -> list[tuple[str, Column]]:
    """(lang, stopword hit count) per lexicon; ``text`` is a Column or a
    column name (see :func:`~..functions.expr_over`)."""
    return [
        (lang, expr_over(text, lambda t, lex=lex: _hits_sql(t, lex)))
        for lang, lex in LANG_LEXICONS.items()
    ]


def _hits_sql(t: str, lex: list[str]) -> str:
    """SQL text: how many tokens of the text expression ``t`` are in ``lex``."""
    words = ", ".join(literal(w) for w in lex)
    return (
        f"size(filter({tokens_sql(f'lower({t})')}, "
        f"t -> array_contains(array({words}), t)))"
    )


def language_id(text: ColumnOrName) -> Column:
    """Most-probable language by stopword hit count; ties break to the
    lexicographically larger code (deterministic). ``text`` is a Column
    or a column name."""

    def body(t):
        scored = ", ".join(
            f"named_struct('score', {_hits_sql(t, lex)}, 'lang', {literal(lang)})"
            for lang, lex in LANG_LEXICONS.items()
        )
        return f"array_max(array({scored}))['lang']"

    return expr_over(text, body)


def quality_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality features: token count, mean token length,
    punctuation ratio, stopword ratio, digit ratio, uppercase ratio."""
    t = F.col(text_col)
    n_tok = token_count(t)  # blank-guarded: "" is 0 tokens, not [""]→1
    length = F.length(t)
    stop_arr = F.array(*[F.lit(w) for w in sorted(STOPWORDS_EN)])
    n_stop = F.size(F.filter(tokens(F.lower(t)), lambda x: F.array_contains(stop_arr, x)))
    n_punct = length - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_digit = length - F.length(F.regexp_replace(t, r"[0-9]", ""))
    n_upper = length - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    n_nospace = F.length(F.regexp_replace(t, r"\s", ""))
    return df.select(
        id_col,
        n_tok.alias("n_tokens"),
        F.try_divide(n_nospace, n_tok).alias("mean_token_len"),
        F.try_divide(n_punct, length).alias("punct_ratio"),
        F.try_divide(n_stop, n_tok).alias("stopword_ratio"),
        F.try_divide(n_digit, length).alias("digit_ratio"),
        F.try_divide(n_upper, length).alias("upper_ratio"),
    )


def quality_score_col(text: ColumnOrName) -> Column:
    """Scalar [0,1] quality heuristic as a row-local COLUMN — composable
    into an existing lineage without a second corpus scan (used by
    :func:`~spark_timeseries_spark.pipeline.clean.pretrain_clean`).
    ``text`` is a Column or a column name."""
    stop = ", ".join(literal(w) for w in sorted(STOPWORDS_EN))

    def body(t):
        n_tok = token_count_sql(t)  # blank-guarded: "" is 0 tokens
        n_stop = (
            f"size(filter({tokens_sql(f'lower({t})')}, "
            f"x -> array_contains(array({stop}), x)))"
        )
        n_punct = f"length({t}) - length(regexp_replace({t}, {_PUNCT}, ''))"
        len_score = (
            f"least({n_tok} / 50.0D, 1.0D) * "
            f"CASE WHEN {n_tok} > 5000 THEN 0.5D ELSE 1.0D END"
        )
        stop_score = f"least(try_divide({n_stop}, {n_tok}) * 4.0D, 1.0D)"
        punct_score = (
            f"CASE WHEN try_divide({n_punct}, length({t})) > 0.2D "
            "THEN 0.5D ELSE 1.0D END"
        )
        return (
            f"round({len_score} * ({stop_score} * 0.5D + 0.5D) * {punct_score}, 6)"
        )

    return expr_over(text, body)


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Scalar [0,1] quality heuristic: length sweet-spot × stopword presence ×
    punctuation sanity (monotone, deterministic)."""
    return df.select(id_col, quality_score_col(text_col).alias("quality"))


def fingerprint_md5(text: Column) -> Column:
    """Normalized-content MD5 fingerprint."""
    return F.md5(F.regexp_replace(F.lower(text), r"\s+", " "))


def remove_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style cross-document boilerplate removal (Raffel et al. 2020
    §2.2 "three-sentence" rule, applied per line as RefinedWeb/Dolma do):
    any line whose NORMALIZED form (lowercased, trimmed) occurs in at
    least ``min_docs`` distinct documents is dropped from every document;
    the surviving lines are reassembled in their original order. Documents
    whose every line is boilerplate come back with empty text (callers
    typically follow with a length gate).

    Scale shape: explode to (doc, line_no, line) once; the global
    frequency count groups on a 64-bit ``xxhash64`` of the normalized line
    — the shuffle moves hashes, never the line text; the boilerplate set
    joins back by the same hash (AQE broadcasts it when small — for real
    corpora the ≥min_docs set is tiny relative to the corpus); the rebuild
    is one groupBy(doc) with an order-restoring array_sort, not a window.
    Three shuffles total, each on a fixed-width key."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
    ).withColumn("_h", F.xxhash64(F.lower(F.trim(F.col("line")))))
    boiler = (
        lines.where(F.length(F.trim("line")) > 0)
        .groupBy("_h")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_h")
    )
    kept = lines.join(boiler, "_h", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("line_no", "line"))
                ),
                lambda x: x["line"],
            ),
            "\n",
        ).alias(text_col)
    )
    # rejoin to the untouched columns (they never ride through the explode,
    # which would multiply them per line); every input row survives —
    # a fully-boilerplate document comes back with empty text
    return df.drop(text_col).join(rebuilt, id_col, "left").withColumn(
        text_col, F.coalesce(F.col(text_col), F.lit(""))
    )


def ngram_set(text: Column, n: int) -> Column:
    """Distinct lowercase word n-grams of a document as an array — the
    shared kernel of the repetition, Jaccard, and decontamination
    operators. ``let``-bound tokenization (see the winnowing note)."""
    return let(
        tokens(F.lower(text)),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
                )
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def contamination_flags(
    df: DataFrame,
    probes: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: (id, contaminated) — a document is
    contaminated if it shares ANY word ``n``-gram with the probe corpus
    (the standard pre-training hygiene check against test-set leakage,
    e.g. the GPT-3 13-gram / PaLM 8-gram protocols).

    Scale shape: the probe side (benchmarks) is tiny relative to the
    corpus, so its distinct n-gram set builds once and the membership test
    is a semi-join the optimizer broadcasts; the corpus side is one
    explode + semi-join + distinct — no corpus self-join, no driver
    state."""
    doc_grams = df.select(
        id_col, F.explode(ngram_set(F.col(text_col), n)).alias("g")
    )
    probe_grams = probes.select(
        F.explode(ngram_set(F.col(probe_text_col), n)).alias("g")
    ).distinct()
    hit = (
        doc_grams.join(probe_grams, "g", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        df.select(id_col)
        .join(hit, id_col, "left")
        .select(
            id_col,
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        )
    )


def decontaminate(
    df: DataFrame,
    probes: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str = "text",
) -> DataFrame:
    """Drop contaminated documents (see :func:`contamination_flags`)."""
    flags = contamination_flags(df, probes, n, text_col, id_col, probe_text_col)
    return df.join(
        flags.where(F.col("contaminated")).select(id_col), id_col, "left_anti"
    )


# Gopher quality-rule stopwords (Rae et al. 2021 §A1.1: "contains at least
# two of the following English words")
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The non-repetition half of the published Gopher document-quality
    rules (Rae et al. 2021 §A1.1), each as a row-local JVM expression —
    no shuffle, one scan, codegen'd:

    - ``n_words``, ``mean_word_len`` (non-space chars per word);
    - ``symbol_word_ratio`` — '#' or '...' occurrences per word;
    - ``bullet_line_ratio`` / ``ellipsis_line_ratio`` — fraction of lines
      starting with a bullet / ending with an ellipsis (array ops over the
      line split, still row-local);
    - ``alpha_word_ratio`` — words containing at least one alphabetic char;
    - ``n_gopher_stopwords`` — distinct hits among Gopher's 8 stopwords.
    """
    t = F.col(text_col)
    words = tokens(t)
    n_words = F.size(words)
    n_nospace = F.length(F.regexp_replace(t, r"\s", ""))
    n_symbols = F.size(F.regexp_extract_all(t, F.lit(r"#|\.\.\."), 0))
    lines = F.filter(
        F.transform(F.split(t, r"\n"), lambda l: F.trim(l)), lambda l: l != ""
    )
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^[-*•]")))
    n_ellipsis = F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.$")))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(
        F.array_intersect(F.array_distinct(tokens(F.lower(t))), stop_arr)
    )
    return df.select(
        id_col,
        n_words.alias("n_words"),
        F.try_divide(n_nospace, n_words).alias("mean_word_len"),
        F.try_divide(n_symbols, n_words).alias("symbol_word_ratio"),
        F.coalesce(F.try_divide(n_bullet, n_lines), F.lit(0.0)).alias(
            "bullet_line_ratio"
        ),
        F.coalesce(F.try_divide(n_ellipsis, n_lines), F.lit(0.0)).alias(
            "ellipsis_line_ratio"
        ),
        F.try_divide(n_alpha, n_words).alias("alpha_word_ratio"),
        n_stop.alias("n_gopher_stopwords"),
    )


# Published bounds (Rae et al. 2021 table A1)
GOPHER_QUALITY_BOUNDS = {
    "n_words": (50, 100_000),
    "mean_word_len": (3.0, 10.0),
    "symbol_word_ratio_max": 0.1,
    "bullet_line_ratio_max": 0.9,
    "ellipsis_line_ratio_max": 0.3,
    "alpha_word_ratio_min": 0.8,
    "min_gopher_stopwords": 2,
}


def gopher_quality_filter(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, keep) at the published Gopher quality bounds; combine with
    :func:`gopher_repetition_filter` for the full rule set."""
    b = GOPHER_QUALITY_BOUNDS
    f = gopher_quality_features(df, text_col, id_col)
    keep = (
        F.col("n_words").between(*b["n_words"])
        & F.col("mean_word_len").between(*b["mean_word_len"])
        & (F.col("symbol_word_ratio") <= b["symbol_word_ratio_max"])
        & (F.col("bullet_line_ratio") <= b["bullet_line_ratio_max"])
        & (F.col("ellipsis_line_ratio") <= b["ellipsis_line_ratio_max"])
        & (F.col("alpha_word_ratio") >= b["alpha_word_ratio_min"])
        & (F.col("n_gopher_stopwords") >= b["min_gopher_stopwords"])
    )
    return f.select(id_col, F.coalesce(keep, F.lit(False)).alias("keep"))


# PII patterns: Java-regex forms that DuckDB's RE2 also accepts (no
# lookaround, no backrefs); ordered so longer structures match before their
# substrings (email before the bare domain, ipv4 before phone-ish digit
# groups). The phone pattern requires PHONE-SHAPED structure — either an
# international "+" prefix or NANP 3-3-4 grouping with real separators —
# precisely so dates ("2024-01-01"), timestamps ("12:30"), year ranges
# ("2010 - 2019"), ISBNs, and bare ID digit runs survive scrubbing (the r3
# verdict's over-redaction bug: the old pattern ate any 9+-char digit run).
# Deliberate non-match: a separator-free 10-digit run ("5551234567") is
# indistinguishable from an ID and is left alone.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    (
        "phone",
        r"\+[0-9]{1,3}[ .-]?\(?[0-9]{1,4}\)?[ .-]?[0-9]{2,4}[ .-]?[0-9]{2,4}"
        r"|\(?\b[0-9]{3}\)?[ .-][0-9]{3}[ .-][0-9]{4}\b",
    ),
)


# (pattern, replacement) chain for corpus text normalization — each is a
# row-local regexp_replace both engines replay identically
NORMALIZE_RULES: tuple[tuple[str, str], ...] = (
    # C0 control chars (except \t \n \r) + DEL → space
    (r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", " "),
    # CRLF / bare CR → LF
    (r"\r\n?", "\n"),
    # runs of spaces/tabs → one space
    (r"[ \t]+", " "),
    # trailing spaces before a newline
    (r" \n", "\n"),
    # 3+ blank lines → one blank line
    (r"\n{3,}", "\n\n"),
)


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    lowercase: bool = False,
    rules: tuple[tuple[str, str], ...] = NORMALIZE_RULES,
) -> DataFrame:
    """Corpus text normalization in place: strip control characters,
    canonicalize newlines, collapse whitespace runs and blank-line stacks,
    trim. A chain of JVM ``regexp_replace`` — codegen'd, row-local, zero
    shuffle; the canonical first step before digest-based dedup (two docs
    differing only in line endings or trailing spaces must collide)."""
    out = F.col(text_col)
    for pat, repl in rules:
        out = F.regexp_replace(out, pat, repl)
    out = F.trim(out)
    if lowercase:
        out = F.lower(out)
    return df.withColumn(text_col, out)


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    replacement: str = "[{kind}]",
    patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
) -> DataFrame:
    """Redact PII spans in place: each pattern is replaced by
    ``replacement.format(kind=name)`` (default ``[email]``/``[ipv4]``/
    ``[phone]``). A chain of JVM ``regexp_replace`` — codegen'd, row-local,
    zero shuffles; at 100 TB this costs one scan. Pattern order matters:
    structures are redacted before their substrings can match."""
    out = F.col(text_col)
    for kind, pat in patterns:
        out = F.regexp_replace(out, pat, replacement.format(kind=kind))
    return df.withColumn(text_col, out)


def token_percentiles(
    df: DataFrame,
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    stratum_col: str = "source",
    text_col: str = "text",
    bpe: bool = True,
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-stratum token-count percentiles → (stratum, p50, p90, ...).

    Default is ``approx_percentile`` — the 100 TB path: a mergeable
    KLL-style sketch with bounded memory per group, regardless of group
    size. ``exact=True`` switches to exact interpolated ``percentile``,
    which buffers every group value in executor memory — correct for
    profiling samples and oracle checks, an OOM at corpus scale with few
    strata. ``accuracy`` trades sketch memory for error (1/accuracy
    relative rank error)."""
    n = token_count(F.col(text_col), bpe=bpe).cast("double")
    if exact:
        aggs = [
            F.percentile("_n", F.lit(p)).alias(f"p{int(p * 100)}")
            for p in percentiles
        ]
    else:
        aggs = [
            F.approx_percentile("_n", F.lit(p), F.lit(accuracy)).alias(
                f"p{int(p * 100)}"
            )
            for p in percentiles
        ]
    return df.select(stratum_col, n.alias("_n")).groupBy(stratum_col).agg(*aggs)


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ngram_ns: tuple[int, ...] = (2, 3, 4),
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    §A1.1 "repetitious documents"), the standard pre-training quality gate:

    - ``n_lines`` — non-empty (after trim) line count;
    - ``dup_line_ratio`` — ``1 - distinct_lines / n_lines``;
    - ``dup_line_char_ratio`` — characters on the 2nd+ occurrence of a
      repeated line, over all line characters;
    - ``top{n}gram_char_ratio`` — characters covered by the single most
      frequent word n-gram (occurrences × n-gram length, over text length);
      ties break to the lexicographically largest n-gram (deterministic).

    NULL, empty and whitespace-only text read 0 on every signal. Each row
    is one document: two rows sharing an id keep their own values.

    Shape: one row-local projection. Each document sorts its own n-grams
    in place, O(L log L) in its token count L, and nothing is shuffled: a
    relational form (explode every line and n-gram, group by id, join
    back) moves ~3× the corpus's token count through exchanges to compute
    the same per-document values.
    """
    rep = expr_over(text_col, lambda t: _repetition_sql(t, top_ngram_ns))
    return df.select(F.col(ident(id_col)), rep.alias("_rep")).select(
        ident(id_col), "_rep.*"
    )


def _repetition_sql(t: str, top_ngram_ns) -> str:
    """SQL text of the :func:`repetition_features` struct over the text
    expression ``t``.

    Lines and lower-cased tokens are let-bound once per document (a lambda
    that referenced the split itself would re-run it per element). Each
    n-gram array is sorted, and one run-length ``aggregate`` keeps the
    greatest ``(count, gram)``, as ``max(struct(cnt, gram))`` over a
    group-by would: the top count, ties to the larger gram."""
    strs = "CAST(array() AS ARRAY<STRING>)"
    lines = (
        f"coalesce(filter(transform(split({t}, {_NL}), l -> trim(l)), "
        f"l -> l != ''), {strs})"
    )
    toks = f"coalesce({tokens_sql(f'lower({t})')}, {strs})"

    def chars(a: str) -> str:
        return f"aggregate({a}, 0L, (s, l) -> s + length(l))"

    def top_chars(n: int) -> str:
        # guard: sequence(1, stop) with stop < 1 yields a DESCENDING [1, 0],
        # not an empty array — short docs must produce zero n-grams instead
        grams = (
            f"CASE WHEN size(d.toks) >= {n} THEN transform("
            f"sequence(1, size(d.toks) - {n - 1}), "
            f"i -> concat_ws(' ', slice(d.toks, i, {n}))) ELSE {strs} END"
        )
        run = "named_struct('c', s.c, 'g', s.g)"
        return (
            f"aggregate(sort_array({grams}), "
            "named_struct('g', '', 'c', 0L, 'top', named_struct('c', 0L, 'g', '')), "
            "(s, x) -> IF(x = s.g, named_struct('g', x, 'c', s.c + 1, 'top', s.top), "
            f"named_struct('g', x, 'c', 1L, 'top', greatest(s.top, {run}))), "
            f"s -> transform(array(greatest(s.top, {run})), m -> m.c * length(m.g))[0])"
        )

    fields = [
        "'n_lines', CAST(size(d.lines) AS BIGINT)",
        "'dup_line_ratio', "
        "coalesce(1 - try_divide(size(u.lines), size(d.lines)), 0.0D)",
        "'dup_line_char_ratio', "
        f"coalesce(try_divide(u.chars - {chars('u.lines')}, u.chars), 0.0D)",
        *[
            f"'top{n}gram_char_ratio', "
            f"coalesce(try_divide({top_chars(n)}, d.len), 0.0D)"
            for n in (int(n) for n in top_ngram_ns)
        ],
    ]
    distinct = (
        f"named_struct('lines', array_distinct(d.lines), 'chars', {chars('d.lines')})"
    )
    return (
        f"transform(array(named_struct('lines', {lines}, 'toks', {toks}, "
        f"'len', length({t}))), d -> transform(array({distinct}), "
        f"u -> named_struct({', '.join(fields)}))[0])[0]"
    )


# Published Gopher thresholds (Rae et al. 2021, table A1): a document is
# repetitious if ANY signal exceeds its bound.
GOPHER_REPETITION_THRESHOLDS = {
    "dup_line_ratio": 0.30,
    "dup_line_char_ratio": 0.20,
    "top2gram_char_ratio": 0.20,
    "top3gram_char_ratio": 0.18,
    "top4gram_char_ratio": 0.16,
}


def gopher_repetition_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """(id, keep) per document: keep = no repetition signal over threshold.
    Filter-style counterpart of :func:`repetition_features`; one
    projection of :func:`repetition_keep`."""
    keep = repetition_keep(text_col, thresholds)
    return df.select(F.col(ident(id_col)), keep.alias("keep"))


def repetition_keep(
    text: ColumnOrName, thresholds: dict[str, float] | None = None
) -> Column:
    """BOOLEAN column: no :func:`repetition_features` signal of ``text``
    is over its bound (default :data:`GOPHER_REPETITION_THRESHOLDS`)."""
    th = dict(GOPHER_REPETITION_THRESHOLDS if thresholds is None else thresholds)
    # parenthesized left-deep: the parser balances a flat chain of ANDs
    cond = "true"
    for name, bound in th.items():
        cond = f"({cond} AND r.{ident(name)} <= {literal(bound)})"
    return expr_over(
        text,
        lambda t: f"transform(array({_repetition_sql(t, (2, 3, 4))}), r -> {cond})[0]",
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    keep: int = 8,
    hash_fn: str = "xxhash64",
    exploded: bool = False,
) -> DataFrame:
    """Winnowing-style robust fingerprint: hash all character k-grams, keep
    the ``keep`` smallest hashes (a deterministic min-sketch of content that
    survives small edits) → (id, fingerprints ARRAY<BIGINT>), or — with
    ``exploded=True`` — one (id, fingerprint) row per kept hash (the shape
    downstream joins and the correctness harness consume).

    ``hash_fn="md5_60"`` swaps xxhash64 for the cross-engine md5-based hash
    (:mod:`spark_timeseries_spark.functions.hashing`) so a DuckDB oracle can
    reproduce the exact fingerprints. Documents shorter than ``k`` characters
    produce no fingerprints."""
    from spark_timeseries_spark.functions import hashed

    # let-bind the normalized text: capturing the regexp_replace expression
    # in the k-gram lambda would re-run the regex once PER CHARACTER
    # (interpreted HOF), i.e. O(len²) per document — measured 8× slower.
    hashes = let(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "),
        lambda t: F.when(
            F.length(t) >= k,
            F.transform(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.length(t) - k),
                        lambda i: t.substr(i + 1, F.lit(k)),
                    )
                ),
                lambda g: hashed(g, hash_fn),
            ),
        ).otherwise(F.array().cast("array<bigint>")),
    )
    out = df.select(
        id_col, F.slice(F.array_sort(hashes), 1, keep).alias("fingerprints")
    )
    if exploded:
        return out.select(id_col, F.explode("fingerprints").alias("fingerprint"))
    return out


# ---------------------------------------------------------------------------
# blocklist / URL hygiene gates
# ---------------------------------------------------------------------------


def _blocklist_pattern(phrases: list[str], word_boundary: bool = True) -> str:
    """One alternation regex for the whole list — a single codegen'd scan
    per document instead of |phrases| passes. Case-insensitive; phrases
    are literal-escaped; word-bounded by default so 'ass' does not hit
    'class' (the classic C4 bad-word false positive)."""
    import re as _re

    if not phrases:
        raise ValueError("empty blocklist")
    alts = "|".join(_re.escape(p.lower()) for p in sorted(phrases))
    core = f"(?:{alts})"
    # \b anchors require a word character on the inside: a phrase ENDING
    # in a symbol ('c++') followed by a space has no boundary there and
    # will never match word-bounded — pass word_boundary=False for
    # symbol-bearing phrase lists (same caveat as any \b-based blocklist)
    return rf"(?i)\b{core}\b" if word_boundary else f"(?i){core}"


def phrase_blocklist(
    df: DataFrame,
    phrases: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "drop",
    word_boundary: bool = True,
) -> DataFrame:
    """C4-style blocked-phrase gate (Raffel et al. 2020 drop any document
    containing a "List of Dirty, Naughty …" entry). ``mode="drop"``
    filters; ``mode="flag"`` appends (blocked BOOLEAN, n_blocked INT) for
    audit pipelines. Row-local single-regex scan — no join, no shuffle;
    the phrase list compiles into the expression, so at 100 TB this is
    exactly as expensive as any other filter."""
    pat = _blocklist_pattern(phrases, word_boundary)
    hits = F.regexp_count(F.col(text_col), F.lit(pat))
    if mode == "drop":
        return df.where(hits == 0)
    if mode == "flag":
        return df.withColumn("n_blocked", hits.cast("int")).withColumn(
            "blocked", F.col("n_blocked") > 0
        )
    raise ValueError(f"unknown mode {mode!r}")


_URL_RE = r"https?://[^\s]+"
_DOMAIN_RE = r"https?://([^/\s:]+)"


def url_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_urls, domains) — URL count and the DISTINCT, sorted domain
    list per document. Row-local regex extraction (no explode, no
    shuffle): the domain list is a HOF transform over the matched URLs."""
    urls = F.regexp_extract_all(F.col(text_col), F.lit(_URL_RE), 0)
    domains = F.array_sort(
        F.array_distinct(
            F.transform(
                urls,
                lambda u: F.lower(F.regexp_extract(u, _DOMAIN_RE, 1)),
            )
        )
    )
    return df.select(
        F.col(id_col),
        F.size(urls).alias("n_urls"),
        domains.alias("domains"),
    )


def domain_blocklist(
    df: DataFrame,
    blocked: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop documents linking to any blocked domain (exact host match on
    the extracted domain list). The block set compiles into a literal
    array — membership via ``arrays_overlap`` computed inline on the text
    column: a pure filter, zero shuffles, zero joins."""
    urls = F.regexp_extract_all(F.col(text_col), F.lit(_URL_RE), 0)
    domains = F.transform(
        urls, lambda u: F.lower(F.regexp_extract(u, _DOMAIN_RE, 1))
    )
    bad = F.array(*[F.lit(d.lower()) for d in sorted(set(blocked))])
    return df.where(~F.arrays_overlap(domains, bad))


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """(id, raw_bytes, zlib_bytes, compression_ratio) — the zlib
    compressibility quality signal (highly compressible ⇒ repetitive/
    templated text; used by Gopher-era and RedPajama-era filters alongside
    the explicit repetition rules); one projection of
    :func:`compression_sizes`."""
    sized = df.select(id_col, compression_sizes(text_col, level).alias("_s"))
    return sized.select(ident(id_col), "_s.*")


def compression_sizes(text: ColumnOrName, level: int = 6) -> Column:
    """struct<raw_bytes, zlib_bytes, compression_ratio> of ``text`` (a
    Column or a column name). Ratio is zlib_bytes/raw_bytes over UTF-8;
    empty or NULL text reports NULL ratio.

    This is one of the few deliberately-Python operators in the pipeline:
    Spark has no JVM compression EXPRESSION (codecs exist only at the
    storage layer), so the rule drops to an Arrow-batched pandas UDF —
    row-local, no shuffle, and the batch boundary is the only Python
    crossing."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _sizes_fn(texts):
        import zlib

        raw, comp = [], []
        for t in texts:
            b = (t or "").encode("utf-8")
            raw.append(len(b))
            comp.append(len(zlib.compress(b, level)))
        out = pd.DataFrame({"raw_bytes": raw, "zlib_bytes": comp})
        # empty text: NaN, which Arrow sends as a NULL ratio
        nonempty = out.raw_bytes.where(out.raw_bytes > 0)
        out["compression_ratio"] = out.zlib_bytes / nonempty
        return out

    return pandas_udf(
        _sizes_fn,
        "struct<raw_bytes: long, zlib_bytes: long, compression_ratio: double>",
    )(text)


def readability(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease per document → (id, n_sents, n_words,
    n_syllables, flesch) — the classic quality prior (Flesch 1948;
    Kincaid et al. 1975 use the same counts) a pretraining filter stacks
    next to :func:`gopher_quality_filter`'s heuristics.

    Deterministic counting rules (regex-replayable in any RE2/Java
    engine — no dictionary, no hyphenation):

    - sentences  = runs of terminators ``[.!?]+``, floor 1 (a fragment
      with no terminator is one sentence);
    - words      = whitespace tokens (:func:`tokens`, blank text → 0);
    - syllables  = vowel-group runs ``[aeiouy]+`` over the lowercased
      text, plus one for every vowel-less word (``"7"``, ``"hmm"`` —
      every spoken word has at least one syllable).

    ``flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    words)``; NULL for wordless documents. All counts are single-pass
    JVM regex expressions over the text column — no explode, no shuffle
    beyond the scan."""
    text = F.col(text_col)
    low = F.lower(text)
    toks = F.filter(tokens(low), lambda t: t != F.lit(""))
    n_words = F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(toks)
    )
    n_sents = F.greatest(
        F.regexp_count(text, F.lit(r"[.!?]+")), F.lit(1)
    )
    vowelless = F.size(
        F.filter(toks, lambda t: t.rlike(r"^[^aeiouy]*$"))
    )
    n_syll = F.regexp_count(low, F.lit(r"[aeiouy]+")) + F.greatest(
        vowelless, F.lit(0)
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sents)
        - F.lit(84.6) * (n_syll.cast("double") / n_words)
    )
    return df.select(
        F.col(id_col),
        n_sents.cast("bigint").alias("n_sents"),
        n_words.cast("bigint").alias("n_words"),
        n_syll.cast("bigint").alias("n_syllables"),
        F.when(n_words > 0, flesch).alias("flesch"),
    )


def tokenizer_fertility(
    df: DataFrame,
    stratum_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum tokenizer efficiency profile → (stratum, n_docs,
    words, tokens, chars, fertility, chars_per_token): fertility =
    BPE-ish tokens per whitespace word (the multilingual-tokenizer
    budget metric — a stratum with fertility 2× the corpus mean pays 2×
    the sequence length for the same text), chars_per_token = the
    compression ratio (chars per token ≈ bytes per token on mostly-
    ASCII corpora). NULL ratios on empty strata (try_divide). ONE
    map-side-combinable aggregate over one scan — a word-count at
    100 TB."""
    t = F.col(text_col)
    agg = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(t, bpe=False).cast("long")).alias("words"),
        F.sum(token_count(t, bpe=True).cast("long")).alias("tokens"),
        F.sum(F.length(t).cast("long")).alias("chars"),
    )
    return agg.select(
        stratum_col, "n_docs", "words", "tokens", "chars",
        F.try_divide(
            F.col("tokens").cast("double"), F.col("words").cast("double")
        ).alias("fertility"),
        F.try_divide(
            F.col("chars").cast("double"), F.col("tokens").cast("double")
        ).alias("chars_per_token"),
    )


def stylometric_delta(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
    group_col: str = "source",
    lowercase: bool = True,
) -> DataFrame:
    """Burrows' Delta between every pair of corpus groups → (group_a,
    group_b, n_words, delta) for group_a < group_b: the mean absolute
    difference of the groups' z-scored relative frequencies over the
    corpus's ``k`` most frequent words (Burrows 2002, the standard
    stylometric / register distance) — a cheap "are these sources the
    same kind of text?" matrix for mixture design; the pairwise
    companion of the per-group profile operators. Conventions: words by
    corpus-total frequency, ties broken alphabetically; a group missing
    a top-k word contributes frequency 0; z-scores use the SAMPLE std
    across groups (words with zero dispersion drop out of the mean —
    try_divide NULLs, stated).

    Plan: one token-stream groupBy(group, word) (word-count shape),
    a k-row broadcast-sized top-k list densified by group × word cross
    join, then the pair join over GROUPS — bounded by the group count
    (a mixture has tens of sources, not millions; the named-pair
    precedent). No second corpus scan."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    toks = df.select(
        F.col(group_col).alias("grp"), F.explode(tokens(t)).alias("w")
    ).where(F.col("w") != "")
    gw = toks.groupBy("grp", "w").agg(F.count(F.lit(1)).alias("c"))
    gtot = gw.groupBy("grp").agg(F.sum("c").alias("gt"))
    topk = (
        gw.groupBy("w").agg(F.sum("c").alias("ct"))
        .orderBy(F.desc("ct"), F.asc("w"))
        .limit(k)
        .select("w")
    )
    dense = (
        gtot.crossJoin(F.broadcast(topk))
        .join(gw, ["grp", "w"], "left")
        .select(
            "grp", "w",
            (F.coalesce("c", F.lit(0)).cast("double")
             / F.col("gt").cast("double")).alias("f"),
        )
    )
    ww = Window.partitionBy("w")
    z = dense.select(
        "grp", "w",
        F.try_divide(
            F.col("f") - F.avg("f").over(ww), F.stddev_samp("f").over(ww)
        ).alias("z"),
    )
    a = z.select(F.col("grp").alias("group_a"), "w", F.col("z").alias("za"))
    b = z.select(F.col("grp").alias("group_b"), "w", F.col("z").alias("zb"))
    pairs = a.join(b, "w").where(F.col("group_a") < F.col("group_b"))
    return pairs.groupBy("group_a", "group_b").agg(
        F.count(F.when(F.col("za").isNotNull(), 1)).alias("n_words"),
        F.avg(F.abs(F.col("za") - F.col("zb"))).alias("delta"),
    )


CODE_KEYWORDS = (
    "def ", "return", "import ", "function", "class ",
    "void ", "#include", "const ",
)


def code_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Code-vs-prose detection per document → (id, n_lines,
    indent_ratio, eol_ratio, symbol_ratio, kw_hits, code_score,
    is_code). A training-data mixer needs to KNOW which documents are
    source code (to route them to a code bucket or a code-specific
    cleaning cascade); this is the cheap structural detector:

    - ``indent_ratio``: lines starting with 4 spaces or a tab (block
      structure) / n_lines.
    - ``eol_ratio``: lines whose last non-space character is ``;``,
      ``{`` or ``}`` (statement/brace endings) / n_lines.
    - ``symbol_ratio``: density of ``{}[]();=<>`` characters over all
      characters (NULL for empty text — try_divide).
    - ``kw_hits``: how many of the eight :data:`CODE_KEYWORDS` appear
      as LITERAL substrings (deterministic across engines — no regex
      word boundaries; "classic" matching "class " is excluded by the
      trailing space, "returned" matching "return" is accepted, a
      stated trade for exact cross-engine parity).
    - ``code_score`` = indent_ratio + eol_ratio + min(5·symbol_ratio,
      1) + min(kw_hits/4, 1) — four [0, 1] components, so ∈ [0, 4];
      ``is_code`` = score ≥ 1.0 (one maxed component or a broad mix).
      Weights are a stated heuristic, not fitted; tune on a labeled
      sample downstream.

    Plan: one row-local projection — no shuffle, no Python, whole-stage
    codegen; the split/filter lambdas run per line, linear in text
    size."""
    t = F.col(text_col)
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    indent = F.size(F.filter(lines, lambda l: l.rlike(r"^(    |\t)")))
    eol = F.size(F.filter(lines, lambda l: l.rlike(r"[;{}]\s*$")))
    n_sym = F.length(t) - F.length(
        F.regexp_replace(t, r"[{}\[\]();=<>]", "")
    )
    kw = sum(
        (F.contains(t, F.lit(k))).cast("int") for k in CODE_KEYWORDS
    )
    score = (
        indent / n_lines
        + eol / n_lines
        + F.least(5.0 * F.coalesce(F.try_divide(n_sym, F.length(t)),
                                   F.lit(0.0)), F.lit(1.0))
        + F.least(kw / 4.0, F.lit(1.0))
    )
    return df.select(
        id_col,
        n_lines.alias("n_lines"),
        (indent / n_lines).alias("indent_ratio"),
        (eol / n_lines).alias("eol_ratio"),
        F.try_divide(n_sym, F.length(t)).alias("symbol_ratio"),
        kw.alias("kw_hits"),
        score.alias("code_score"),
        (score >= 1.0).alias("is_code"),
    )


def quality_token_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    deciles: int = 10,
) -> DataFrame:
    """Token-budget planning curve → one row per quality decile d =
    1..``deciles`` (1 = best): (decile, n_docs, score_floor,
    cum_tokens, token_frac). Documents are ranked by
    :func:`quality_score_col` DESC (ties broken by ``id_col`` ASC —
    deterministic), cut into equal-count deciles, and the running
    token total reported at each decile's end: "keep the top-d
    deciles by quality → this many tokens". The data-mixing question
    every budgeted pretraining run asks, answered in one pass;
    ``score_floor`` is the decile's minimum score (the threshold that
    realizes the cut).

    Plan: one scoring projection + one ntile/cumsum window on a
    single (score, id) sort + one decile aggregate — no join, no
    Python. The single-task global sort is the stated trade for exact
    deciles at diagnostic scale; at corpus scale swap the ntile for
    approx_percentile score cuts (the ``embedding_dim_stats``
    sketch-path precedent)."""
    if deciles < 2:
        raise ValueError(f"deciles must be >= 2, got {deciles}")
    scored = df.select(
        F.col(id_col).alias("_id"),
        quality_score_col(text_col).alias("_q"),
        token_count(F.col(text_col)).alias("_t"),
    ).where(F.col("_q").isNotNull())
    wo = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("_q"), F.asc("_id")
    )
    wall = Window.partitionBy(F.lit(1))
    d = (
        scored.withColumn("decile", F.ntile(deciles).over(wo))
        .withColumn("_cum", F.sum("_t").over(wo))
        .withColumn("_tot", F.sum("_t").over(wall))
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("_q").alias("score_floor"),
        F.max("_cum").alias("cum_tokens"),
        F.first("_tot").alias("_tot"),
    )
    return g.select(
        "decile", "n_docs", "score_floor", "cum_tokens",
        F.try_divide(
            F.col("cum_tokens").cast("double"),
            F.col("_tot").cast("double"),
        ).alias("token_frac"),
    )
