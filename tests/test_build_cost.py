"""Driver build cost of the corpus builders, pinned in py4j commands.

Under PySpark 4.1 every Column method and ``F.col`` call sends several
py4j commands to capture its call site, so a builder that makes hundreds
of Column calls spends its build time on the gateway. The dedup and clean
builders parse their wide expressions as SQL text instead
(``functions/sqltext.py``). These budgets hold that: a builder that goes
back to per-element Column calls multiplies its count. Nothing is
executed, and the count (GC deletes excluded) repeats exactly from run to
run, so the budgets are not timings.
"""

import pytest

from spark_timeseries_spark.pipeline import clean, dedup
from tools.build_cost import py4j_commands


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"the cat sat on the mat {i} and it was the end") for i in range(20)],
        "doc_id long, text string",
    )


def _commands(spark, build) -> int:
    """Non-GC py4j commands of a second ``build()``: the first pays the
    one-time imports and JVM class lookups."""
    build()
    with py4j_commands(spark) as count:
        build()
    spark.catalog.clearCache()
    return count.n


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5_60"])
def test_dedup_minhash_lsh_build_budget(spark, docs, hash_fn):
    # was 6,554 (xxhash64) and 8,762 (md5_60) with per-seed Column aggregates
    n = _commands(
        spark, lambda: dedup.dedup_minhash_lsh(docs, threshold=0.8, hash_fn=hash_fn)
    )
    assert n <= 600, n


def test_minhash_signatures_oph_build_budget(spark, docs):
    # was 4,806 with 64 aliased aggregates and a Column-API densify
    sets = dedup.shingle_sets(docs).withColumnRenamed("id", "doc_id")
    n = _commands(spark, lambda: dedup.minhash_signatures_oph(sets))
    assert n <= 100, n


def test_pretrain_clean_build_budget(spark, docs):
    # corpus_chain's arguments; was 2,909, then 435 with the repetition
    # gate as explode/groupBy/join passes, 158 as one row-local filter
    n = _commands(
        spark,
        lambda: clean.pretrain_clean(
            docs, min_quality=0.0, min_compression_ratio=0.05,
            persist_intermediate=True,
        ),
    )
    assert n <= 200, n


def test_sql_text_literals_match_f_lit(spark):
    """``literal`` parses to the value and type ``F.lit`` makes, for the
    strings a caller can pass (quotes, backslashes, control characters)."""
    from pyspark.sql import functions as F

    from spark_timeseries_spark.functions import literal

    values = ["it's", "a\\b", r"\s+", "\x01", "", True, 7, 2**40, 0.5, 1e-5,
              float("inf"), float("-inf"), -2.5]
    df = spark.range(1).select(
        *[F.expr(literal(v)).alias(f"s{i}") for i, v in enumerate(values)],
        *[F.lit(v).alias(f"c{i}") for i, v in enumerate(values)],
    )
    row = df.first()
    types = dict(df.dtypes)
    for i, v in enumerate(values):
        assert row[f"s{i}"] == v, (v, row[f"s{i}"])
        assert types[f"s{i}"] == types[f"c{i}"], v


def test_sql_hash_twins_match_column_hashes(spark):
    """``hashed_sql``/``hashed_with_seed_sql`` compute what the Column
    builders compute, NULL included."""
    from pyspark.sql import functions as F

    from spark_timeseries_spark.functions import (
        hashed,
        hashed_sql,
        hashed_with_seed,
        hashed_with_seed_sql,
    )

    df = spark.createDataFrame(
        [("a",), ("it's",), ("back\\slash",), ("ünï",), ("",), (None,)], "s string"
    )
    cols = []
    for fn in ("xxhash64", "md5_60", "oph"):
        cols += [F.expr(hashed_sql("s", fn)), hashed(F.col("s"), fn)]
    for fn in ("xxhash64", "md5_60"):
        for seed in (0, 7, 63):
            cols += [
                F.expr(hashed_with_seed_sql("s", seed, fn)),
                hashed_with_seed(F.col("s"), seed, fn),
            ]
    for row in df.select(*cols).collect():
        assert list(row[0::2]) == list(row[1::2])


def test_text_builders_take_a_column_or_a_name(spark):
    """A column name (quoted, so a space or a backtick is safe) and a
    Column give the same values from every builder that takes either."""
    from pyspark.sql import functions as F

    from spark_timeseries_spark.functions import ident
    from spark_timeseries_spark.pipeline import text

    name = "my `text`"
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it was the end"),
            (2, "der Hund und die Katze ist nicht da"),
            (3, "  "),
            (4, "ab"),
            (5, "Hello, world!!! ... ??"),
            (6, None),
        ],
        f"id long, {ident(name)} string",
    )
    builders = {
        "words": lambda t: dedup.shingles(t, 3),
        "chars": lambda t: dedup.shingles(t, 4, as_words=False),
        "lang": text.language_id,
        "quality": text.quality_score_col,
        **{
            f"score_{lang}": (lambda t, i=i: text.language_scores(t)[i][1])
            for i, lang in enumerate(text.LANG_LEXICONS)
        },
    }
    col = F.col(ident(name))
    by_col = df.select("id", *[b(col).alias(k) for k, b in builders.items()])
    by_name = df.select("id", *[b(name).alias(k) for k, b in builders.items()])
    assert sorted(by_col.collect()) == sorted(by_name.collect())
