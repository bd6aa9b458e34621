"""Contract tests for ``__spark_entry__`` — the driver-facing surface.

The driver's correctness harness canonicalizes each query's pandas frame
with ``sort_values`` over raw cells and hashes exact value
representations. Two structural properties must therefore hold for EVERY
``queries()`` entry (the r7 lessons — ``sq8_error`` crashed the driver on
an array column; a tolerant local checker masked it):

- no output column may be array/map/struct typed;
- every query with an oracle must share its exact column-name set with
  a ``SELECT``-able oracle (checked lightly here: the oracle string
  exists and is non-empty; full value parity is the check_correctness
  harness's job, run per-batch in strict mode).
"""

import os
import sys

import pytest
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

COMPLEX = (T.ArrayType, T.MapType, T.StructType)


def test_no_complex_output_columns(spark, sf_dir):
    """Build (don't execute) every query's DataFrame and assert no field
    is array/map/struct — the driver canonicalizer crash class."""
    offenders = {}
    for name, fn in entry.queries().items():
        df = fn(spark, sf_dir)
        bad = [f.name for f in df.schema.fields if isinstance(f.dataType, COMPLEX)]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"complex-typed output columns crash the driver harness: {offenders}"
    )


def test_every_query_has_oracle_or_documented_gap(spark):
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(oracles) <= set(qs), "oracle for a query that doesn't exist"
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), f"empty oracle for {name}"


def test_entry_returns_dataframe(spark):
    df = entry.entry(spark)
    assert df.columns  # stable, non-empty schema


def test_repetition_features_match_the_duckdb_replay(spark):
    """``repetition_features`` equals the oracle's DuckDB replay
    (``_rep_features_sql``) value for value on the edges the two write
    differently: max-count n-gram ties between grams of unequal length,
    space-padded repeated lines, empty, whitespace-only and NULL text,
    documents shorter than n, and single-line documents."""
    import duckdb
    import pandas as pd

    from spark_timeseries_spark.pipeline.text import repetition_features

    docs = [
        (0, "a b a b zzz yyy zzz yyy"),            # 2-gram tie: "zzz yyy" wins
        (1, "ccc ddd x ccc ddd y ee ff ee ff"),     # tie at 2, longer gram wins
        (2, "q r s q r s"),                         # 3-gram tie with itself
        (3, "  same line  \nsame line\n same line \nother text"),
        (4, ""),
        (5, "   "),
        (6, None),
        (7, "hi"),
        (8, "hi there"),                            # shorter than 3 and 4
        (9, "one single line with the the words"),
        (10, "The the THE tHe\n\n\nthe THE"),         # case folds, blank lines
        (11, "b a\nb a\na b"),
    ]
    ns = (2, 3, 4)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    feats = repetition_features(df, top_ngram_ns=ns)
    got = {r.doc_id: tuple(r) for r in feats.collect()}

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    cols = ["doc_id", "n_lines", "dup_line_ratio", "dup_line_char_ratio",
            *[f"top{n}gram_char_ratio" for n in ns]]
    want = {
        int(r[0]): (int(r[0]), int(r[1]), *map(float, r[2:]))
        for r in con.execute(
            entry._rep_features_sql(ns) + f" SELECT {', '.join(cols)} FROM rep"
        ).fetchall()
    }
    con.close()
    assert got == want
