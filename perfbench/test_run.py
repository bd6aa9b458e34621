"""Run isolation and digest comparison of the benchmark runner.

    python3 -m pytest perfbench -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_cached_dataframe_is_a_leak(spark):
    df = spark.range(10).persist()
    df.count()
    assert run.leftovers(spark) == ["cached DataFrames still registered after release"]
    assert _persisted(spark) == 0


def test_persisted_rdd_is_a_leak(spark):
    spark.sparkContext.range(10).persist().count()
    (problem,) = run.leftovers(spark)
    assert "still persisted" in problem
    assert _persisted(spark) == 0


def test_local_checkpoint_is_released_not_a_leak(spark):
    spark.range(10).localCheckpoint(eager=True)
    assert _persisted(spark) == 1
    assert run.leftovers(spark) == []
    assert _persisted(spark) == 0


def test_digest_mismatch():
    want = {"rows": 3, "param_sums": {"garch": 100.0}}
    assert run.digest_mismatch(want, {"rows": 3, "param_sums": {"garch": 100.05}}) == []
    assert len(run.digest_mismatch(want, {"rows": 3, "param_sums": {"garch": 101.0}})) == 1
    assert len(run.digest_mismatch(want, {"rows": 4, "param_sums": {"garch": 100.0}})) == 1
