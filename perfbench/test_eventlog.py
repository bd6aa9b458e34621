"""Counter extraction from Spark's event log.

    python3 -m pytest perfbench -q
"""

import glob
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import eventlog  # noqa: E402
import run  # noqa: E402


def _task(stage, ms, reason="Success", python_ms=None):
    acc = [] if python_ms is None else [{"Name": eventlog.PYTHON_RUN, "Update": python_ms}]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms,
                      "Failed": reason != "Success", "Accumulables": acc},
        "Task Metrics": {
            "Executor CPU Time": 2_000_000, "JVM GC Time": 1,
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Read Metrics": {"Fetch Wait Time": 3},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
        },
    }


def _job(job, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Stage IDs": stages, "Properties": props}


def test_counters_from_synthetic_events():
    events = [
        _job(0, [0], "a"),
        *[_task(0, ms) for ms in (10, 10, 10, 40)],
        _job(1, [1, 2], "b"),
        _task(1, 5, python_ms=7),
        _task(2, 5, reason="ExceptionFailure"),
        _job(2, [3]),
        _task(3, 1),
    ]
    g = eventlog.counters_by_group(events)
    assert set(g) == {"a", "b", ""}
    assert (g["a"]["jobs"], g["a"]["tasks"], g["a"]["task_skew"]) == (1, 4, 4.0)
    assert (g["a"]["input_bytes"], g["a"]["shuffle_bytes"]) == (400, 40)
    assert (g["a"]["jvm_cpu_ms"], g["a"]["gc_ms"], g["a"]["fetch_wait_ms"]) == (8, 4, 12)
    assert (g["b"]["jobs"], g["b"]["tasks"], g["b"]["failed_tasks"]) == (1, 2, 1)
    assert g["b"]["python_run_ms"] == 7
    assert g["b"]["task_skew"] == 1.0  # single-task stages have no skew
    assert (g[""]["jobs"], g[""]["tasks"]) == (1, 1)


@pytest.fixture(scope="module")
def events(tmp_path_factory):
    """Events of one real session: a 4-partition ``spark.range`` job under
    group ``range``, a pandas UDF under ``udf``, a filter keeping 100 of
    1,000 rows under ``filter``, and the library's MinHash dedup of one
    near-duplicate pair (Jaccard 18/19) at thresholds 0.8 and 0.99 under
    ``dedup_loose`` and ``dedup_strict``."""
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    from spark_timeseries_spark.pipeline import dedup

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )

    @pandas_udf("long")
    def slow_inc(s):
        time.sleep(0.05)
        return s + 1

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    words = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(words[:20])),
            (2, " ".join(words[:20]) + " extra"),
            (3, " ".join(words[20:])),
        ],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    try:
        sc.setJobGroup("range", "range")
        noop(spark.range(0, 1000, 1, 4))
        sc.setJobGroup("udf", "udf")
        noop(spark.range(0, 100, 1, 2).select(slow_inc("id")))
        sc.setJobGroup("filter", "filter")
        noop(spark.range(0, 1000, 1, 4).where("id % 10 = 0"))
        for group, threshold in (("dedup_loose", 0.8), ("dedup_strict", 0.99)):
            sc.setJobGroup(group, group)
            noop(dedup.dedup_minhash_lsh(docs, threshold=threshold))
    finally:
        spark.catalog.clearCache()
        spark.stop()
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    return list(eventlog.read_events(path))


@pytest.fixture(scope="module")
def groups(events):
    return eventlog.counters_by_group(events)


def test_range_job_counts(groups):
    assert groups["range"]["jobs"] == 1
    assert groups["range"]["tasks"] == 4
    assert groups["range"]["failed_tasks"] == 0
    assert groups["range"]["python_run_ms"] == 0


def test_pandas_udf_python_time(groups):
    assert groups["udf"]["jobs"] == 1
    assert groups["udf"]["tasks"] == 2
    assert groups["udf"]["python_run_ms"] > 0


def test_plan_rows_per_group(events):
    def filters(plan):
        return [n for n in eventlog.plan_nodes(plan) if n["nodeName"] == "Filter"]

    assert eventlog.plan_rows(events, filters)["filter"] == 100


def test_dedup_candidates_and_verified_pairs(events):
    candidates = eventlog.plan_rows(events, run.lsh_candidates)
    verified = eventlog.plan_rows(events, run.jaccard_threshold)
    assert (candidates["dedup_loose"], verified["dedup_loose"]) == (1, 1)
    assert (candidates["dedup_strict"], verified.get("dedup_strict", 0)) == (1, 0)
