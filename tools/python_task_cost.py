"""Fixed cost of one Python task against one JVM task on this box.

Runs the same number of trivial one-row tasks twice on ``local[N]`` — once
as a JVM projection, once through ``mapInPandas`` with an identity
function — after one discarded warm-up of each (the Python worker daemon
and its workers are started and reused), and prints one JSON line:

- ``python_s`` / ``jvm_s``: median wall seconds of one job of ``tasks``
  tasks;
- ``waves``: ``ceil(tasks / cores)``, the rounds of tasks each job needs;
- ``python_ms_per_wave`` / ``jvm_ms_per_wave``: the fixed latency one
  round of tasks costs. Their difference is what every extra wave of a
  Python kernel stage pays, which is why ``parallel.map_groups`` runs in
  one wave;
- ``worker_zipimporters`` / ``worker_invalidate_caches_ms``, read inside
  one ``mapInPandas`` task: how many ``zipimport.zipimporter`` objects
  the worker's ``sys.path_importer_cache`` holds, and the milliseconds
  of one ``importlib.invalidate_caches()``. PySpark's
  ``setup_spark_files`` calls it at the start of every task, and on
  CPython 3.11 it re-reads the directory of each zip archive once per
  zipimporter of that archive (``pyspark.zip`` among them).

Usage::

    python -m tools.python_task_cost [--cores N] [--tasks 40] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import time


def _time(job, reps: int) -> float:
    job()  # warm-up: starts (or re-uses) the executors' workers
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        job()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def _worker_probe(batches):
    """One row read inside a Python task: the zipimporter count and the
    wall milliseconds of one ``importlib.invalidate_caches()``."""
    import importlib
    import sys
    import zipimport

    import pandas as pd

    for _ in batches:
        pass
    zips = sum(
        isinstance(f, zipimport.zipimporter)
        for f in sys.path_importer_cache.values()
    )
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    ms = 1000 * (time.perf_counter() - t0)
    yield pd.DataFrame({"zipimporters": [zips], "invalidate_ms": [ms]})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--tasks", type=int, default=40)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName("python-task-cost")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rows = spark.range(0, args.tasks, 1, args.tasks)

        def noop(df):
            return lambda: df.write.format("noop").mode("overwrite").save()

        jvm_s = _time(noop(rows.selectExpr("id + 1 AS id")), args.reps)
        python_s = _time(noop(rows.mapInPandas(lambda it: it, "id long")), args.reps)
        probe = spark.range(0, 1, 1, 1).mapInPandas(
            _worker_probe, "zipimporters long, invalidate_ms double"
        ).first()
    finally:
        spark.stop()
    waves = math.ceil(args.tasks / args.cores)
    print(json.dumps({
        "cores": args.cores,
        "tasks": args.tasks,
        "waves": waves,
        "python_s": round(python_s, 3),
        "jvm_s": round(jvm_s, 3),
        "python_ms_per_wave": round(1000 * python_s / waves, 1),
        "jvm_ms_per_wave": round(1000 * jvm_s / waves, 1),
        "worker_zipimporters": int(probe["zipimporters"]),
        "worker_invalidate_caches_ms": round(probe["invalidate_ms"], 1),
    }))


if __name__ == "__main__":
    main()
