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
  one wave.

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
    }))


if __name__ == "__main__":
    main()
