"""Driver build cost of every registry query: py4j commands and seconds.

Builds each ``__spark_entry__.queries()`` DataFrame WITHOUT executing it
(eager jobs inside a builder still run — they are part of its build cost)
and counts the py4j commands the driver sends meanwhile. GC deletes
(``m\\nd`` — Python telling the JVM it dropped a proxy) are not counted:
they follow garbage collection, not the builder. The count repeats
exactly from run to run, so unlike the seconds it does not move with box
load.

Prints one JSON line per query (``name``, ``commands``, ``build_s``)
and then the 20 costliest rows by command count.

Usage::

    python -m tools.build_cost [--sf DIR] [query ...]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``, the tests' data directory.
The session is local[4] with 4 shuffle partitions, like the tests'.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import time


class CommandCount:
    """Running count of the non-GC py4j commands sent while active."""

    n = 0


@contextlib.contextmanager
def py4j_commands(spark):
    """Count the py4j commands ``spark``'s driver sends inside the block.

    Wraps the shared gateway client's ``send_command``; every proxy (JVM
    objects, members, the ``jvm`` view) sends through that one client.
    """
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    count = CommandCount()

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            count.n += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield count
    finally:
        del client.send_command


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="scale-factor data dir (default $SPARK_GRAFT_SF_DIR)")
    args = ap.parse_args()
    if not args.sf:
        ap.error("pass --sf or set SPARK_GRAFT_SF_DIR")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("build-cost")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    rows = []
    for name, fn in entry.queries().items():
        if args.queries and name not in args.queries:
            continue
        t0 = time.perf_counter()
        with py4j_commands(spark) as count:
            fn(spark, args.sf)
        row = {
            "name": name,
            "commands": count.n,
            "build_s": round(time.perf_counter() - t0, 3),
        }
        rows.append(row)
        print(json.dumps(row), flush=True)
        spark.catalog.clearCache()

    total_c = sum(r["commands"] for r in rows)
    total_s = sum(r["build_s"] for r in rows)
    print(f"\n# {len(rows)} queries: {total_c} commands, {total_s:.1f} s build")
    print(f"{'query':<34}{'commands':>10}{'build_s':>10}")
    for r in sorted(rows, key=lambda r: -r["commands"])[:20]:
        print(f"{r['name']:<34}{r['commands']:>10}{r['build_s']:>10.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
